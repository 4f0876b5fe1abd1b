package graft.rel

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A relation: a heading plus an unordered SET of distinct tuples.
  *
  * Mirrors the reference's `DataTableLocal` contract ("a heading and unordered
  * rows of data ... no duplicates", Andl.Runtime/DataTableLocal.cs:19-27) on
  * top of a lazy Spark `DataFrame`.
  *
  * Design for scale: instead of eagerly deduplicating after every operator
  * (correct but ruinous at 100 TB — every `.distinct()` is a full shuffle),
  * `Rel` carries a `knownDistinct` bit and inserts `Deduplicate` only at the
  * points where bag/set semantics actually diverge:
  *
  *   - consumers that require a set (count, set ops, equality, aggregation
  *     inputs, final output) call [[df]], which dedups only if needed;
  *   - operators that provably preserve distinctness (filter, rename, extend
  *     with all columns kept, inner natural join of distinct inputs, semijoin,
  *     antijoin, limit) keep the bit set, so a chain of them never shuffles
  *     for dedup at all;
  *   - operators that can create duplicates (projection, compose, union,
  *     transform-with-projection) clear the bit and defer the dedup to the
  *     next set-requiring consumer, letting Catalyst collapse adjacent
  *     Deduplicate nodes and push work into existing shuffles.
  *
  * Positive relational-algebra chains (project/filter/join/union) commute
  * with a final dedup, so deferring is semantics-preserving; aggregation does
  * NOT (summing a bag double-counts), which is why [[aggregate]] pulls [[df]]
  * first.
  *
  * All joins are NATURAL joins on common attribute names — the only join
  * family the reference has (Andl.Runtime/DataTable.cs:38-54, JoinOps flags
  * Andl.Runtime/Evaluator.cs:54-82). There are no outer joins and no NULLs
  * anywhere (TTM discipline; Andl.Runtime/DataType.cs:152-155 — absent values
  * are type defaults, see [[Rel.typeDefault]]).
  */
final class Rel private (private val bag: DataFrame, val knownDistinct: Boolean)
    extends Serializable {

  /** The relation as a duplicate-free DataFrame (dedups lazily if needed). */
  def df: DataFrame = if (knownDistinct) bag else bag.dropDuplicates()

  /** The underlying bag — for duplicate-agnostic consumers only. */
  def bagDF: DataFrame = bag

  def spark: SparkSession = bag.sparkSession
  def schema: StructType = bag.schema
  def attrs: Seq[String] = bag.columns.toSeq
  def attrSet: Set[String] = bag.columns.toSet
  def degree: Int = bag.columns.length

  /** Heading equality is order-insensitive (DataHeading.cs:48-56). */
  def sameHeading(other: Rel): Boolean = {
    val a = schema.fields.map(f => (f.name, f.dataType)).toMap
    val b = other.schema.fields.map(f => (f.name, f.dataType)).toMap
    a == b
  }

  // ---------------------------------------------------------------- monadic

  /** Project onto a subset of attributes (dedup deferred). */
  def project(cols: String*): Rel = {
    val keepsAll = cols.toSet == attrSet
    new Rel(bag.select(cols.map(col): _*), knownDistinct && keepsAll)
  }

  /** Rename attributes; data unchanged, distinctness preserved. */
  def rename(pairs: (String, String)*): Rel = {
    val m = pairs.toMap
    val sel = bag.columns.map(c => m.get(c).map(col(c).as(_)).getOrElse(col(c)))
    new Rel(bag.select(sel: _*), knownDistinct)
  }

  /** Restrict by predicate; distinctness preserved. */
  def where(pred: Column): Rel = new Rel(bag.filter(pred), knownDistinct)

  /** Extend: add computed attributes, keeping every existing one.
    * New columns are functions of the row, so distinct rows stay distinct. */
  def extend(newCols: (String, Column)*): Rel = {
    val out = newCols.foldLeft(bag) { case (d, (n, c)) => d.withColumn(n, c) }
    new Rel(out, knownDistinct)
  }

  /** Full transform: arbitrary mix of kept, renamed and computed attributes
    * (the `.select{...}` form, Builtin.cs:462-471). Clears distinctness. */
  def transform(cols: (String, Column)*): Rel = {
    val out = bag.select(cols.map { case (n, c) => c.as(n) }: _*)
    new Rel(out, false)
  }

  /** update R .where(p) .{A := e} (Builtin.cs:615-622): ONE pass in which
    * each assigned attribute becomes `when(pred, e).otherwise(A)`, so the
    * old value appears once in the new value's plan (a `where(!p) ∪
    * transform(where(p))` split references it twice, and k updates then
    * scan it 2^k times). NULL contract, SQL-shaped: a row where `pred` is
    * NULL is kept unchanged. The transform can map two tuples onto one, so
    * the dedup is deferred, as [[union]]'s is. Refuses an attribute that
    * is not in the heading or is assigned twice. */
  def updateWhere(pred: Column, sets: (String, Column)*): Rel = {
    sets.find(s => !attrSet(s._1)).foreach(s => throw new IllegalArgumentException(
      s"updateWhere: no column '${s._1}' in (${attrs.mkString(", ")})"))
    sets.groupBy(_._1).collectFirst { case (a, xs) if xs.size > 1 => a }
      .foreach(a => throw new IllegalArgumentException(
        s"updateWhere: column '$a' assigned more than once"))
    val byAttr = sets.toMap
    new Rel(bag.select(attrs.map(a => byAttr.get(a)
      .map(e => when(pred, e).otherwise(col(a)).as(a)).getOrElse(col(a))): _*), false)
  }

  /** update R .where(p) .{} — delete the rows where `pred` is TRUE; a NULL
    * predicate keeps the row, as in [[updateWhere]]. */
  def deleteWhere(pred: Column): Rel = where(!coalesce(pred, lit(false)))

  /** take(n): any n tuples of the SET (deterministic only under order). */
  def take(n: Int): Rel = new Rel(df.limit(n), true)

  /** take(n) under a total order — deterministic. */
  def take(n: Int, order: Seq[Column]): Rel =
    new Rel(df.orderBy(order: _*).limit(n), true)

  /** skip(n) under a total order (Dataset.offset, Spark 3.4+). */
  def skip(n: Int, order: Seq[Column]): Rel =
    new Rel(df.orderBy(order: _*).offset(n), true)

  def skipTake(skipN: Int, takeN: Int, order: Seq[Column]): Rel =
    new Rel(df.orderBy(order: _*).offset(skipN).limit(takeN), true)

  /** lift: scalar from the first tuple, type default if empty
    * (Builtin.Lift, Builtin.cs:407-410). Driver-side by design. */
  def lift(attr: String, order: Seq[Column] = Nil): Any = {
    val d = if (order.nonEmpty) df.orderBy(order: _*) else df
    val rows = d.select(attr).head(1)
    if (rows.isEmpty) Rel.defaultValue(schema(attr).dataType) else rows(0).get(0)
  }

  def count(): Long = df.count()

  // ------------------------------------------------------- dyadic (natural)

  private def commonCols(other: Rel): Seq[String] =
    attrs.filter(other.attrSet.contains)

  private def leftOnly(other: Rel): Seq[String] =
    attrs.filterNot(other.attrSet.contains)

  /** r1 join r2 — natural inner join; cross join when no common attrs.
    * Output = left + common + right. Distinctness of both inputs is
    * preserved because all columns of both sides survive. */
  def join(other: Rel): Rel = {
    val cc = commonCols(other)
    val out =
      if (cc.isEmpty) bag.crossJoin(other.bag)
      else bag.join(other.bag, cc, "inner")
    new Rel(out, knownDistinct && other.knownDistinct)
  }

  /** r1 compose r2 — join then drop the join columns (JoinOps.COMPOSE). */
  def compose(other: Rel): Rel = {
    val cc = commonCols(other)
    join(other).project((attrs ++ other.attrs).distinct.filterNot(cc.contains): _*)
  }

  /** r1 semijoin r2 (a.k.a. matching) — tuples of r1 with a match in r2.
    * left_semi never duplicates, so left distinctness is preserved. */
  def semijoin(other: Rel): Rel = {
    val cc = commonCols(other)
    if (cc.isEmpty) new Rel(bag.crossJoin(other.df.limit(1)).select(attrs.map(col): _*), knownDistinct)
    else new Rel(bag.join(other.bag, cc, "left_semi"), knownDistinct)
  }

  /** r1 rsemijoin r2 — tuples of r2 with a match in r1. */
  def rsemijoin(other: Rel): Rel = other.semijoin(this)

  /** r1 ajoin r2 (a.k.a. notmatching) — tuples of r1 with NO match in r2. */
  def ajoin(other: Rel): Rel = {
    val cc = commonCols(other)
    if (cc.isEmpty) {
      // no common attrs: antijoin keeps r1 iff r2 is empty
      val out = bag.join(other.bag.limit(1), lit(true), "left_anti")
      new Rel(out, knownDistinct)
    } else new Rel(bag.join(other.bag, cc, "left_anti"), knownDistinct)
  }

  /** r1 rajoin r2 — tuples of r2 with no match in r1. */
  def rajoin(other: Rel): Rel = other.ajoin(this)

  /** r1 divide r2 (joinl) — left-only attributes of the semijoin. */
  def divide(other: Rel): Rel = semijoin(other).project(leftOnly(other): _*)

  /** r1 rdivide r2 (joinr) — right-only attributes of the rsemijoin. */
  def rdivide(other: Rel): Rel = other.divide(this)

  /** r1 ajoinl r2 — left-only attributes of the antijoin. */
  def ajoinl(other: Rel): Rel = ajoin(other).project(leftOnly(other): _*)

  /** r1 rajoinr r2 — right-only attributes of the reverse antijoin. */
  def rajoinr(other: Rel): Rel = other.ajoinl(this)

  // ------------------------------------------------------------- set ops

  /** Align two relations for a set op. Same heading → right side reordered
    * to left's column order. Different headings → BOTH sides projected onto
    * the common attributes (the reference's generalised set op projects
    * onto the merged heading — GeneralisedSet, DataTableLocal.cs:307-347;
    * observable in SuiteRelDyadic.andl: degree(S minus SP) = 1 = {S#}). */
  private def setAlign(other: Rel): (DataFrame, DataFrame) =
    if (sameHeading(other)) (bag, other.bag.select(attrs.map(col): _*))
    else {
      val common = commonCols(other)
      require(common.nonEmpty, s"set op with no common attrs: $attrs vs ${other.attrs}")
      (bag.select(common.map(col): _*), other.bag.select(common.map(col): _*))
    }

  /** r1 union r2 — set union (dedup deferred). */
  def union(other: Rel): Rel = {
    val (a, b) = setAlign(other); new Rel(a.unionByName(b), false)
  }

  /** r1 intersect r2 — Spark INTERSECT is already set-distinct. */
  def intersect(other: Rel): Rel = {
    val (a, b) = setAlign(other); new Rel(a.intersect(b), true)
  }

  /** r1 minus r2 — Spark EXCEPT is already set-distinct. */
  def minus(other: Rel): Rel = {
    val (a, b) = setAlign(other); new Rel(a.except(b), true)
  }

  /** r1 rminus r2. */
  def rminus(other: Rel): Rel = other.minus(this)

  /** r1 symdiff r2 — (r1 - r2) ∪ (r2 - r1), both sides already distinct
    * and disjoint, so the union is distinct too. */
  def symdiff(other: Rel): Rel = {
    val (a, b) = setAlign(other)
    new Rel(a.except(b).unionByName(b.except(a)), true)
  }

  /** r1 sub r2 — subset test (DataTableLocal.cs:684-721). */
  def sub(other: Rel): Boolean = {
    val (a, b) = setAlign(other); a.except(b).isEmpty
  }

  /** r1 sup r2 — superset. */
  def sup(other: Rel): Boolean = other.sub(this)

  /** r1 sep r2 — disjoint. */
  def sep(other: Rel): Boolean = {
    val (a, b) = setAlign(other); a.intersect(b).isEmpty
  }

  /** Relation value equality — both EXCEPT directions empty
    * (DataTableLocal.IsEqual:665-680). */
  def relEquals(other: Rel): Boolean =
    sameHeading(other) && sub(other) && sup(other)

  // ------------------------------------------------------------ aggregation

  /** Grouped aggregation with implicit keys: every non-folded attribute in
    * the transform is a group key (DataTableSql.GroupColumns,
    * DataTableSql.cs:491-497). Input is dedup'd first — set semantics.
    * Group keys are distinct by construction, so the output bit is set. */
  def aggregate(groupCols: Seq[String], aggs: (String, Column)*): Rel = {
    val aggCols = aggs.map { case (n, c) => c.as(n) }
    val out =
      if (groupCols.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
      else df.groupBy(groupCols.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    new Rel(out, true)
  }

  // --------------------------------------------------------------- output

  def show(n: Int = 20): Unit = df.show(n, truncate = false)
}

object Rel {
  /** Wrap a DataFrame known to hold distinct rows (e.g. a keyed base table). */
  def distinct(df: DataFrame): Rel = new Rel(df, true)

  /** Wrap an arbitrary (possibly bag) DataFrame. */
  def bag(df: DataFrame): Rel = new Rel(df, false)

  /** Read a parquet base relvar ([[graft.sources.Sources.parquet]]: its
    * heading is inferred once, not per read). Base tables are keyed →
    * distinct. */
  def parquet(spark: SparkSession, path: String): Rel =
    distinct(graft.sources.Sources.parquet(spark, path))

  /** No-NULL discipline: the type's default value (DataType.DefaultValue,
    * DataType.cs:152-155,247-252). Used at lag/lead edges, lift-of-empty,
    * and CSV gaps. */
  def defaultValue(dt: DataType): Any = dt match {
    case _: IntegerType   => 0
    case _: LongType      => 0L
    case _: DoubleType    => 0.0
    case _: FloatType     => 0.0f
    case _: ShortType     => 0.toShort
    case _: ByteType      => 0.toByte
    case d: DecimalType   => java.math.BigDecimal.ZERO.setScale(d.scale)
    case _: StringType    => ""
    case _: BooleanType   => false
    case _: DateType      => java.sql.Date.valueOf("0001-01-01")
    case _: TimestampType => java.sql.Timestamp.valueOf("0001-01-01 00:00:00")
    case _: BinaryType    => Array.empty[Byte]
    case _                => null
  }

  /** Column form of [[defaultValue]]. Complex types default STRUCTURALLY
    * (empty array/map, struct of component defaults) so the no-NULL
    * discipline holds for the JSON edge's nested payloads too — a
    * `lit(null).cast` fallback would make the edge's coalesce a silent
    * no-op for exactly the column kinds RVAs use. */
  def defaultCol(dt: DataType): Column = dt match {
    case _: NumericType   => lit(0).cast(dt)
    case _: StringType    => lit("")
    case _: BooleanType   => lit(false)
    case _: DateType      => lit(java.sql.Date.valueOf("0001-01-01"))
    case _: TimestampType => lit(java.sql.Timestamp.valueOf("0001-01-01 00:00:00"))
    case _: BinaryType    => lit(Array.empty[Byte])
    case a: ArrayType     => array().cast(a)
    case m: MapType       => map().cast(m)
    case s: StructType    =>
      struct(s.fields.toIndexedSeq.map(f =>
        defaultCol(f.dataType).as(f.name)): _*)
    case dt               => lit(null).cast(dt)
  }

  /** NULL→default fill AT EVERY NESTING LEVEL: top-level NULLs coalesce
    * to [[defaultCol]], and NULLs inside struct fields, array elements
    * and map values fill recursively (a struct rebuild covers both the
    * null-struct and the nested-null case in one expression; Spark map
    * keys cannot be null). This is the JSON edge's no-NULL enforcement —
    * shared by Session.setValueJson and HttpGateway.parseRows so the two
    * inlets can never diverge. */
  def fillDefaults(df: DataFrame): DataFrame = {
    def fill(c: Column, dt: DataType): Column = dt match {
      case s: StructType =>
        struct(s.fields.toIndexedSeq.map(f =>
          fill(c.getField(f.name), f.dataType).as(f.name)): _*)
      case a: ArrayType =>
        coalesce(transform(c, x => fill(x, a.elementType)), defaultCol(a))
      case m: MapType =>
        coalesce(transform_values(c, (_, v) => fill(v, m.valueType)),
          defaultCol(m))
      case other => coalesce(c, defaultCol(other))
    }
    df.select(df.schema.fields.toIndexedSeq.map(f =>
      fill(df(f.name), f.dataType).as(f.name)): _*)
  }

  /** DEE: no attributes, one (empty) tuple. count=1 (SuiteBasic.andl:40-49). */
  def dee(spark: SparkSession): Rel =
    distinct(spark.range(1).toDF().select())

  /** DUM: no attributes, no tuples. count=0. */
  def dum(spark: SparkSession): Rel =
    distinct(spark.range(0).toDF().select())
}
