package graft.lang

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.rel.Rel

/** Runtime values and types for the Andl front end.
  *
  * The scalar domain mirrors the reference's TypedValue family
  * (Andl.Runtime/TypedValue.cs): text, number (double — the engine's
  * documented deviation from C# decimal, SURVEY §1.2), bool, time, binary,
  * tuple, relation, user-defined. Relations are backed by the engine's
  * [[graft.rel.Rel]] (Spark DataFrames) — the language LOWERS to the
  * engine, it does not reimplement it. Tuples/UDTs nested inside relations
  * become Spark structs; relation-valued attributes become arrays of
  * structs with canonically sorted rows, so Spark row equality implements
  * the reference's value semantics.
  *
  * Attribute order: tuple headings are canonicalized (sorted by name) both
  * driver-side and in Spark schemas, matching the reference's
  * order-insensitive headings (DataHeading.cs:48-56). UDT fields keep
  * declaration order (component comparison is left-to-right).
  */
object AndlValues {

  // ---------------------------------------------------------------- types
  sealed trait AType
  case object TText extends AType
  case object TNum extends AType
  case object TBool extends AType
  case object TTime extends AType
  case object TBin extends AType
  case class TTup(fields: Seq[(String, AType)]) extends AType // sorted by name
  case class TRel(fields: Seq[(String, AType)]) extends AType // sorted by name
  case class TUdt(name: String, fields: Seq[(String, AType)]) extends AType // declared order
  /** Function type (funvals, SuiteDefer.andl); loose — arity only. */
  case class TFun(arity: Int) extends AType

  def sortFields(fields: Seq[(String, AType)]): Seq[(String, AType)] =
    fields.sortBy(_._1)

  /** Loud ceiling on relation values lifted into the driver-tier
    * interpreter (nested-relation literals, tuple contexts) — the one
    * place the language tier materializes a DataFrame on the driver.
    * Session-tunable: `spark.graft.maxDriverRelRows`. */
  def maxDriverRelRows(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.maxDriverRelRows")
      .map(_.toInt).getOrElse(1048576)

  def typeName(t: AType): String = t match {
    case TText => "text"
    case TNum => "number"
    case TBool => "bool"
    case TTime => "time"
    case TBin => "binary"
    case _: TTup => "tuple"
    case _: TRel => "relation"
    case TUdt(n, _) => n
    case _: TFun => "function"
  }

  def defaultValue(t: AType): Value = t match {
    case TText => TextV("")
    case TNum => NumV(0)
    case TBool => BoolV(false)
    case TTime => TimeV(java.sql.Timestamp.valueOf("0001-01-01 00:00:00"))
    case TBin => BinV(Array.empty)
    case TTup(f) => TupV(f.map { case (n, ft) => (n, defaultValue(ft)) })
    case TRel(f) => LRelV(f, Vector.empty) // empty relation of that heading
    case TUdt(n, f) => UdtV(n, f.map { case (fn, ft) => (fn, defaultValue(ft)) })
    case _: TFun => sys.error("no default for function type")
  }

  // --------------------------------------------------------------- values
  sealed trait Value
  /** The void result of statements/IO builtins (`write`, `wait`, `do{}`). */
  case object NoneV extends Value
  case class TextV(s: String) extends Value
  case class NumV(d: Double) extends Value
  case class BoolV(b: Boolean) extends Value
  case class TimeV(t: java.sql.Timestamp) extends Value
  case class BinV(bytes: Array[Byte]) extends Value {
    override def equals(o: Any): Boolean = o match {
      case BinV(b2) => java.util.Arrays.equals(bytes, b2)
      case _ => false
    }
    override def hashCode: Int = java.util.Arrays.hashCode(bytes)
  }
  /** Tuple: fields sorted by name. */
  case class TupV(fields: Seq[(String, Value)]) extends Value
  /** UDT instance: fields in declaration order; equality includes the
    * type name (value semantics of the reference's user types). */
  case class UdtV(tname: String, fields: Seq[(String, Value)]) extends Value
  /** Relation backed by the engine. Heading sorted by name. */
  case class RelV(heading: Seq[(String, AType)], rel: Rel) extends Value {
    /** Physical stored order from a trailing `.order` — the reference keeps
      * the sorted rows in the stored DataTableLocal (OrderedIndex.cs:74+),
      * and later input-order folds / take / lift / pp observe it. Engine
      * relations record the spec instead of eagerly sorting (a Spark sort
      * whose output feeds a shuffle would be wasted work); consumers sort
      * on demand. Not part of value equality (relations are sets). */
    var storedOrder: Option[Seq[AndlAst.OrderTerm]] = None
    override def equals(o: Any): Boolean = o match {
      case r2: RelV => relEquals(this, r2)
      case _ => false
    }
    override def hashCode: Int = heading.map(_._1).hashCode
  }
  /** Driver-local relation: tuples kept in insertion order (duplicate-free).
    * Used for (a) literal relations before an operator lowers them to the
    * engine, (b) nested relation-valued attributes lifted off Spark rows,
    * and (c) relations whose attributes hold function values (which cannot
    * live in a DataFrame). Set equality ignores the stored order. */
  case class LRelV(heading: Seq[(String, AType)], rows: Vector[TupV]) extends Value {
    /** See [[RelV.storedOrder]]; local rows are ALSO physically sorted when
      * this is set (mirroring the reference exactly). */
    var storedOrder: Option[Seq[AndlAst.OrderTerm]] = None
    override def equals(o: Any): Boolean = o match {
      case r2: LRelV => heading.map(f => (f._1, typeName(f._2))) ==
        r2.heading.map(f => (f._1, typeName(f._2))) && rows.toSet == r2.rows.toSet
      case _ => false
    }
    override def hashCode: Int = heading.map(_._1).hashCode
  }
  /** Function value / deferred expression (closure over the defining env).
    * Equality is IDENTITY (`uid`): two structurally identical literals are
    * distinct values (SuiteDefer.andl funvals section). `defer` marks
    * argless `name => expr` bindings, re-evaluated at every reference. */
  case class FunV(name: String, params: Seq[(String, Option[AType])],
                  body: AndlAst.Expr, closure: AndlInterp.Env,
                  defer: Boolean = false,
                  uid: Long = FunV.nextUid()) extends Value {
    override def equals(o: Any): Boolean = o match {
      case f2: FunV => uid == f2.uid
      case _ => false
    }
    override def hashCode: Int = uid.hashCode
  }
  object FunV {
    private val ctr = new java.util.concurrent.atomic.AtomicLong(0)
    def nextUid(): Long = ctr.incrementAndGet()
  }
  /** Overload set for `def`-declared functions (SymbolTable.AddOverload,
    * Andl.Peg/SymbolTable.cs:345-359). */
  case class FunsV(name: String,
                   overloads: scala.collection.mutable.ArrayBuffer[FunV]) extends Value
  /** A declared type (UDT) bound in the environment. */
  case class TypeV(t: AType) extends Value

  def typeOf(v: Value): AType = v match {
    case _: TextV => TText
    case _: NumV => TNum
    case _: BoolV => TBool
    case _: TimeV => TTime
    case _: BinV => TBin
    case TupV(f) => TTup(f.map { case (n, x) => (n, typeOf(x)) })
    case UdtV(n, f) => TUdt(n, f.map { case (fn, x) => (fn, typeOf(x)) })
    case RelV(h, _) => TRel(h)
    case LRelV(h, _) => TRel(h)
    case f: FunV => TFun(f.params.length)
    case other => sys.error(s"value has no data type: ${other.getClass.getSimpleName}")
  }

  // ------------------------------------------------- Spark schema mapping

  /** Optional decimal-number mode (SURVEY §1.2): the reference's `number`
    * is .NET's 128-bit decimal (TypedValue.cs:294-346, 28-29 significant
    * digits); the engine's default mapping is double — a documented
    * deviation that can show float artifacts in money arithmetic. Setting
    * `spark.graft.decimalNumbers=true` BEFORE constructing an AndlInterp
    * switches the language's numeric domain to DecimalType(38,18): numeric
    * literals, relvar columns, and fold seeds all become decimal, so sums/
    * products of money values are exact. Count/length/ordinal builtins stay
    * integer/double-valued (exact by construction) and coerce when mixed.
    * Driver-side scalars remain double at the collect boundary (rendering,
    * comparisons in scripts run on the engine, so the boundary only affects
    * values lifted out of relations).
    *
    * PER-SESSION state: each [[graft.lang.AndlInterp]] captures its modes
    * at construction and installs them for the duration of every entry
    * point via [[withModes]] (thread-scoped, save/restore), so two
    * sessions with different numeric domains or collations coexist in one
    * JVM — including concurrently on different gateway worker threads. */
  private val decimalTL = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = java.lang.Boolean.FALSE
  }
  private val collationTL = new ThreadLocal[Option[String]] {
    override def initialValue: Option[String] = None
  }
  def decimalNumbers: Boolean = decimalTL.get
  def decimalNumbers_=(b: Boolean): Unit = decimalTL.set(b)
  def numType: DataType = if (decimalNumbers) DecimalType(38, 18) else DoubleType

  /** Run `f` with the given modes installed on the calling thread,
    * restoring the previous modes after — the scoping every AndlInterp
    * entry point uses. */
  def withModes[A](decimal: Boolean, coll: Option[String])(f: => A): A = {
    val d0 = decimalTL.get; val c0 = collationTL.get
    decimalTL.set(decimal); collationTL.set(coll)
    try f finally { decimalTL.set(d0); collationTL.set(c0) }
  }

  /** Opt-in ICU collation for text ORDERING (SURVEY §1.2 documented
    * deviation): the reference sorts text with .NET `CurrentCulture`
    * (TypedValue.cs:447-449); the engine's default is JVM/UTF8 binary, which
    * puts all uppercase before lowercase and all accented text after ASCII.
    * Setting `spark.graft.collation` (e.g. "UNICODE", "en") BEFORE
    * constructing an AndlInterp wraps every TEXT sort key in Spark 4's ICU
    * `collate(...)`, giving culture-style ordering parity. Ordering only —
    * equality, joins and group keys stay binary (Andl tuple identity is
    * exact-value, CompareEqual in TypedValue.cs is ordinal). Per-session,
    * thread-scoped like [[decimalNumbers]]. */
  def collation: Option[String] = collationTL.get
  def collation_=(c: Option[String]): Unit = collationTL.set(c)

  def sparkType(t: AType): DataType = t match {
    case TText => StringType
    case TNum => numType
    case TBool => BooleanType
    case TTime => TimestampType
    case TBin => BinaryType
    case TTup(f) => StructType(f.map { case (n, ft) =>
      StructField(n, sparkType(ft), nullable = false) })
    case TUdt(_, f) => StructType(f.map { case (n, ft) =>
      StructField(n, sparkType(ft), nullable = false) })
    case TRel(f) => ArrayType(StructType(f.map { case (n, ft) =>
      StructField(n, sparkType(ft), nullable = false) }), containsNull = false)
    case _: TFun => sys.error("function values have no Spark type")
  }

  def sparkSchema(heading: Seq[(String, AType)]): StructType =
    StructType(heading.map { case (n, t) =>
      StructField(n, sparkType(t), nullable = false) })

  /** Value → Spark external row object. Nested relation rows are sorted
    * canonically so value equality survives the array encoding. */
  def toSpark(v: Value): Any = v match {
    case TextV(s) => s
    case NumV(d) => if (decimalNumbers) java.math.BigDecimal.valueOf(d) else d
    case BoolV(b) => b
    case TimeV(t) => t
    case BinV(b) => b
    case TupV(f) => Row(f.map(x => toSpark(x._2)): _*)
    case UdtV(_, f) => Row(f.map(x => toSpark(x._2)): _*)
    case RelV(h, rel) =>
      // lifting a relation value into the driver tier materializes it on
      // the driver; a corpus-sized relation here would OOM with no clue.
      // Loud row-cap (same pattern as Fold.maxGroupRows): fetch cap+1,
      // fail with the knob name if the relation exceeds it.
      val cap = maxDriverRelRows(rel.df.sparkSession)
      val rows0 = rel.df.limit(cap + 1).collect().toSeq
      if (rows0.size > cap)
        sys.error(s"relation lift: more than $cap rows would materialize " +
          "on the driver (spark.graft.maxDriverRelRows) — nested-relation " +
          "literals and tuple contexts are script-sized by design; keep " +
          "corpus-sized relations in engine space or raise the cap")
      val rows = rows0.map(r => rowToValue(r, h))
      rows.map(t => toSpark(t)).sortBy(_.toString)
    case LRelV(h, rows) =>
      rows.distinct.map { t =>
        val m = t.fields.toMap
        toSpark(TupV(h.map { case (n, _) => (n, m(n)) }))
      }.sortBy(_.toString)
    case _: FunV => sys.error("cannot store a function in a relation")
    case other => sys.error(s"cannot store $other in a relation")
  }

  /** Spark row + heading → TupV. */
  def rowToValue(r: Row, heading: Seq[(String, AType)]): TupV =
    TupV(heading.zipWithIndex.map { case ((n, t), i) => (n, fromSpark(r.get(i), t)) })

  def fromSpark(x: Any, t: AType): Value = t match {
    case TText => TextV(x.asInstanceOf[String])
    case TNum => NumV(x match {
      case d: java.lang.Double => d
      case n: Number => n.doubleValue()
    })
    case TBool => BoolV(x.asInstanceOf[Boolean])
    case TTime => TimeV(x.asInstanceOf[java.sql.Timestamp])
    case TBin => BinV(x.asInstanceOf[Array[Byte]])
    case TTup(f) =>
      val r = x.asInstanceOf[Row]
      TupV(f.zipWithIndex.map { case ((n, ft), i) => (n, fromSpark(r.get(i), ft)) })
    case TUdt(un, f) =>
      val r = x.asInstanceOf[Row]
      UdtV(un, f.zipWithIndex.map { case ((n, ft), i) => (n, fromSpark(r.get(i), ft)) })
    case TRel(f) =>
      // RVA: array of structs → driver-local relation (SuiteRelNest lift)
      val rows = (x match {
        case s: scala.collection.Seq[_] => s.toSeq
        case a: Array[_] => a.toSeq
        case other => sys.error(s"RVA expected array, got $other")
      }).map {
        case r: Row => TupV(f.zipWithIndex.map { case ((n, ft), i) =>
          (n, fromSpark(r.get(i), ft)) })
        case other => sys.error(s"RVA row expected struct, got $other")
      }
      LRelV(f, rows.toVector.distinct)
    case _: TFun => sys.error("function values cannot come from Spark rows")
  }

  /** Build an engine relation from driver-side tuple values. */
  def relFromTuples(spark: SparkSession, heading: Seq[(String, AType)],
                    tuples: Seq[Value]): RelV = {
    val h = sortFields(heading)
    if (h.isEmpty) {
      // zero-degree relations: DEE (one empty tuple) or DUM (none)
      val rel = if (tuples.nonEmpty) Rel.dee(spark) else Rel.dum(spark)
      return RelV(Nil, rel)
    }
    val schema = sparkSchema(h)
    val rows = tuples.distinct.map {
      case TupV(f) =>
        val m = f.toMap
        Row(h.map { case (n, ft) => toSpark(m(n)) }: _*)
      case other => sys.error(s"tuple expected in relation literal, got $other")
    }
    import scala.jdk.CollectionConverters._
    // driver-side distinct above → knownDistinct, so no dedup shuffle ever
    // reorders these rows (take/skip and input-order folds observe them)
    val df = spark.createDataFrame(rows.asJava, schema)
    RelV(h, Rel.distinct(df))
  }

  // ------------------------------------------------------------- equality

  /** Relation value equality with zero-degree special cases (the engine's
    * set ops need ≥1 column; DEE/DUM compare by cardinality). */
  def relEquals(a: RelV, b: RelV): Boolean = {
    if (a.heading.map(x => (x._1, typeName(x._2))) !=
        b.heading.map(x => (x._1, typeName(x._2)))) return false
    if (a.heading.isEmpty) return (a.rel.count() > 0) == (b.rel.count() > 0)
    a.rel.relEquals(b.rel)
  }

  def valueEquals(a: Value, b: Value): Boolean = (a, b) match {
    case (x: RelV, y: RelV) => relEquals(x, y)
    case (x: LRelV, y: LRelV) => x == y
    case (TupV(f1), TupV(f2)) =>
      f1.map(_._1) == f2.map(_._1) &&
        f1.zip(f2).forall { case ((_, v1), (_, v2)) => valueEquals(v1, v2) }
    case (UdtV(n1, f1), UdtV(n2, f2)) =>
      n1 == n2 && f1.zip(f2).forall { case ((_, v1), (_, v2)) => valueEquals(v1, v2) }
    case (x, y) => x == y
  }

  /** Ordering for < > <= >=; UDTs compare component-wise left-to-right
    * (sample1 `u1 > u2`). */
  /** Frozen ICU collator mirroring the session's `collation` name: ROOT for
    * "UNICODE", a language tag otherwise ("en", "de", …). Frozen = thread-
    * safe compare. Driver-local `.order` sorts must rank text exactly like
    * the engine's `collate(...)` sort keys or small/large relations would
    * order differently. */
  @volatile private var collatorCache: Option[(String, com.ibm.icu.text.Collator)] = None
  private def collatorFor(name: String): com.ibm.icu.text.Collator =
    collatorCache match {
      case Some((n, c)) if n == name => c
      case _ =>
        val loc =
          if (name.equalsIgnoreCase("UNICODE")) com.ibm.icu.util.ULocale.ROOT
          else com.ibm.icu.util.ULocale.forLanguageTag(name.takeWhile(_ != '_'))
        val c = com.ibm.icu.text.Collator.getInstance(loc).freeze()
        collatorCache = Some((name, c))
        c
    }

  /** Ordering comparison for `.order` sorts: text honors the opt-in
    * collation; everything else (and default mode) is [[compare]]. Equality
    * and non-sort comparisons stay binary on purpose — Andl tuple identity
    * is exact-value (TypedValue.cs CompareEqual is ordinal). */
  def sortCompare(a: Value, b: Value): Int = (a, b, collation) match {
    case (TextV(x), TextV(y), Some(n)) => collatorFor(n).compare(x, y)
    case _ => compare(a, b)
  }

  def compare(a: Value, b: Value): Int = (a, b) match {
    case (NumV(x), NumV(y)) => java.lang.Double.compare(x, y)
    case (TextV(x), TextV(y)) => x.compareTo(y)
    case (TimeV(x), TimeV(y)) => x.compareTo(y)
    case (BoolV(x), BoolV(y)) => java.lang.Boolean.compare(x, y)
    case (UdtV(_, f1), UdtV(_, f2)) =>
      f1.zip(f2).iterator.map { case ((_, v1), (_, v2)) => compare(v1, v2) }
        .find(_ != 0).getOrElse(0)
    case _ => sys.error(s"cannot compare ${a.getClass.getSimpleName}")
  }

  // ------------------------------------------------------------ rendering

  /** Text conversion for `&` and write(): numbers print like the
    * reference's decimals (no trailing zeros, no scientific notation). */
  def render(v: Value): String = v match {
    case NoneV => ""
    case TextV(s) => s
    case NumV(d) =>
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
    case BoolV(b) => if (b) "true" else "false"
    case TimeV(t) =>
      val ldt = t.toLocalDateTime
      val date = f"${ldt.getDayOfMonth}%d/${ldt.getMonthValue}%02d/${ldt.getYear}%04d"
      if (ldt.toLocalTime == java.time.LocalTime.MIDNIGHT) date
      else {
        val frac = if (ldt.getNano != 0) f".${ldt.getNano / 1000000}%03d" else ""
        f"$date ${ldt.getHour}%d:${ldt.getMinute}%02d:${ldt.getSecond}%02d$frac"
      }
    case BinV(b) => b.map(x => f"$x%02x").mkString // hex, as `&` renders it
    case TupV(f) =>
      f.map { case (n, x) => s"$n := ${render(x)}" }.mkString("{", ", ", "}")
    case UdtV(n, f) =>
      f.map { case (_, x) => render(x) }.mkString(s"$n(", ", ", ")")
    case r @ RelV(h, rel) =>
      if (h.isEmpty) s"rel:{}(${rel.count()} rows)"
      else graft.functions.Builtins.pp(rel,
        sortBy = r.storedOrder.getOrElse(Nil).map { t =>
          val c = org.apache.spark.sql.functions.col(t.field)
          if (t.desc) c.desc else c.asc
        })
    case LRelV(h, rows) =>
      rows.map(render).mkString("{", ", ", "}")
    case f: FunV => s"def ${f.name}(…)"
    case FunsV(n, _) => s"def $n(…)"
    case TypeV(t) => s"type ${typeName(t)}"
  }

  /** Time literal parse: y/m/d when the first component is 4 digits, else
    * d/m/y (the reference's AU culture); `-` or `/` separators; optional
    * H:mm:ss(.fff). */
  def parseTime(s: String): java.sql.Timestamp = {
    val parts = s.trim.split("\\s+", 2)
    val dp = parts(0).split("[/-]")
    require(dp.length == 3, s"bad time literal: $s")
    val (y, m, d) =
      if (dp(0).length == 4) (dp(0).toInt, dp(1).toInt, dp(2).toInt)
      else (dp(2).toInt, dp(1).toInt, dp(0).toInt)
    val (hh, mm, ss, nanos) =
      if (parts.length == 1) (0, 0, 0, 0)
      else {
        val tp = parts(1).split("[:.]")
        val n = if (tp.length > 3) tp(3).padTo(9, '0').take(9).toInt else 0
        (tp(0).toInt, tp(1).toInt, if (tp.length > 2) tp(2).toInt else 0, n)
      }
    java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(y, m, d, hh, mm, ss, nanos))
  }

  def parseBinary(hex: String): Array[Byte] = {
    val h = if (hex.length % 2 == 1) "0" + hex else hex
    h.grouped(2).map(x => Integer.parseInt(x, 16).toByte).toArray
  }
}
