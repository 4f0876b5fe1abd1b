package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.rel.{Fold, Nest, Ordered, OrderSpec, Rel, TupleOps, WhileFix}
import graft.functions.{Builtins, Scalar}
import graft.pipeline.{Bpe, Coreset, Decontaminate, Dedup, Multimodal, Pack, Profile, Sampling, Similarity, TextAnalysis}
import graft.catalog.{Catalog, FunDef, UdtDef}
import graft.sources.Sources

/** The operator-inventory query surface (SURVEY.md §2): one named query per
  * implemented operator, each expressed through the graft DSL, plus the
  * equivalent ANSI SQL for the DuckDB oracle.
  *
  * Numeric determinism policy: floating sums/products are computed exactly
  * (cast to decimal before aggregating) and only converted to double at the
  * END — so Spark's parallel aggregation order cannot produce a different
  * value than DuckDB's sequential one. Raw per-row double arithmetic
  * (x*(1-d)) is IEEE-deterministic and needs no care.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): Rel =
    if (name == "embeddings") emb(s, dir)
    else Rel.parquet(s, s"$dir/$name.parquet")

  /** Embeddings ingest: [[Sources.embeddingToFloat]] producer-drift guard
    * applied once at the scan. */
  private def emb(s: SparkSession, dir: String): Rel =
    Rel.distinct(Sources.embeddingToFloat(
      Sources.parquet(s, s"$dir/embeddings.parquet")))

  private val dec182 = DecimalType(18, 2)
  private val dec184 = DecimalType(18, 4)

  // =============================================== §2.1 relational monadic

  def qProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier").project("s_nationkey").df

  def qRename(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation").rename("n_nationkey" -> "nation_id", "n_name" -> "nation_name").df

  def qWhere(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_quantity") > 45 && col("l_discount") < 0.05)
      .project("l_orderkey", "l_linenumber", "l_quantity", "l_discount").df

  def qExtend(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .extend("revenue" -> col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .project("l_orderkey", "l_linenumber", "revenue").df

  def qTake(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").take(100, Seq(col("o_orderkey"))).df

  def qSkip(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").skipTake(100, 50, Seq(col("o_orderkey"))).df

  def qLift(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").take(1, Seq(col("o_orderdate"), col("o_orderkey")))
      .project("o_orderdate").df

  def qCountDegree(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = t(s, dir, "orders")
    Seq((r.count(), r.degree)).toDF("n_rows", "degree")
  }

  // ================================================= §2.2 dyadic (natural)

  def qJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").rename("c_nationkey" -> "nationkey")
    val n = t(s, dir, "nation").rename("n_nationkey" -> "nationkey")
    c.join(n).df
  }

  def qCompose(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").rename("c_nationkey" -> "nationkey")
    val n = t(s, dir, "nation").rename("n_nationkey" -> "nationkey")
    c.compose(n).df
  }

  def qSemijoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").rename("c_custkey" -> "custkey")
    val o = t(s, dir, "orders").rename("o_custkey" -> "custkey")
    c.semijoin(o).df
  }

  def qRsemijoin(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem").rename("l_suppkey" -> "suppkey")
    val sup = t(s, dir, "supplier").rename("s_suppkey" -> "suppkey")
    l.rsemijoin(sup).df
  }

  def qAjoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").rename("c_custkey" -> "custkey")
    val o = t(s, dir, "orders").rename("o_custkey" -> "custkey")
      .where(col("o_totalprice") > 400000.0)
    c.ajoin(o).df
  }

  def qAjoinl(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").rename("c_custkey" -> "custkey")
    val o = t(s, dir, "orders").rename("o_custkey" -> "custkey")
      .where(col("o_totalprice") > 400000.0)
    c.ajoinl(o).df
  }

  def qRajoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").rename("o_custkey" -> "custkey")
      .where(col("o_totalprice") > 400000.0)
    val c = t(s, dir, "customer").rename("c_custkey" -> "custkey")
    o.rajoin(c).df
  }

  def qDivide(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").rename("p_partkey" -> "partkey")
    val l = t(s, dir, "lineitem").rename("l_partkey" -> "partkey")
    p.divide(l).df
  }

  def qRdivide(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem").rename("l_partkey" -> "partkey")
    val p = t(s, dir, "part").rename("p_partkey" -> "partkey")
    l.rdivide(p).df
  }

  // ======================================================== §2.3 set ops

  private def custNations(s: SparkSession, dir: String): Rel =
    t(s, dir, "customer").transform("nationkey" -> col("c_nationkey"))
  private def suppNations(s: SparkSession, dir: String): Rel =
    t(s, dir, "supplier").transform("nationkey" -> col("s_nationkey"))

  def qUnion(s: SparkSession, dir: String): DataFrame =
    custNations(s, dir).union(suppNations(s, dir)).df

  def qIntersect(s: SparkSession, dir: String): DataFrame =
    custNations(s, dir).intersect(suppNations(s, dir)).df

  def qMinus(s: SparkSession, dir: String): DataFrame =
    custNations(s, dir).minus(suppNations(s, dir)).df

  def qSymdiff(s: SparkSession, dir: String): DataFrame =
    custNations(s, dir).symdiff(suppNations(s, dir)).df

  def qSub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(suppNations(s, dir).sub(custNations(s, dir))).toDF("is_sub")
  }

  def qReleq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = t(s, dir, "nation").rename("n_regionkey" -> "regionkey")
    val r = t(s, dir, "region").rename("r_regionkey" -> "regionkey")
    val joined = n.semijoin(r).project("n_nationkey")
    Seq(n.project("n_nationkey").relEquals(joined)).toDF("is_eq")
  }

  // ==================================================== §2.4 aggregation

  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .aggregate(Seq("l_returnflag", "l_linestatus"),
        "sum_qty" -> sum(col("l_quantity").cast(dec182)).cast("double"),
        "sum_base_price" -> sum(col("l_extendedprice").cast(dec182)).cast("double"),
        "sum_disc_price" -> sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec184)).cast("double"),
        "avg_qty" -> (sum(col("l_quantity").cast(dec182)).cast("double") / count(lit(1))),
        "count_order" -> count(lit(1))).df

  /** Composite multi-join FLAGSHIP (TPC-H Q10 shape through the Rel DSL,
    * the reference's multi-operator pipeline pattern —
    * Sample/sample4.andl and Sample/SPPsample1.andl chain rename → join →
    * restrict → aggregate the same way): customer ⋈ orders ⋈ lineitem ⋈
    * nation as NATURAL joins over renamed keys, a date-window + return-
    * flag restriction, a grouped revenue fold, and an ordered top-20.
    * One declarative plan: Catalyst pushes both filters into the scans,
    * broadcasts the nation dimension, and AQE picks the join order —
    * PlanSpec pins the broadcast + no-cartesian contract. The DuckDB
    * oracle replays the whole pipeline. */
  def qQ10Top(s: SparkSession, dir: String): DataFrame = {
    // rename-then-natural-join keeps every Rel knownDistinct (base tables
    // are keyed; rename/where/join preserve it), so the grouped fold runs
    // with NO set-dedup shuffle — and Catalyst's column pruning trims the
    // unused attributes out of every scan without explicit projects
    val cust = t(s, dir, "customer").rename("c_nationkey" -> "n_nationkey")
    val ord = t(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
      .rename("o_custkey" -> "c_custkey")
    val li = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
      .rename("l_orderkey" -> "o_orderkey")
    val nat = t(s, dir, "nation")
    cust.join(ord).join(li).join(nat)
      .extend("rev" -> (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec184))
      .aggregate(Seq("c_custkey", "c_name", "c_acctbal", "n_name"),
        "revenue" -> sum(col("rev")).cast("double"))
      .take(20, Seq(col("revenue").desc, col("c_custkey"))).df
  }

  def qAggScalar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").aggregate(Nil,
      "revenue" -> Fold.fold("+", (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec184)).cast("double")).df

  def qFoldMinMax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").aggregate(Seq("o_orderpriority"),
      "min_price" -> Fold.fold("min", col("o_totalprice")),
      "max_price" -> Fold.fold("max", col("o_totalprice")),
      "n" -> Fold.foldCount()).df

  def qFoldConcat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation").aggregate(Seq("n_regionkey"),
      "nations" -> Fold.concatFold(Seq(col("n_name")), col("n_name"), ",")).df

  def qFoldProduct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").where(col("l_orderkey") <= 1000)
      .aggregate(Seq("l_orderkey"),
        "disc_product" -> round(Fold.fold("*", lit(1.0) + col("l_discount")), 6)).df

  def qFoldUser(s: SparkSession, dir: String): DataFrame = {
    // generic user-function fold (T,T)→T via typed Aggregator (SURVEY §2.9)
    implicit val de: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
    val foldMax = udaf(Fold.userFold[Double](Double.MinValue, math.max), de)
    t(s, dir, "lineitem").where(col("l_orderkey") <= 1000)
      .aggregate(Seq("l_orderkey"), "max_qty" -> foldMax(col("l_quantity"))).df
  }

  // ============================================== §2.5 ordering / window

  private def orderSpec = OrderSpec(Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")))

  def qRunning(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .extend("running_total" ->
        sum(col("o_totalprice").cast(dec182)).over(orderSpec.running).cast("double"))
      .project("o_orderkey", "o_custkey", "running_total").df

  def qLagLead(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .extend(
        "prev_price" -> Ordered.lagD(col("o_totalprice"), 1, DoubleType, orderSpec),
        "next_price" -> Ordered.leadD(col("o_totalprice"), 1, DoubleType, orderSpec),
        "ordinal" -> Ordered.ord(orderSpec))
      .project("o_orderkey", "prev_price", "next_price", "ordinal").df

  def qNth(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .extend("first_price" -> Ordered.nthD(col("o_totalprice"), 0, DoubleType, orderSpec))
      .project("o_orderkey", "o_custkey", "first_price").df

  def qRank(s: SparkSession, dir: String): DataFrame = {
    val spec = OrderSpec(Seq("o_orderpriority"), Seq(col("o_totalprice").desc, col("o_orderkey")))
    t(s, dir, "orders")
      .extend("price_rank" -> Ordered.rank(spec))
      .where(col("price_rank") <= 10)
      .project("o_orderpriority", "o_orderkey", "price_rank").df
  }

  // ========================================================= §2.1 while

  def qWhile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seed = Rel.distinct(Seq(1L).toDF("n"))
    WhileFix.rel(seed, r => r.where(col("n") < 100).transform("n" -> (col("n") + 1L))).df
  }

  /** Distributed-regime fixpoint: events reachable from an `error` event
    * along each user's successor chain (src → next event of the same user).
    * The seed (every error event: ~20% of the table) outgrows the driver
    * tier at sf≥0.01, so the run is forced into WhileFix's distributed
    * loop by DATA SIZE, not by configuration — the regime the reference's
    * in-memory append-scan (DataTableLocal.cs:631-646) could never reach.
    * WhileSpec asserts the bailedToSpark path via [[WhileFix.Probe]]. */
  def qWhileDist(s: SparkSession, dir: String,
                 probe: WhileFix.Probe = null): DataFrame = {
    import graft.rel.Checkpoint.PinOps
    val ev = t(s, dir, "events")
    // successor edges, windowed PER USER (partitioned — never a global
    // sort); the no-NULL lead default (0) can't be a real successor since
    // event_ids ascend within a chain, so dst > src keeps exactly the
    // real edges. Pinned once: every fixpoint round joins this table.
    val chain = OrderSpec(Seq("user_id"), Seq(col("event_id")))
    val edgesDf = ev
      .extend("dst" -> Ordered.leadD(col("event_id"), 1, LongType, chain))
      .where(col("dst") > col("event_id"))
      .project("event_id", "dst")
      .rename("event_id" -> "src").df
      .pin()
    // Edge-side regime pick (the checkpointed edge list carries no stats,
    // so the planner would sort-merge EVERY layer): while the slim
    // (src,dst) list fits a broadcast (16B/row), one build per round
    // replaces an edge-side shuffle per LAYER — measured 1.4x on the
    // sf0.1 closure. Past the cap (the corpus-scale regime) the edge list
    // is re-homed ONCE into a bucketed-by-src scratch layout
    // (ScratchBuckets, r19): every layer's frontier⋈edges join then reads
    // a HashPartitioning(src) sorted bucketed scan — Exchange-free and
    // Sort-free on the edge side — instead of re-shuffling + re-sorting
    // the UnknownPartitioning pin per LAYER (8 layers/round).
    val seed = ev.where(col("event_type") === "error").project("event_id")
    // string-qualified aliases: the frontier itself derives from `edges`
    // after round 1, so df-reference column equality would be an
    // ambiguous self-join
    def fix(edges: DataFrame): DataFrame = WhileFix(seed.df,
      fr => fr.alias("f").join(edges.alias("e"), col("f.event_id") === col("e.src"))
        .select(col("e.dst").as("event_id")),
      tinyRows = 1000L, probe = probe)
    // the fixpoint's legs are checkpoint-truncated — the result never
    // reads the edge table again, so the fallback regime's scratch layout
    // is dead when fix returns. Its sort order is visible while the
    // per-layer joins plan: the edge side is Sort-free as well as
    // Exchange-free
    val out =
      if (edgesDf.count() * 16L < (32L << 20)) fix(broadcast(edgesDf))
      else graft.sources.ScratchBuckets.withLayout(edgesDf, Seq("src")) { l =>
        graft.sources.ScratchBuckets.withSortedScans(s)(fix(l.df))
      }
    edgesDf.unpin() // the edge-sized pin is dead too
    out
  }

  /** Composite recursive FLAGSHIP (while-closure feeding a grouped fold —
    * the reference's other signature multi-operator pattern: a `while`
    * transitive closure whose result is joined back and rolled up,
    * Sample/recursive.andl:18-35 + Test/Suite/SuiteRelWhile.andl chain
    * fixpoint → join → aggregate the same way): the q_while_dist
    * reachability fixpoint (events reachable from any `error` event along
    * each user's successor chain) is NATURAL-joined back to the events
    * table to recover the reached rows' attributes, then folded per
    * event_type — reach count, distinct reached users, exact value total.
    * The closure runs WhileFix's distributed semi-naive loop (forced into
    * the Spark tier by seed size, not configuration); the join back is
    * key=key on event_id so no cartesian can appear (PlanSpec pins it);
    * the decimal-cast sum keeps the double total order-independent. The
    * DuckDB oracle replays the whole pipeline with a recursive CTE. */
  def qWhileRollup(s: SparkSession, dir: String): DataFrame = {
    val reach = Rel.distinct(qWhileDist(s, dir)) // fixpoint output is a set
    val ev = t(s, dir, "events")
    reach.join(ev)
      .aggregate(Seq("event_type"),
        "n_reach" -> count(lit(1)),
        "n_users" -> count_distinct(col("user_id")),
        "sum_value" -> sum(col("value").cast(dec184)).cast("double")).df
  }

  // ======================================================== §2.6 updates

  def qUpdateInsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cat = new Catalog(s)
    cat.define("region", t(s, dir, "region"))
    cat.insert("region", Rel.distinct(Seq((99, "NEWLAND")).toDF("r_regionkey", "r_name")))
    cat.relvar("region").df
  }

  def qUpdateDelete(s: SparkSession, dir: String): DataFrame = {
    val cat = new Catalog(s)
    cat.define("region", t(s, dir, "region"))
    cat.deleteWhere("region", col("r_regionkey") === 0)
    cat.relvar("region").df
  }

  def qUpdateSet(s: SparkSession, dir: String): DataFrame = {
    val cat = new Catalog(s)
    cat.define("region", t(s, dir, "region"))
    cat.updateWhere("region", col("r_regionkey") === 1,
      "r_name" -> concat(lit("REGION_"), col("r_name")))
    cat.relvar("region").df
  }

  /** The NULL-predicate UPDATE contract ([[graft.rel.Rel.updateWhere]])
    * on both storage paths: the same mutation runs against a plain
    * copy-on-write relvar and a bucketed stored layout, and both results,
    * tagged by storage, check against ONE DuckDB CASE-expression oracle. */
  def qUpdateNull(s: SparkSession, dir: String): DataFrame = {
    closeStashed(lastUpdateNullCat)
    // r_tag is NULL for odd region keys, so startsWith over it is NULL
    val base = t(s, dir, "region")
      .extend("r_tag" -> when(col("r_regionkey") % 2 === 0, col("r_name")))
    val cat = new Catalog(s)
    def run(name: String, bucketed: Boolean): DataFrame = {
      if (bucketed) cat.defineBucketed(name, base, Seq("r_regionkey"), 2)
      else cat.define(name, base)
      cat.updateWhere(name, col("r_tag").startsWith("A"),
        "r_name" -> concat(lit("UPD_"), col("r_name")))
      cat.relvar(name).df.select(
        lit(if (bucketed) "bucketed" else "plain").as("storage"),
        col("r_regionkey"), col("r_name"), col("r_tag"))
    }
    val out = run("rn_plain", bucketed = false)
      .unionByName(run("rn_bkt", bucketed = true))
    lastUpdateNullCat.set(cat)
    out
  }

  /** Relvar VERSION HISTORY (snapshot-on-write + time travel): define,
    * insert, delete-by-predicate, and update each archive the previous
    * snapshot; every version then reads back AS-OF via
    * [[graft.catalog.Catalog.relvarAt]] and the union of the four
    * versioned reads hash-matches DuckDB replaying the same write
    * sequence — the catalog keeps its whole history, not just the head. */
  def qCatalogHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cat = new Catalog(s)
    cat.define("region", t(s, dir, "region"))
    cat.insert("region",
      Rel.distinct(Seq((99, "NEWLAND")).toDF("r_regionkey", "r_name")))
    cat.deleteWhere("region", col("r_regionkey") === 0)
    cat.updateWhere("region", col("r_regionkey") === 1,
      "r_name" -> concat(lit("V4_"), col("r_name")))
    (1 to cat.version("region")).map { v =>
      cat.relvarAt("region", v).df
        .select(lit(v).as("version"), col("r_regionkey"), col("r_name"))
    }.reduce(_ unionByName _)
  }

  /** BUCKETED relvar join — the declared-key scale story, oracle-gated:
    * customer and orders persist as co-bucketed tables (8 buckets on the
    * customer key via [[graft.catalog.Catalog.defineBucketed]]), then a
    * forced sort-merge join plus a same-key aggregation runs WITHOUT ANY
    * Exchange (PlanSpec pins the zero-shuffle plan contract; this row
    * pins the values). At 100 TB this is the difference between an
    * O(data) shuffle on every join against the relvar and none — the
    * shuffle is paid once at write time and reused by every reader. */
  /** The previous [[qBucketedJoin]] call's catalog, closed (physical
    * tables dropped) at the NEXT call: repeated bench/verify sweeps must
    * not accumulate dead bucketed generations in the warehouse. By the
    * time a next call runs, the previous result has been consumed. */
  private val lastBucketedCat =
    new java.util.concurrent.atomic.AtomicReference[Catalog](null)
  private val lastBucketedInsCat =
    new java.util.concurrent.atomic.AtomicReference[Catalog](null)
  private val lastBucketedUpdCat =
    new java.util.concurrent.atomic.AtomicReference[Catalog](null)
  private val lastUpdateNullCat =
    new java.util.concurrent.atomic.AtomicReference[Catalog](null)

  private def closeStashed(
      ref: java.util.concurrent.atomic.AtomicReference[Catalog]): Unit =
    Option(ref.getAndSet(null)).foreach { prev =>
      try prev.close()
      catch { case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"closing previous stashed catalog failed: $e")
      }
    }

  /** Incremental ingest THROUGH a bucketed relvar's stored layout
    * (Catalog.insertBucketed): the delta (novel keys + re-delivered
    * already-present rows) lands as new bucket files with set semantics,
    * the bucket spec survives, and the PRE-insert version keeps serving
    * exactly its captured file listing (n_v1). */
  def qBucketedInsert(s: SparkSession, dir: String): DataFrame = {
    closeStashed(lastBucketedInsCat)
    val cat = new Catalog(s)
    val base = t(s, dir, "part")
      .project("p_partkey", "p_name", "p_retailprice")
    cat.defineBucketed("po_bkt", base, Seq("p_partkey"), 8)
    val v1 = cat.version("po_bkt")
    // novel rows (shifted keys) + a re-delivered overlap of existing rows
    val novel = base.where(col("p_partkey") % 7 === 0)
      .extend("p_partkey" -> (col("p_partkey") + lit(5000000L)))
      .project("p_partkey", "p_name", "p_retailprice")
    val overlap = base.where(col("p_partkey") <= 50)
    cat.insertBucketed("po_bkt", novel.union(overlap))
    val nV1 = cat.relvarAt("po_bkt", v1).count() // pinned pre-insert listing
    val out = cat.relvar("po_bkt").df
      .groupBy((col("p_partkey") % 10).as("bucket_mod"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("p_retailprice")), 4).as("price_sum"))
      .withColumn("n_v1", lit(nV1))
    lastBucketedInsCat.set(cat)
    out
  }

  /** Layout-keeping mutations on a bucketed relvar
    * (Catalog.deleteWhere/updateWhere auto-route through a
    * generation-swapped rewrite of the stored layout — the delete is a
    * ZERO-exchange filter-rewrite): values checked after a predicate
    * delete + an in-place price rewrite, with n_v1 pinning that the
    * pre-mutation version kept serving its captured listing. */
  def qBucketedUpdate(s: SparkSession, dir: String): DataFrame = {
    closeStashed(lastBucketedUpdCat)
    val cat = new Catalog(s)
    val base = t(s, dir, "part")
      .project("p_partkey", "p_name", "p_retailprice")
    cat.defineBucketed("pm_bkt", base, Seq("p_partkey"), 8)
    val v1 = cat.version("pm_bkt")
    cat.deleteWhere("pm_bkt", col("p_partkey") % 3 === 0)
    cat.updateWhere("pm_bkt", col("p_retailprice") > 1500,
      "p_retailprice" -> (col("p_retailprice") * 0.9))
    val nV1 = cat.relvarAt("pm_bkt", v1).count() // pinned pre-mutation listing
    val out = cat.relvar("pm_bkt").df
      .groupBy((col("p_partkey") % 10).as("bucket_mod"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("p_retailprice")), 4).as("price_sum"))
      .withColumn("n_v1", lit(nV1))
    lastBucketedUpdCat.set(cat)
    out
  }

  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // close the evicted catalog UNCONDITIONALLY — it carries its own
    // session, so a next call arriving on a different SparkSession must
    // not strand the previous one's physical tables. A stopped previous
    // session can't drop its metastore entries anymore — nothing to
    // reclaim there but the warehouse files, which close still deletes
    // via the session's Hadoop conf if reachable; log and move on if not.
    closeStashed(lastBucketedCat)
    val cat = new Catalog(s)
    cat.defineBucketed("cust_bkt", t(s, dir, "customer"), Seq("c_custkey"), 8)
    cat.defineBucketed("ord_bkt", t(s, dir, "orders"), Seq("o_custkey"), 8)
    val c = cat.relvar("cust_bkt").df.select("c_custkey", "c_name")
    val o = cat.relvar("ord_bkt").df.select("o_custkey", "o_totalprice")
    val out = c.hint("merge").join(o, c("c_custkey") === o("o_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 6).as("min_price"),
        round(max(col("o_totalprice")), 6).as("max_price"))
    lastBucketedCat.set(cat)
    out
  }

  /** COMPOSITE FLAGSHIP #3 — the catalog lifecycle ACROSS A PROCESS
    * BOUNDARY, one oracle row: define bucketed → insertBucketed a delta
    * (novel keys + a re-delivered overlap) → updateWhere in place →
    * save → close → load into a FRESH catalog on a FRESH session → a
    * zero-Exchange co-located join (PlanSpec pins the plan contract)
    * PLUS an as-of read of the PRE-mutation version served from the
    * persisted history. Every piece is gated severally elsewhere; this
    * row proves the whole chain survives the boundary with exact values
    * against DuckDB replaying the same write sequence. */
  private val lastLifecycleCat =
    new java.util.concurrent.atomic.AtomicReference[Catalog](null)
  private val lastLifecycleDir =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  def qCatalogLifecycle(s: SparkSession, dir: String): DataFrame = {
    closeStashed(lastLifecycleCat)
    Option(lastLifecycleDir.getAndSet(null)).foreach { d =>
      try {
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    val cust = t(s, dir, "customer").project("c_custkey", "c_name", "c_acctbal")
    val ords = t(s, dir, "orders").project("o_custkey", "o_totalprice")
    val cat = new Catalog(s)
    cat.defineBucketed("lc_cust", cust, Seq("c_custkey"), 8)
    cat.defineBucketed("lc_ord", ords, Seq("o_custkey"), 8)
    // ingest: novel shifted keys + a re-delivered overlap (set semantics)
    val novel = cust.where(col("c_custkey") % 11 === 0)
      .extend("c_custkey" -> (col("c_custkey") + lit(9000000L)))
      .project("c_custkey", "c_name", "c_acctbal")
    val overlap = cust.where(col("c_custkey") <= 30)
    cat.insert("lc_cust", novel.union(overlap)) // auto-routes insertBucketed
    val vPre = cat.version("lc_cust")
    // in-place non-key mutation: the layout rewrite is exchange-free
    cat.updateWhere("lc_cust", col("c_acctbal") > 5000,
      "c_acctbal" -> (col("c_acctbal") * 0.9))
    val saveDir =
      java.nio.file.Files.createTempDirectory("graft_lifecycle").toString
    cat.save(saveDir)
    cat.close() // process boundary: the saved dir is the only survivor
    val s2 = s.newSession()
    val cat2 = Catalog.load(s2, saveDir)
    // the PRE-mutation version, served from the persisted history across
    // the boundary — content-fingerprinted (count alone would not catch
    // the update leaking into the archive, it preserves cardinality)
    val pre = cat2.relvarAt("lc_cust", vPre).df
      .agg(count(lit(1)).as("n_pre"),
        round(sum(col("c_acctbal")), 2).as("pre_bal")).collect()(0)
    val c = cat2.relvar("lc_cust").df
    val o = cat2.relvar("lc_ord").df
    val out = c.hint("merge").join(o, c("c_custkey") === o("o_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("price_sum"),
        round(min(col("c_acctbal")), 4).as("bal"))
      .withColumn("n_pre", lit(pre.getLong(0)))
      .withColumn("pre_bal", lit(pre.getDouble(1)))
    lastLifecycleCat.set(cat2)
    lastLifecycleDir.set(saveDir)
    out
  }

  /** Deliberately hot-keyed join — the skew gate (SURVEY scale-readiness):
    * ~20% of lineitem rows collapse onto ONE order key before a shuffled
    * (merge-hint, never broadcast) join back to orders. On a cluster at
    * real scale, AQE's skew-join split (on by default) carves the hot
    * partition into parallel splits; PlanSpec pins that reaction with
    * lowered skew thresholds, while this row pins result CORRECTNESS of
    * the skewed plan. */
  def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").df.select(
      when(col("l_orderkey") % 5 === 0, lit(1L)).otherwise(col("l_orderkey")).as("k"),
      col("l_quantity"))
    val o = t(s, dir, "orders").df.select(col("o_orderkey").as("k"),
      col("o_totalprice"))
    li.hint("merge").join(o, "k")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_li"),
        round(sum(col("l_quantity")), 6).as("sum_qty"),
        round(max(col("o_totalprice")), 6).as("max_price"))
  }

  // ================================================== §2.7 scalar library

  def qScalarText(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation").transform(
      "n_name" -> col("n_name"),
      "left3" -> Scalar.left(col("n_name"), lit(3)),
      "right12" -> Scalar.right(col("n_name"), lit(12)),
      "fill7" -> Scalar.fill(col("n_name"), lit(7)),
      "before_a" -> Scalar.before(col("n_name"), lit("A")),
      "after_a" -> Scalar.after(col("n_name"), lit("A")),
      "cat_x" -> Scalar.cat(col("n_name"), lit("_x")),
      "lower_name" -> lower(col("n_name")),
      "name_len" -> length(col("n_name")),
      "is_match" -> Scalar.matches(col("n_name"), "^[A-F]")).df

  def qScalarMath(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").transform(
      "p_partkey" -> col("p_partkey"),
      "div7" -> Scalar.divTrunc(col("p_partkey"), lit(7)),
      "mod7" -> Scalar.modTrunc(col("p_partkey"), lit(7)).cast("long"),
      "size_sq" -> Scalar.power(col("p_size"), lit(2)),
      "neg_size" -> (-col("p_size")),
      "max_sz" -> greatest(col("p_size"), lit(25)),
      "min_sz" -> least(col("p_size"), lit(25))).df

  def qScalarDate(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").transform(
      "o_orderkey" -> col("o_orderkey"),
      "yr" -> Scalar.yearOf(col("o_orderdate")),
      "mo" -> Scalar.monthOf(col("o_orderdate")),
      "dy" -> Scalar.dayOf(col("o_orderdate")),
      "dow" -> Scalar.dowOf(col("o_orderdate")),
      "days_since_95" -> Scalar.daysDiff(col("o_orderdate"), lit("1995-01-01").cast("timestamp"))).df

  def qIf(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").transform(
      "c_custkey" -> col("c_custkey"),
      "balance_class" -> Scalar.iif(col("c_acctbal") < 0, lit("neg"),
        Scalar.iif(col("c_acctbal") > 5000, lit("high"), lit("mid")))).df

  // ================================================ §1.4 events / time

  /** events.ts is parquet TIMESTAMP(NANOS): shared nanos→micros coercion
    * ([[Sources.nanosTsToMicros]] — same helper the streaming source uses). */
  private def events(s: SparkSession, dir: String): Rel =
    Rel.distinct(Sources.nanosTsToMicros(Sources.parquet(s, s"$dir/events.parquet")))

  def qEventsHour(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .extend("hour" -> date_trunc("hour", col("ts")))
      .transform("hour" -> col("hour"), "event_type" -> col("event_type"),
        "value" -> col("value"), "event_id" -> col("event_id"))
      .aggregate(Seq("hour", "event_type"),
        "n" -> count(lit(1)),
        "total_value" -> sum(col("value").cast(dec184)).cast("double")).df

  // ========================================================== §2.1 nest

  def qNestUnnest(s: SparkSession, dir: String): DataFrame = {
    val nested = Nest.nest(
      t(s, dir, "customer").project("c_nationkey", "c_custkey", "c_name"),
      "custs", Seq("c_custkey", "c_name"))
    Nest.unnest(nested, "custs").df
  }

  def qNestCard(s: SparkSession, dir: String): DataFrame =
    Nest.nest(t(s, dir, "customer").project("c_nationkey", "c_custkey", "c_name"),
        "custs", Seq("c_custkey", "c_name"))
      .extend("n_custs" -> size(col("custs")))
      .project("c_nationkey", "n_custs").df

  // ============================================= pipeline: deduplication

  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents").bagDF)

  /** Near-dup documents (ultra-short texts excluded — standard pipeline
    * hygiene, and it keeps the oracle's shingle math on meaningful docs).
    * Output is the LSH-found, exact-verified pair set; the DuckDB oracle
    * computes the full all-pairs ground truth, so a green row certifies
    * BOTH the Jaccard math and 100% recall of the banding at this
    * threshold (every true pair here has j ≥ 0.9 → detection probability
    * 1-(1-0.9^4)^16 ≈ 1-4e-8 per pair). */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(
        t(s, dir, "documents").where(length(col("text")) >= 5).bagDF,
        threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents").bagDF, maxDist = 3)

  def qDedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
        t(s, dir, "documents").where(length(col("text")) >= 5).bagDF,
        threshold = 0.7)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** tables=6 LSH amplification: per-pair miss odds ≤ 0.47^6 ≈ 1% even at
    * the weakest in-threshold cosine, so the full found-set equals the
    * all-pairs ground truth the oracle computes (verified empirically —
    * recall 1.0 at tables ≥ 4 on this corpus). */
  def qDedupEmbed(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingPairs(t(s, dir, "embeddings").bagDF, threshold = 0.4,
        tables = 6)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))

  /** SimHash blocking audit on a bounded subset: the pigeonhole chunk
    * blocking is provably EXACT for hamming ≤ maxDist, and this query
    * checks that theorem differentially against a brute-force all-pairs
    * hamming scan — `blocking_complete` (no pair missed) and
    * `blocking_sound` (no pair invented). DuckDB cannot replicate
    * xxhash64-based simhash, so it anchors the subset size and the two
    * contract booleans; a blocking regression flips a boolean → red. */
  def qSimhashCheck(s: SparkSession, dir: String): DataFrame = {
    val sub = t(s, dir, "documents")
      .where(col("doc_id") < 200 && length(col("text")) >= 5).bagDF
    val found = Dedup.simhashPairs(sub, maxDist = 3).select("id_a", "id_b")
    val sh = sub.select(col("doc_id").as("id"), Dedup.simhash(col("text")).as("sh"))
      .localCheckpoint()
    val brute = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 3)
      .select("id_a", "id_b")
    val missed = brute.join(found, Seq("id_a", "id_b"), "left_anti")
    val extra = found.join(brute, Seq("id_a", "id_b"), "left_anti")
    sub.agg(count(lit(1)).as("n_docs"))
      .crossJoin(missed.agg((count(lit(1)) === 0).as("blocking_complete")))
      .crossJoin(extra.agg((count(lit(1)) === 0).as("blocking_sound")))
  }

  /** Content-defined-chunking contract gate: (a) recon_ok — every doc's
    * Gear chunk (pos, len) spans tile the text exactly (concatenating the
    * slices rebuilds the string); (b) bounds_ok — every non-final chunk
    * lands in [minLen, maxLen], the final one within maxLen; (c)
    * shift_ok — prefixing a doc with "XYZ PAD. " re-synchronizes the
    * chunking: ≥ 60% of the original chunk hashes survive on average in
    * the shifted copy (a fixed-window chunker shares ~0% — this is the
    * CDC property itself). n_docs replays in DuckDB; booleans are the
    * in-query verdict. */
  def qCdcCheck(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF.select(col("doc_id"), col("text"))
    val ch = Dedup.cdcChunks(col("text"))
    val recon = docs.select(
      (array_join(transform(ch, c =>
        col("text").substr(c.getField("pos") + 1, c.getField("len"))), "")
        === col("text")).as("ok"),
      TextAnalysis.bind(ch) { cs =>
        forall(slice(cs, lit(1), greatest(size(cs) - 1, lit(0))),
          c => c.getField("len") >= 16 && c.getField("len") <= 128) &&
          forall(cs, c => c.getField("len") <= 128)
      }.as("bounds"))
    def hashes(c: Column) = transform(c, x => x.getField("hash"))
    val shift = docs.filter(length(col("text")) >= 256)
      .select(TextAnalysis.bind(hashes(ch)) { h0 =>
        TextAnalysis.bind(
          hashes(Dedup.cdcChunks(concat(lit("XYZ PAD. "), col("text"))))) { h1 =>
          size(array_intersect(h0, h1)).cast("double") / size(h0)
        }
      }.as("share"))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(recon.agg((min(col("ok").cast("int")) === 1).as("recon_ok")))
      .crossJoin(recon.agg((min(col("bounds").cast("int")) === 1).as("bounds_ok")))
      .crossJoin(shift.agg((avg(col("share")) >= 0.6).as("shift_ok")))
  }

  /** Image-dedup contract gate over the whole render → decode → dHash →
    * pigeonhole pipeline, on a bounded subset (doc_id < 200): (a)
    * blocking_complete/sound — the banded self-join returns EXACTLY the
    * hamming ≤ 4 pairs an all-pairs differential over the same dHashes
    * finds; (b) plants_found — docs sharing an identical 200-char ASCII
    * prefix render to identical images ([[Multimodal.renderTextImages]] is
    * injective), so hamming 0 forces them into the result. n_docs and the
    * identical-prefix pair count replay exactly in DuckDB from the text. */
  /** Shared prefix frame for the perceptual contract gates: (doc_id, p)
    * with p the doc's printable-ASCII 200-char prefix. */
  private def prefixDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").where(col("doc_id") < 200).bagDF
      .select(col("doc_id"),
        regexp_replace(substring(col("text"), 1, 200), "[^ -~]", "").as("p"))
      .filter(length(col("p")) > 0)
      .localCheckpoint()

  /** Shared verdict computation for the perceptual (image/audio) dedup
    * gates: blocking differential vs all-pairs over the same hashes, plus
    * identical-prefix plants forced into the result by the injective
    * renderers. */
  private def perceptualVerdict(docs: DataFrame, found0: DataFrame,
                                hs0: DataFrame, maxDist: Int): DataFrame = {
    val found = found0.select("id_a", "id_b").localCheckpoint()
    val hs = hs0.localCheckpoint()
    val brute = hs.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(hs.select(col("id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxDist)
      .select("id_a", "id_b")
    val missed = brute.join(found, Seq("id_a", "id_b"), "left_anti")
    val extra = found.join(brute, Seq("id_a", "id_b"), "left_anti")
    val plants = docs.as("a").join(docs.as("b"),
        col("a.p") === col("b.p") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val missedPlants = plants.join(found, Seq("id_a", "id_b"), "left_anti")
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(docs.groupBy("p").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0))
          .cast("long").as("n_prefix_pairs")))
      .crossJoin(missed.agg((count(lit(1)) === 0).as("blocking_complete")))
      .crossJoin(extra.agg((count(lit(1)) === 0).as("blocking_sound")))
      .crossJoin(missedPlants.agg((count(lit(1)) === 0).as("plants_found")))
  }

  def qImageDedupCheck(s: SparkSession, dir: String): DataFrame = {
    val docs = prefixDocs(s, dir)
    val assets = Multimodal.toAssets(
      Multimodal.renderTextImages(docs, "doc_id", "p"),
      "asset_id", "img", "image", "check")
    perceptualVerdict(docs, Multimodal.imageNearDup(assets, maxDist = 4),
      Multimodal.dHashes(assets), maxDist = 4)
  }

  /** Audio twin of [[qImageDedupCheck]]: docs render to 16-bit PCM WAVs
    * through the injective [[Multimodal.renderTextWavs]] layout (PCM
    * equality ⇔ prefix equality), the energy-envelope aHash blocks via the
    * same pigeonhole join, and the verdict is the same
    * complete/sound/plants contract — so ALL three modalities' dedup
    * paths are DuckDB-gated. */
  def qAudioDedupCheck(s: SparkSession, dir: String): DataFrame = {
    val docs = prefixDocs(s, dir)
    val assets = Multimodal.toAssets(
      Multimodal.renderTextWavs(docs, "doc_id", "p"),
      "asset_id", "wav", "audio", "check")
    perceptualVerdict(docs, Multimodal.audioNearDup(assets, maxDist = 4),
      Multimodal.audioHashes(assets), maxDist = 4)
  }

  /** Video member of the perceptual-dedup contract family: docs render to
    * MJPEG-AVI clips ([[Multimodal.renderTextAvis]] — real RIFF container,
    * real JPEG frames, decoded end-to-end by the default
    * [[Multimodal.MjpegAviDecoder]] path, no stub anywhere), the
    * first-frame dHash ([[Multimodal.vHash64]]) blocks via the shared
    * pigeonhole join, and the verdict is the same complete/sound/plants
    * differential — so all FOUR modalities' dedup paths are DuckDB-gated.
    * JPEG lossiness demotes injectivity to determinism, which plants
    * need: equal prefixes ⇒ byte-identical clips ⇒ hamming 0. */
  def qVideoDedupCheck(s: SparkSession, dir: String): DataFrame = {
    val docs = prefixDocs(s, dir)
    val assets = Multimodal.toAssets(
      Multimodal.renderTextAvis(docs, "doc_id", "p"),
      "asset_id", "avi", "video", "check")
    perceptualVerdict(docs, Multimodal.videoNearDup(assets, maxDist = 4),
      Multimodal.videoHashes(assets), maxDist = 4)
  }

  /** Exact all-pairs ground truth on a bounded subset — DuckDB-oracled
    * correctness anchor for the dedup family's Jaccard/cosine math. */
  def qNgramExact(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsExact(
      t(s, dir, "documents").where(col("doc_id") < 200 && length(col("text")) >= 5).bagDF,
      threshold = 0.5)

  def qEmbedExact(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingPairsExact(
      t(s, dir, "embeddings").where(col("vec_id") < 300).bagDF,
      threshold = 0.4)

  /** Near-dup CLUSTERING: connected components over the minhash pair set
    * (pointer-doubling min-label propagation — Cluster.scala), emitting
    * each clustered doc with its component representative and component
    * size. The DuckDB oracle recomputes the same components via a
    * recursive-CTE transitive closure over the identical pair set, so a
    * green row certifies the distributed CC algorithm end to end. */
  def qDedupCluster(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashPairs(
      t(s, dir, "documents").where(length(col("text")) >= 5).bagDF,
      threshold = 0.5).select("id_a", "id_b")
    graft.pipeline.Cluster.assign(pairs)
      .select(col("id").as("doc_id"), col("rep"), col("csize"))
  }

  /** DISTRIBUTED-tier connected components, oracle-gated (r19): the
    * pointer-doubling min-label loop run for real (driverEdgeCap = 0 keeps
    * the driver union-find shortcut out), over the per-user event
    * successor chains — path graphs, the WORST case for label propagation
    * (maximal diameter), so the O(log diameter) doubling rounds are
    * genuinely exercised. Each user's chain is one component and the
    * representative is the user's minimum event_id, which the oracle
    * states directly with window functions — certifying the distributed
    * loop (bucketed-by-src edge layout, per-round joins, convergence
    * detection) against a closed form. The bench rows before this one ran
    * the DRIVER tier only; the 100 TB regime had no gated row. */
  def qCcDist(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val chain = OrderSpec(Seq("user_id"), Seq(col("event_id")))
    val pairs = ev
      .extend("dst" -> Ordered.leadD(col("event_id"), 1, LongType, chain))
      .where(col("dst") > col("event_id"))
      .project("event_id", "dst").df
    graft.pipeline.Cluster
      .connectedComponents(pairs, "event_id", "dst", driverEdgeCap = 0)
      .select(col("id").as("event_id"), col("rep"))
  }

  /** Survivor selection, oracle-gated end to end: the corpus minus every
    * non-representative member of a minhash near-dup cluster — the final
    * keep/drop decision of the dedup pipeline. One left_anti join of the
    * corpus against the (small) component map. */
  def qDedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").where(length(col("text")) >= 5).bagDF
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5).select("id_a", "id_b")
    graft.pipeline.Cluster.survivors(docs, pairs).select("doc_id")
  }

  /** Quality-weighted survivor selection, oracle-gated end to end: every
    * minhash near-dup cluster keeps its LONGEST member (ties → lowest id)
    * — the "keep the cleanest crawl" curation policy, vs
    * [[qDedupSurvivors]]'s min-id rule. The oracle replays the exact
    * Jaccard closure and picks per-component argmax by (length, −id). */
  def qSurvivorsQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").where(length(col("text")) >= 5).bagDF
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5).select("id_a", "id_b")
    val quality = docs.select(col("doc_id"), length(col("text")).as("score"))
    graft.pipeline.Cluster.survivorsBy(docs, pairs, quality).select("doc_id")
  }

  /** Incremental chunk-level dedup contract: the historical CDC chunk
    * index is built from docs ≥ 100; the delta is the remaining docs PLUS
    * planted prefixed copies of long history docs. Every planted copy
    * must report a high duplicated-content fraction against history
    * (chunk re-sync, work scaling with the delta only); delta row count
    * replays in DuckDB. */
  def qIncrCdc(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    val history = docs.filter(col("doc_id") >= 100)
    val idx = graft.streaming.DocStream.buildChunkIndex(history)
    val planted = history.filter(col("doc_id") < 120 && length(col("text")) >= 300)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("EDITED COPY PREFIX. "), col("text")).as("text"))
    val delta = docs.filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text")).unionByName(planted)
    val rep = graft.streaming.DocStream.chunkDupFraction(delta, idx)
    rep.agg(count(lit(1)).as("n_delta"))
      .crossJoin(rep.filter(col("doc_id") >= 1000000L)
        .agg((min(col("dup_frac")) >= 0.4 && avg(col("dup_frac")) >= 0.6)
          .as("planted_caught")))
  }

  /** [[qIncrCdc]] through the PERSISTED chunk index: build →
    * saveChunkIndex (one table bucketed by hash, chunking parameters in
    * the meta) → loadChunkIndex → probe the delta against the STORED
    * layout with the parameters the meta carries. Same oracle as
    * q_incr_cdc — the disk round trip must be invisible in the verdict. */
  def qCdcPersist(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    val history = docs.filter(col("doc_id") >= 100)
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdi-q").toString
    graft.streaming.DocStream.saveChunkIndex(
      graft.streaming.DocStream.buildChunkIndex(history), tmp)
    val loaded = graft.streaming.DocStream.loadChunkIndex(s, tmp)
    val planted = history.filter(col("doc_id") < 120 && length(col("text")) >= 300)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("EDITED COPY PREFIX. "), col("text")).as("text"))
    val delta = docs.filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text")).unionByName(planted)
    val rep = graft.streaming.DocStream.chunkDupFraction(delta, loaded,
      "doc_id", "text")
    rep.agg(count(lit(1)).as("n_delta"))
      .crossJoin(rep.filter(col("doc_id") >= 1000000L)
        .agg((min(col("dup_frac")) >= 0.4 && avg(col("dup_frac")) >= 0.6)
          .as("planted_caught")))
  }

  /** Sketch-family contract row: each approximate summary checked against
    * its exact counterpart within the sketch's published error bound (with
    * ≥2× slack so the row trips on regressions, not estimator noise). All
    * sketches are seeded/hash-deterministic, so green is stable.
    *  - HLL++ distinct count of l_partkey within 5% of exact (rsd 2%);
    *  - approx median of o_totalprice within rank 0.48..0.52 of exact CDF;
    *  - Count-Min point estimates: ≥ true count (structural guarantee) and
    *    ≤ true + 2·eps·N for every nation key;
    *  - Bloom filter: zero false negatives over all present keys
    *    (structural guarantee). */
  def qSketchCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem").bagDF
    val ord = t(s, dir, "orders").bagDF
    // HLL vs exact
    val hll = li.agg(
      graft.functions.Sketches.approxDistinct(col("l_partkey")).as("apx"),
      countDistinct(col("l_partkey")).as("ext")).collect()(0)
    val hllOk = math.abs(hll.getLong(0).toDouble / hll.getLong(1) - 1.0) <= 0.05
    // approximate median rank accuracy
    val apxMed = ord.agg(graft.functions.Sketches
      .approxQuantile(col("o_totalprice"), 0.5).as("m")).collect()(0).getDouble(0)
    val nOrd = ord.count()
    val below = ord.filter(col("o_totalprice") <= apxMed).count()
    val qOk = below.toDouble / nOrd >= 0.48 && below.toDouble / nOrd <= 0.52
    // Count-Min point queries vs exact per-key counts
    val cms = graft.functions.Sketches.countMin(li, "l_suppkey", eps = 0.001)
    val truth = li.groupBy("l_suppkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val nLi = truth.map(_._2).sum
    val cmsOk = truth.forall { case (k, n) =>
      val est = cms.estimateCount(k); est >= n && est <= n + (2 * 0.001 * nLi).toLong
    }
    // Bloom: no false negatives over present keys
    val bf = graft.functions.Sketches.bloom(ord, "o_custkey", 20000L)
    val bloomOk = ord.select("o_custkey").distinct().collect()
      .forall(r => bf.mightContain(r.getLong(0)))
    // mergeable HLL STATE: per-source sketches unioned == whole-corpus
    // estimate within 5% of exact (the incremental-profiling pattern)
    val docs = t(s, dir, "documents").bagDF
    val mergedEst = docs
      .groupBy("source").agg(graft.functions.Sketches.hllState(col("doc_id"), 12).as("sk"))
      .agg(graft.functions.Sketches.hllEstimate(
        graft.functions.Sketches.hllMerge(col("sk"))).as("est"))
      .collect()(0).getLong(0)
    val exactDocs = docs.agg(countDistinct(col("doc_id"))).collect()(0).getLong(0)
    val hllMergeOk = math.abs(mergedEst.toDouble / exactDocs - 1.0) <= 0.05
    Seq((hllOk, qOk, cmsOk, bloomOk, hllMergeOk))
      .toDF("hll_ok", "quantile_ok", "cms_ok", "bloom_ok", "hll_merge_ok")
  }

  /** End-to-end corpus cleaning — the composed shape a real training-data
    * pipeline runs: enrich (language ID, token counts, punctuation ratio)
    * → filter low-quality docs → exact-dedup survivors keeping the lowest
    * doc_id per fingerprint. One scan + one aggregation; every stage is
    * the already-oracled primitive, composed. */
  def qPipelineClean(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").bagDF
      .select(col("doc_id"), col("text"),
        TextAnalysis.langId(col("text")).as("lang_guess"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"))
      .filter(col("n_tokens") >= 3 && col("punct_ratio") <= 0.5)
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
           count(lit(1)).as("dup_count"),
           min(col("lang_guess")).as("lang_guess"),
           min(col("n_tokens")).as("n_tokens"))
      .drop("fp")

  /** Deterministic stratified sampling — the corpus-mix step of a training
    * run ("keep 100% of src0, 50% of src1, 25% of src2, 10% of src3, drop
    * the rest"), content-hash based so membership is stable across
    * partitioning/cluster size/engine (Sampling.scala). The DuckDB oracle
    * recomputes the identical md5-bucket predicate. */
  def qSampleStrat(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedHashSample(
      t(s, dir, "documents").bagDF,
      stratum = col("source"), key = col("doc_id"),
      rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
      .select("doc_id", "source")

  /** Deterministic corpus shuffle for training order: every doc gets its
    * 1-based rank under a content-hash total order — the "randomize the
    * corpus reproducibly" step before sharding. Reuses the scale-safe
    * two-pass global ordinal (rel/Ordered.withGlobalOrdinal): range
    * partition by the hash key + per-partition numbering + prefix-sum of
    * partition counts — never a single-partition window. */
  def qShuffleOrder(s: SparkSession, dir: String): DataFrame =
    graft.rel.Ordered.withGlobalOrdinal(
        t(s, dir, "documents").bagDF
          .select(col("doc_id"), md5(col("doc_id").cast("string")).as("__k")),
        Seq(col("__k"), col("doc_id")), "shuffle_rank")
      .select("doc_id", "shuffle_rank")

  /** Split-leakage audit — the composed hygiene check every split needs:
    * snippets drawn from TEST-split documents are fuzzily matched (q-gram
    * containment ≥ 0.6) against TRAIN-split documents. The corpus's
    * near-dup structure produces genuine cross-split leakage, which the
    * oracle reproduces by chaining the split predicate into the same gram
    * CTEs. */
  def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = Sampling.hashSplit(t(s, dir, "documents").bagDF, col("doc_id"))
    val train = docs.filter(col("split") === "train")
    val testSplit = docs.filter(col("split") === "test")
    Decontaminate.fuzzyContaminated(
        train, Decontaminate.evalSnippets(testSplit), n = 8, frac = 0.6)
      .select(col("doc_id").as("train_doc_id"), col("eval_id").as("test_doc_id"),
        round(col("overlap"), 6).as("overlap"))
  }

  /** Temperature-balanced mixing (α=0.5, target 50%): per-source rates
    * derived from tempered corpus shares inside the plan, content-hash
    * membership — the oracle recomputes the identical rate table and
    * md5 predicate. */
  def qTempMix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(t(s, dir, "documents").bagDF,
        stratum = col("source"), key = col("doc_id"))
      .select("doc_id", "source")

  /** Best-5 documents per source by composite quality score — grouped
    * top-k through the two-phase no-window operator (rel/TopK.scala):
    * the curation step "keep only the best of each source". Scores are
    * 6dp-rounded on both sides so ordering and ties replay identically;
    * ties break by doc_id. */
  def qTopQuality(s: SparkSession, dir: String): DataFrame =
    graft.rel.TopK.perGroup(
      t(s, dir, "documents").bagDF,
      group = col("source"),
      score = TextAnalysis.qualityScore(col("text")),
      tie = col("doc_id"),
      k = 5, groupName = "source", tieName = "doc_id", scoreName = "quality")

  /** Deterministic train/val/test split (80/10/10 by content hash): the
    * membership predicate is a pure function of doc_id, replayed verbatim
    * by the oracle — the split every training run starts from. */
  def qSplit(s: SparkSession, dir: String): DataFrame =
    Sampling.hashSplit(t(s, dir, "documents").bagDF, col("doc_id"))
      .select("doc_id", "split")

  /** TF-IDF term weights (tf ≥ 2) over the documents corpus — emitted as
    * scored (doc, term) rows, no argmax (bit-robust across engines). */
  def qTfidf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidf(t(s, dir, "documents").bagDF)

  /** Gap-based sessionization of the events table (Spark native
    * session_window, 30-minute gap) vs a DuckDB gaps-and-islands oracle:
    * same break rule (gap ≥ 30 min starts a new session). */
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.sessionize(events(s, dir).bagDF)

  /** Privacy scrub over the corpus with DETERMINISTICALLY PLANTED pii (the
    * synthetic texts contain none) — every 7th doc gains an email, every
    * 7th+1 a URL, so the masking path is actually exercised and the DuckDB
    * oracle replays the identical plant + scrub. */
  def qScrub(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").bagDF.select(col("doc_id"),
      TextAnalysis.scrub(concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" contact bob@example.com now"))
          .when(col("doc_id") % 7 === 1, lit(" see https://example.com/a?b=c please"))
          .otherwise(lit("")))).as("text"))

  /** Canonical ingest normalization with PLANTED encoding variants: every
    * 11th doc gets a decomposed-accent suffix ("cafe" + COMBINING ACUTE),
    * every 13th extra whitespace/case noise — the normalized text must
    * collapse both to the canonical form the DuckDB oracle computes with
    * its own nfc_normalize. Pure narrow map, zero shuffles. */
  def qNormalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").bagDF.select(col("doc_id"),
      TextAnalysis.normalizeText(concat(col("text"),
        // DECOMPOSED accents (base char + U+0301) — NFC must compose them
        when(col("doc_id") % 11 === 0, lit(" cafe\u0301 visite\u0301e"))
          .when(col("doc_id") % 13 === 0, lit("  EXTRA\t Spaces \u00c9T\u00c9 "))
          .otherwise(lit("")))).as("norm_text"))

  /** URL canonicalization over three planted variant families (cased
    * scheme/host + default port, tracking params in first position,
    * fragment + port + tracker on a root path) — the crawl-dedup key
    * derivation, replayed step-for-step by the DuckDB oracle. */
  def qUrlCanon(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      when(col("doc_id") % 3 === 0, lit("HTTPS://Example.COM:443/Products/View"))
        .when(col("doc_id") % 3 === 1,
          lit("https://example.com/Products/View?utm_source=mail&id="))
        .otherwise(lit("http://EXAMPLE.com:80/?fbclid=abc#frag")),
      when(col("doc_id") % 3 === 1, col("doc_id").cast("string"))
        .otherwise(lit("")))
    t(s, dir, "documents").bagDF.select(col("doc_id"), raw.as("url"),
      TextAnalysis.canonicalizeUrl(raw).as("canon_url"))
  }

  /** Gopher-style quality rules + repetition signal, per document: named
    * boolean rule columns, the top-token ratio, and the composed keep
    * decision — the "why was this dropped" form of corpus filtering. */
  def qQualityRules(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    val rules = TextAnalysis.gopherRules(col("text"))
    val flags = docs.select(
      (col("doc_id") +: rules.map { case (n, c) => c.as(n) }): _*)
    flags.join(TextAnalysis.topTokenRatio(docs), Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("ok_tokens"), col("ok_tok_len"), col("ok_punct"), col("ok_stopwords"),
        round(coalesce(col("top_token_ratio"), lit(0.0)), 6).as("top_token_ratio"),
        (col("ok_tokens") && col("ok_tok_len") && col("ok_punct") &&
          col("ok_stopwords") &&
          coalesce(col("top_token_ratio"), lit(0.0)) <= 0.3).as("keep"))
  }

  /** Gopher repetition signals over the documents table — word-n-gram
    * top-2-gram and duplicate-3-gram character fractions, computed
    * IN-ROW (TextAnalysis.repetitionSignals: sorted-array run-length
    * pass, no explode, no shuffle). The DuckDB oracle replays the same
    * math relationally (unnest + group counts), so the gate proves the
    * narrow-scan plan computes the exact per-doc fractions. */
  def qRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    val sigs = TextAnalysis.repetitionSignals(col("text"))
    docs.select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
  }

  /** Chunk-level (C4-style line) dedup: 10-token chunks, first global
    * occurrence wins. The synthetic corpus's small vocabulary makes real
    * cross-doc duplicate chunks, so `kept=false` rows genuinely appear. */
  def qChunkDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedup(t(s, dir, "documents").bagDF, chunkTokens = 10)
      .select(col("doc_id"), col("chunk_idx"), col("chunk"), col("kept"))

  /** Corpus-self-trained bigram LM score per document (mean ln P, add-0.5
    * smoothing) — the perplexity-style quality signal. The DuckDB oracle
    * retrains the identical LM and rescores; 6dp-rounded decimal log sums
    * make both sides bit-stable. */
  def qLmScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmScore(t(s, dir, "documents").bagDF)

  /** Intra-document repetition removal with DETERMINISTICALLY PLANTED
    * repeats (the corpus has no natural within-doc chunk repeats): every
    * 5th doc is rewritten as its own first 10 tokens repeated 3× — the
    * "same paragraph pasted repeatedly" shape — so kept=false rows
    * genuinely appear and the drop path is oracle-exercised. The oracle
    * replays the identical plant and recomputes first-occurrence with a
    * per-(doc, chunk) window min. */
  def qIntraDedup(s: SparkSession, dir: String): DataFrame = {
    val t10 = array_join(
      slice(split(lower(trim(col("text"))), "\\s+"), 1, 10), " ")
    val planted = when(col("doc_id") % 5 === 0,
      concat_ws(" ", t10, t10, t10)).otherwise(col("text"))
    Dedup.intraDocDedup(
      t(s, dir, "documents").bagDF.withColumn("text", planted),
      chunkTokens = 10)
  }

  /** Train/eval decontamination: eval snippets are deterministic slices of
    * every 17th doc's normalized text; the result is the EXACT set of
    * (training doc, eval snippet) containment pairs — window-hash equi-join
    * candidates, contains-verified. The corpus's near-dup structure makes
    * genuine cross-doc hits (doc 0's snippet appears in its near-dups). */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    Decontaminate.contaminated(docs, Decontaminate.evalSnippets(docs))
  }

  /** Bloom-prefiltered decontamination
    * ([[Decontaminate.contaminatedBloom]]) — the large-eval-suite scale
    * path. No false negatives + exact verify ⇒ output identical to
    * [[qDecontaminate]], so the SAME full containment oracle gates it. */
  def qDecontamBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    Decontaminate.contaminatedBloom(docs, Decontaminate.evalSnippets(docs))
  }

  /** Semantic-dedup contract row. `soundness_ok`: every (rep, dropped)
    * pair the operator emitted is in the EXACT all-pairs near-dup set
    * (cosine ≥ 0.4) — i.e. no vector is ever dropped on false evidence
    * (this is structural: drops come from exact-verified pairs).
    * `recall_ok`: of the vectors that have a lower-id near-dup in the
    * exact all-pairs ground truth, the cluster-bounded pass must drop
    * ≥ 0.5 (observed ≥0.8 at both driver SFs with probe=2 — the bound has
    * ≥1.6× slack). The exact baseline is the already-oracled
    * embeddingPairsExact, so the contract is anchored to a DuckDB-checked
    * ground truth. */
  def qSemdedupCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings").bagDF
    val out = Dedup.semanticDedup(emb, threshold = 0.4).localCheckpoint()
    val dropped = out.filter(!col("kept")).select(col("vec_id"), col("rep_id"))
      .localCheckpoint()
    val exact = Dedup.embeddingPairsExact(emb, threshold = 0.4)
      .select("id_a", "id_b").localCheckpoint()
    val falseDrops = dropped.join(exact,
      col("rep_id") === col("id_a") && col("vec_id") === col("id_b"), "left_anti")
    val soundOk = falseDrops.count() == 0
    val should = exact.select(col("id_b").as("vec_id")).distinct()
    val nShould = should.count()
    val nHit = should.join(dropped.select("vec_id"), Seq("vec_id")).count()
    val recallOk = nShould == 0 || nHit.toDouble / nShould >= 0.5
    Seq((soundOk, recallOk)).toDF("soundness_ok", "recall_ok")
  }

  def qSemdedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(t(s, dir, "embeddings").bagDF, threshold = 0.4)

  /** Context-window chunking: every document split into 40-token chunks
    * with 10-token overlap — the "make rows fit the model's context" step.
    * Pure narrow map (no shuffle); the DuckDB oracle recomputes the same
    * slicing with list functions. */
  def qChunkSplit(s: SparkSession, dir: String): DataFrame =
    Pack.chunkSplit(t(s, dir, "documents").bagDF, chunkTokens = 40, overlap = 10)

  /** Greedy token-budget sequence packing, sharded by doc_id % 8: the
    * DuckDB oracle replays the identical greedy walk as a recursive CTE,
    * so every (doc → pack) assignment is hash-checked. */
  def qPack(s: SparkSession, dir: String): DataFrame =
    Pack.packGreedy(t(s, dir, "documents").bagDF, budget = 256, buckets = 8)

  /** End-to-end training-data preparation in ONE declarative plan:
    * Gopher-rule quality filter → exact dedup (lowest-id winner) → greedy
    * sequence packing of the survivors. Every stage is an
    * already-oracled primitive; the composed plan is what a real corpus
    * build runs, and Catalyst pipelines the filter into the dedup scan
    * (no separate pass per stage). The DuckDB oracle chains the identical
    * CTEs, ending in the recursive greedy replay. */
  def qE2ePrepare(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    val keep = TextAnalysis.gopherRules(col("text")).map(_._2).reduce(_ && _)
    val kept = docs.filter(keep)
    val winners = Dedup.exact(kept).select("doc_id")
    val survivors = kept.join(winners, "doc_id")
    Pack.packGreedy(survivors, budget = 256, buckets = 8)
  }

  /** Packing-efficiency report over [[qPack]]'s assignment: docs and token
    * fill per pack — the "how full are my training sequences" table. */
  def qPackStats(s: SparkSession, dir: String): DataFrame =
    Pack.packStats(
      Pack.packGreedy(t(s, dir, "documents").bagDF, budget = 256, buckets = 8),
      budget = 256)

  /** Language × source corpus mix: the per-language slice of the mixing
    * report (which sources carry which languages, by docs and tokens). */
  def qLangMix(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").bagDF
      .select(col("source"), TextAnalysis.langId(col("text")).as("lang_guess"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("__tok"))
      .groupBy("lang_guess", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"))

  /** Corpus-mix report: per-source document/token counts, token share of
    * the whole corpus, mean document length — the "what is this corpus
    * made of" table every mixing recipe starts from. The per-source
    * aggregation is map-side combinable; the grand total joins back onto
    * the (tiny, one-row-per-source) aggregate, never onto the corpus. */
  def qCorpusMix(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "documents").bagDF
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("__tot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("__tot"), 6).as("token_share"),
        round(col("n_tokens").cast("double") / col("n_docs"), 6).as("mean_doc_tokens"))
  }

  /** Per-column table profile of the corpus: row/distinct counts and value
    * range per column — one scan, one Aggregate, constant unpivot
    * ([[Profile.tableProfile]]). The first thing a pipeline runs over an
    * unfamiliar 100 TB table. */
  def qProfile(s: SparkSession, dir: String): DataFrame =
    Profile.tableProfile(t(s, dir, "documents").bagDF,
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** Key-skew report over the events stream's join key: top-20 hottest
    * user_ids with row share — the "broadcast, salt, or plain shuffle?"
    * decision table, computed with one shuffle and a distributed top-k
    * ([[Profile.skewReport]]). */
  def qSkewReport(s: SparkSession, dir: String): DataFrame =
    Profile.skewReport(events(s, dir).bagDF, col("user_id"), k = 20)

  /** Per-label embedding coherence: n_vecs and centroid norm per label
    * ([[Profile.embeddingCoherence]]) — run before choosing IVF/SemDeDup
    * parameters. The DuckDB oracle recomputes the identical
    * quantized-decimal centroid over unnested vectors. */
  def qEmbedStats(s: SparkSession, dir: String): DataFrame =
    Profile.embeddingCoherence(t(s, dir, "embeddings").bagDF)

  /** Approximate-profile contract row: the single-pass HLL++ profile
    * ([[Profile.tableProfileApprox]] — no Expand, the 100 TB health-check
    * path) must agree with the exact profile within 5% per column (rsd 2%,
    * ≥2× slack so the row trips on regressions, not estimator noise). */
  def qProfileCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").bagDF
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val apx = Profile.tableProfileApprox(docs, cols).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val ext = Profile.tableProfile(docs, cols).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val ok = cols.map(c => math.abs(apx(c).toDouble / ext(c) - 1.0) <= 0.05)
    Seq((ok(0), ok(1), ok(2), ok(3), ok(4)))
      .toDF("ok_doc_id", "ok_text", "ok_lang", "ok_source", "ok_n_chars")
  }

  /** Cross-document duplicated-span report at 8-token window granularity
    * ([[Dedup.dupSpanReport]]): per doc, how many of its distinct sliding
    * windows occur in at least one other document. The DuckDB oracle
    * regenerates the identical stride-1 window stream with list slicing
    * and recomputes the shared-window counts. */
  def qDupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanReport(t(s, dir, "documents").bagDF, spanTokens = 8)

  /** LEAKAGE-FREE train/val/test split: near-dup clusters are assigned to
    * splits ATOMICALLY — each doc splits on the content hash of its
    * cluster REPRESENTATIVE (its own id when unclustered), so two
    * near-duplicate documents can never land in different splits (the
    * leakage mode q_split_leakage audits for). Composes
    * [[Dedup.minhashPairs]] → [[Cluster.assign]] (pair-set-sized work,
    * never corpus-sized) with a left join of the corpus onto the component
    * map and the same narrow content-hash split predicate as q_split. */
  def qSplitSafe(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").where(length(col("text")) >= 5).bagDF
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5).select("id_a", "id_b")
    val comp = graft.pipeline.Cluster.assign(pairs)
      .select(col("id").as("doc_id"), col("rep"))
    val withRep = docs.select("doc_id").join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
    Sampling.hashSplit(withRep, col("rep")).select("doc_id", "rep", "split")
  }

  /** Quality-WEIGHTED sampling (soft quality filter): each doc keeps with
    * per-row rate min(1, 10·stopword_ratio) — the Gopher-style natural-
    * language signal, so fluent docs keep fully and word-salad docs are
    * downweighted but not hard-dropped ([[Sampling.weightedHashSample]]).
    * Content-hash membership, rate rounded to 2dp: the kept set is a pure
    * row function, and the oracle replays the identical rate + bucket
    * arithmetic. Narrow map, zero shuffles. */
  def qQualitySample(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedHashSample(t(s, dir, "documents").bagDF, col("doc_id"),
      least(lit(1.0), TextAnalysis.stopwordRatio(col("text")) * 10.0))
      .select("doc_id", "source")

  /** Corpus snapshot diff ([[graft.pipeline.Snapshot.diff]]): v2 is built
    * from v1 by a deterministic perturbation — every 17th doc dropped,
    * every 13th edited, every 19th re-added under a shifted id — and every
    * doc id in either version is classified added/removed/changed/
    * unchanged. Slim-row full-outer equi-join; the oracle rebuilds the
    * identical v2 and compares the same md5 fingerprints. */
  def qCorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = t(s, dir, "documents").bagDF
    val v2 = v1.where(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text")))
      .unionByName(v1.where(col("doc_id") % 19 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    graft.pipeline.Snapshot.diff(v1, v2)
  }

  /** Cleaned-corpus REBUILD: apply the chunk-dedup keep/drop decision and
    * materialize each document's surviving text ([[Dedup.chunkDedup]] →
    * per-doc ordered reassembly). The reassembly buffer is bounded by ONE
    * document (sort_array over the doc's own kept chunks — never a
    * corpus-wide or hot-key aggregation), so the rollup is safe at any
    * corpus scale. Oracle replays the same global-first-occurrence rule
    * and an ORDER BY chunk_idx string_agg. */
  def qRebuild(s: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedup(t(s, dir, "documents").bagDF)
      .where(col("kept"))
      .groupBy("doc_id")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("chunk_idx"), col("chunk")))),
        x => x.getField("chunk")), " ").as("clean_text"))

  /** Per-vector centered norms ([[Profile.centeredNorms]]) — the whitening
    * diagnostic before ANN/SemDeDup parameter choice. Oracle recomputes
    * the identical decimal-quantized per-dim mean and centered rollup. */
  def qEmbedCenter(s: SparkSession, dir: String): DataFrame =
    Profile.centeredNorms(t(s, dir, "embeddings").bagDF)

  /** Cross-SOURCE duplication matrix: near-dup pairs (minhash, full oracle
    * gate) grouped by the (source_a, source_b) pair — the report that
    * decides source precedence and which ingest feeds are re-crawls of
    * another. Pair-set-sized work joined twice against a slim (id, source)
    * projection. */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").where(length(col("text")) >= 5).bagDF
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5).select("id_a", "id_b")
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), "id_b")
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** Compression-ratio quality contract ([[graft.functions.DeflateRatio]]
    * — the zlib repetition/entropy signal): bounds hold on every doc, a
    * planted highly-repetitive doc compresses strictly better than the
    * corpus median, and high-entropy hex compresses strictly worse. The
    * byte-level work is engine-local (no SQL equivalent), so the gate is
    * a deterministic contract row, like the sketch checks. */
  def qCompressCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").bagDF
    val r = docs.select(graft.functions.DeflateRatio(col("text")).as("r"))
    val b = r.agg(min("r").as("lo"), max("r").as("hi")).collect()(0)
    val okBounds = b.getDouble(0) > 0.0 && b.getDouble(1) <= 1.2
    val med = r.stat.approxQuantile("r", Array(0.5), 0.0)(0)
    val repetitive = Seq(Tuple1(("spam ham " * 120).trim)).toDF("text")
      .select(graft.functions.DeflateRatio(col("text")).as("r"))
      .head.getDouble(0)
    val hexMean = docs
      .select(graft.functions.DeflateRatio(md5(col("text"))).as("r"))
      .agg(avg("r")).head.getDouble(0)
    Seq((okBounds, repetitive < med, hexMean > med))
      .toDF("ok_bounds", "ok_repetitive", "ok_entropy")
  }

  /** Winnowing fingerprints ([[TextAnalysis.winnow]] — the MOSS local
    * fingerprinting selection, Schleimer et al. 2003): per doc, the
    * distinct window-minimum k-gram hashes. The DuckDB oracle replays the
    * identical gram hashing and window-min selection over md5 hex strings
    * (lexicographic min matches across engines). */
  def qWinnow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").bagDF
      .select(col("doc_id"),
        explode(TextAnalysis.winnow(col("text"))).as("fp"))

  /** INCREMENTAL dedup as a batch query: a delta of arriving docs (exact
    * copies of every 23rd doc under shifted ids) is matched against the
    * historical corpus's band index ([[graft.streaming.DocStream]] —
    * delta × history only, never history × history, so daily ingest work
    * scales with the DELTA at 100 TB). The DuckDB oracle computes the full
    * exact delta×history trigram Jaccard: completeness and precision of
    * the banded incremental path are both gated. */
  def qIncrDedup(s: SparkSession, dir: String): DataFrame = {
    val hist = t(s, dir, "documents").where(length(col("text")) >= 5).bagDF
    val delta = hist.where(col("doc_id") % 23 === 0)
      .withColumn("doc_id", col("doc_id") + 2000000L)
    val idx = graft.streaming.DocStream.buildIndex(hist)
    graft.streaming.DocStream.matchAgainst(delta, idx, threshold = 0.5)
      .select(col("new_id"), col("dup_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** [[qIncrDedup]] STREAMED: the same delta flows as one micro-batch
    * through [[graft.streaming.DocStream.startIncrementalPersisted]] —
    * matched against a persisted index of the history, delivered to the
    * sink, and appended back under the batchId guard. A batch matches the
    * index BEFORE its own append, so with the delta in one batch every
    * match is delta-vs-history and the accumulated sink rows equal
    * q_incr_dedup's — the third route (in-memory, persisted, streamed)
    * through ONE exact oracle. */
  def qStreamIncrDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.rel.Checkpoint.PinOps
    val hist = t(s, dir, "documents").where(length(col("text")) >= 5).bagDF
    val delta = hist.where(col("doc_id") % 23 === 0)
      .withColumn("doc_id", col("doc_id") + 2000000L)
      .select("doc_id", "text")
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ndi-qs").toString
    val idx = graft.streaming.DocStream.buildIndex(hist)
    graft.streaming.DocStream.saveIndex(idx, idxDir, buckets = 8)
    idx.bandIndex.unpin(); idx.grams.unpinAll() // index lives on disk now
    val deltaDir = java.nio.file.Files.createTempDirectory("graft-ndi-qsd").toString
    delta.coalesce(1).write.mode("overwrite").parquet(deltaDir)
    val stream = s.readStream.schema(delta.schema).parquet(deltaDir)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = graft.streaming.DocStream.startIncrementalPersisted(stream, idxDir,
      m => acc.synchronized {
        acc ++= m.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      },
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q.awaitTermination() finally q.stop()
    acc.toSeq.toDF("new_id", "dup_id", "jaccard")
      .select(col("new_id"), col("dup_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** [[qIncrDedup]] through the PERSISTED index: build → saveIndex (two
    * bucketed parquet layouts + meta, paid-once shuffle) → release the
    * in-memory pins → loadIndex (re-attach, zero shuffle) → match the
    * delta against the STORED layout. Same oracle as q_incr_dedup — the
    * disk round trip must be invisible in the rows; the plan-side contract
    * (the index side of the candidate join never exchanges) is pinned in
    * StreamingSpec. This is the 100-TB operating shape: history as
    * bucketed parquet, per-delta matching co-located against it. */
  def qIndexPersist(s: SparkSession, dir: String): DataFrame = {
    import graft.rel.Checkpoint.PinOps
    val hist = t(s, dir, "documents").where(length(col("text")) >= 5).bagDF
    val delta = hist.where(col("doc_id") % 23 === 0)
      .withColumn("doc_id", col("doc_id") + 2000000L)
    val idx = graft.streaming.DocStream.buildIndex(hist)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndi-q").toString
    graft.streaming.DocStream.saveIndex(idx, tmp, buckets = 8)
    idx.bandIndex.unpin(); idx.grams.unpinAll() // index lives on disk now
    val loaded = graft.streaming.DocStream.loadIndex(s, tmp)
    graft.streaming.DocStream.matchAgainst(delta, loaded, threshold = 0.5)
      .select(col("new_id"), col("dup_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Length-band filter on EXACT discrete percentiles: documents whose
    * n_chars falls within [p05, p95], thresholds computed by
    * [[Profile.quantileBand]]'s histogram selection (one distinct-value-
    * bounded shuffle, no sort, no window) and pushed into the scan as a
    * literal range predicate. The DuckDB oracle selects the same ranks
    * with an explicit row_number walk. */
  def qLengthBand(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    val (lo, hi) = Profile.quantileBand(docs, "n_chars", 0.05, 0.95)
    docs.select(col("doc_id"), col("n_chars"))
      .where(col("n_chars").between(lo, hi))
  }

  /** Fuzzy decontamination over PERTURBED eval snippets: each snippet's
    * first character is replaced with 'z', so exact substring matching
    * (q_decontaminate) misses every plant, but ≥60% of each snippet's
    * 8-grams still appear in containing documents. The DuckDB oracle
    * recomputes the identical q-gram containment with string grams. */
  def qDecontamFuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    val snips = Decontaminate.evalSnippets(docs)
      .select(col("eval_id"),
        concat(lit("z"), substring(col("snippet"), 2, 39)).as("snippet"))
    Decontaminate.fuzzyContaminated(docs, snips, n = 8, frac = 0.6)
      .select(col("doc_id"), col("eval_id"), round(col("overlap"), 6).as("overlap"))
  }

  /** As-of join: every purchase event matched to the user's most recent
    * click at-or-before it (one shuffle, running-last — no range join).
    * The DuckDB oracle is a native ASOF LEFT JOIN, so a green row checks
    * our lowering against a reference implementation of the operator. */
  def qAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).bagDF
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    graft.rel.AsOf.asofJoin(purchases, clicks, "user_id", "ts",
      rightPayload = Seq("value"), prefix = "click_")
  }

  /** Int8-quantized kNN with exact rescore: per-query recall vs the exact
    * brute force must clear 0.8 (observed 1.0 at both driver SFs — int8
    * error almost never reorders a true neighbour out of 4k candidates). */
  def qKnnQ8Check(s: SparkSession, dir: String): DataFrame =
    knnRecallCheck(s, dir, 0.8,
      (q, c) => Similarity.quantizedKnn(q, c, k = 10, overFetch = 4))

  /** URL/domain analysis over deterministically planted URLs (the synthetic
    * corpus has none): extract every URL host, per-domain URL and document
    * counts — the blocklist/per-domain-quality primitive. */
  def qDomains(s: SparkSession, dir: String): DataFrame = {
    val hosts = array(lit("alpha.example"), lit("beta.example"),
      lit("gamma.example"), lit("delta.test"))
    val planted = concat(col("text"),
      lit(" see https://"), element_at(hosts, (col("doc_id") % 4 + 1).cast("int")),
      lit("/p/"), col("doc_id").cast("string"),
      when(col("doc_id") % 5 === 0, lit(" and http://mirror.example/x"))
        .otherwise(lit("")))
    t(s, dir, "documents").bagDF
      .select(col("doc_id"),
        explode(regexp_extract_all(planted,
          lit("https?://([^/\\s]+)"), lit(1))).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
  }

  // ===================================================== §7.2 streaming

  /** Run a finite (Trigger.AvailableNow) streaming query with the
    * fault-tolerance the memory sink lacks, and verify the emitted table
    * against `batch` — the SAME transform over a batch read of the same
    * data (the whole point of these gates is streaming-plan ≡ batch-plan).
    *
    * Why: round 9's driver run flipped both streaming gates red with zero
    * source changes — under heavy sandbox contention the memory sink's
    * non-transactional appends (task retries duplicate rows) and
    * mid-stream reads can surface a partial or over-emitted table. Here
    * every attempt gets a FRESH checkpoint + output dir, results land via
    * exactly-once file commits, and a transiently-divergent run is retried
    * (bounded). A persistently divergent stream result is still RETURNED,
    * so the oracle gate fails honestly — this guards against
    * infrastructure flakiness, never against a wrong plan. */
  private def runStreamChecked(s: SparkSession, batch: DataFrame)
                              (run: String => Unit): DataFrame = {
    val attempts = 3
    var last: DataFrame = null
    var verified = false
    var attempt = 0
    while (!verified && attempt < attempts) {
      attempt += 1
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft-stream-$attempt-").toString
      try {
        run(tmp)
        val out = s.read.parquet(s"$tmp/out").localCheckpoint()
        last = out
        // multiset equality in one pass: |out| = |batch| plus out∖batch = ∅
        // implies batch∖out = ∅ (no second exceptAll needed)
        verified = out.count() == batch.count() && out.exceptAll(batch).isEmpty
        if (!verified) System.err.println(
          s"[stream] attempt $attempt diverged from the batch plan; retrying")
      } catch {
        case e: Throwable if attempt < attempts =>
          System.err.println(s"[stream] attempt $attempt failed: $e")
      }
    }
    if (last == null)
      throw new IllegalStateException("streaming query failed every attempt")
    last
  }

  /** Structured Streaming, oracle-gated: the events parquet replayed
    * through the file source (readStream) → watermark → windowed
    * aggregation, Trigger.AvailableNow, complete mode. Complete-mode
    * output goes through foreachBatch as an idempotent full overwrite
    * (each micro-batch rewrites the whole aggregate-so-far, so a retried
    * batch cannot duplicate), and the final table is checked against the
    * identical batch aggregation before the DuckDB oracle sees it — a
    * green row proves the streaming plan computes the same relation as
    * the batch plan over the same data. */
  def qStreamWindow(s: SparkSession, dir: String): DataFrame = {
    val batchEvents = Sources.nanosTsToMicros(Sources.parquet(s, s"$dir/events.parquet"))
    val batch = graft.streaming.EventStream.hourlyByTypeExact(batchEvents)
      .localCheckpoint()
    runStreamChecked(s, batch) { tmp =>
      val stream = graft.streaming.EventStream.fromParquetDir(s, s"$dir/events.parquet")
      val query = graft.streaming.EventStream.hourlyByTypeExact(stream)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("overwrite").parquet(s"$tmp/out")
        }
        .outputMode("complete")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try query.awaitTermination() finally query.stop()
    }
  }

  /** Stream-stream interval join, oracle-gated like q_stream_window: the
    * events parquet replayed through readStream on BOTH sides of a
    * watermarked purchase×click interval join (append mode — inner-join
    * matches are final on emit), written through the parquet sink whose
    * commit log makes emission exactly-once (a retried task cannot
    * duplicate rows — the memory sink could, which is what round 9's
    * contended 12998-vs-33-row run looked like). The DuckDB oracle
    * computes the identical range join in batch SQL, so a green row
    * certifies the streaming join's results equal the batch relation. */
  def qStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val batchEvents = Sources.nanosTsToMicros(Sources.parquet(s, s"$dir/events.parquet"))
    val batch = graft.streaming.EventStream.purchaseClickJoin(batchEvents)
      .localCheckpoint()
    // a stream-stream join keeps TWO state stores per shuffle partition;
    // with cpu-count partitions the fixed per-store commit cost dominates
    // a replay this size. Size partitions to the state, not the cores
    // (on a real cluster this is sized to state volume / executor count).
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      runStreamChecked(s, batch) { tmp =>
        val stream = graft.streaming.EventStream.fromParquetDir(s, s"$dir/events.parquet")
        val query = graft.streaming.EventStream.purchaseClickJoin(stream)
          .writeStream.format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try query.awaitTermination() finally query.stop()
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** STREAMING heavy hitters, oracle-gated like q_stream_window: the
    * documents parquet replays through readStream, each micro-batch runs
    * the bounded per-partition Misra–Gries candidate pass + broadcast
    * exact recount, and the driver folds batch tables with the mergeable
    * MG merge ([[graft.streaming.HeavyStream.TopKMonitor]]). For the
    * ORACLE the capacity is set ABOVE the corpus vocabulary (no eviction
    * ever fires ⇒ the summary is provably the exact counts), so the final
    * top-10 must hash-match DuckDB's full groupBy top-k — the same
    * "sketch path equals the exact relation" discipline as q_top_ngrams,
    * now through the streaming merge. At real scale m drops to k·slack
    * and the tracked `error` bound takes over. */
  def qStreamHeavy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = graft.streaming.EventStream
      .fromParquetDir(s, s"$dir/documents.parquet")
      .select(explode(Bpe.words(col("text"))).as("item"))
    val mon = new graft.streaming.HeavyStream.TopKMonitor(m = 1 << 17)
    val ckpt = java.nio.file.Files.createTempDirectory("q-stream-heavy").toString
    val q = graft.streaming.HeavyStream.start(words, mon, k = 10,
      _ => (), ckpt)
    try q.awaitTermination() finally q.stop()
    // capacity above |vocab| ⇒ zero evictions ⇒ exact — fail loud if the
    // premise broke rather than hand DuckDB an approximate answer
    require(mon.topK(1 << 17).size < (1 << 17),
      "q_stream_heavy: vocabulary filled the summary — counts no longer exact")
    mon.topK(10).zipWithIndex
      .map { case ((item, n), i) => (item, n, i + 1) }
      .toDF("item", "n", "rank")
  }

  /** Streaming data-contract monitor gate
    * ([[graft.streaming.ContractStream]]): the documents table replays
    * through the streaming file source into the cumulative-counter
    * monitor (same expectations as q_contract minus Unique, which does
    * not stream exactly), and the FINAL report must hash-match DuckDB
    * recomputing every metric, threshold, and pass verdict over the whole
    * table — the "cumulative streaming report equals the batch check"
    * identity, exercised end-to-end through a real StreamingQuery with
    * batchId-idempotent ingestion. */
  def qStreamContract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.Contract._
    val approved = (0 until 10).map(i => s"src$i").toDF("source_name")
    val exps = Seq(
      NotNull("text"),
      NotNull("lang"),
      InRange("text_len", 1, 400, minFraction = 0.5),
      Matches("lang", "^[a-z]{2}$"),
      IsIn("lang", Seq("en", "fr", "de"), minFraction = 0.5),
      RowCount(10, 100000000L),
      RefIn("source", approved, "source_name", minFraction = 0.99))
    val stream = graft.streaming.EventStream
      .fromParquetDir(s, s"$dir/documents.parquet")
      .withColumn("text_len", length(col("text")))
    val mon = new graft.streaming.ContractStream.Monitor(exps)
    val ckpt = java.nio.file.Files.createTempDirectory("q-stream-contract").toString
    val q = graft.streaming.ContractStream.start(stream, mon, _ => (), ckpt)
    try q.awaitTermination() finally q.stop()
    mon.report().toDF("rule", "target", "metric", "threshold", "pass")
  }

  /** Streaming UNIQUENESS monitor gate: the documents table replays
    * through [[graft.streaming.ContractStream]] with Unique rules — the
    * one contract face that streams APPROXIMATELY (a cumulative HLL
    * sketch; exact distinctness does not decompose into mergeable
    * counters). The oracle discipline mirrors the ANN *_check rows: the
    * sketch ratio is compared in-query against the exact batch ratio and
    * the emitted row carries the DuckDB-replayable exact metric plus the
    * within-published-bound verdict, so the gate pins both the exact
    * semantics and the sketch's error contract. doc_id (unique) must
    * PASS via the 2-std-dev upper bound; lang (duplicate-heavy) must
    * trip the alarm. */
  def qStreamUniq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.Contract._
    val lgK = 12
    val exps = Seq(Unique(Seq("doc_id")), Unique(Seq("lang")))
    val stream = graft.streaming.EventStream
      .fromParquetDir(s, s"$dir/documents.parquet")
    val mon = new graft.streaming.ContractStream.Monitor(exps, lgK)
    val ckpt = java.nio.file.Files.createTempDirectory("q-stream-uniq").toString
    val q = graft.streaming.ContractStream.start(stream, mon, _ => (), ckpt)
    try q.awaitTermination() finally q.stop()
    val rep = mon.report()
    val bound = 3 * 1.04 / math.sqrt(math.pow(2.0, lgK))
    val exact = Sources.parquet(s, s"$dir/documents.parquet").agg(
      round(countDistinct(col("doc_id")).cast("double") / count(lit(1)), 6).as("e0"),
      round(countDistinct(col("lang")).cast("double") / count(lit(1)), 6).as("e1"))
      .collect()(0)
    Seq(("unique_hll", "doc_id", exact.getDouble(0),
          math.abs(rep(0)._3 - exact.getDouble(0)) <= bound, rep(0)._5),
        ("unique_hll", "lang", exact.getDouble(1),
          math.abs(rep(1)._3 - exact.getDouble(1)) <= bound, rep(1)._5))
      .toDF("rule", "target", "exact_metric", "within_bound", "pass")
  }

  /** Corpus-wide word-bigram frequencies (count ≥ 10): the corpus-stats
    * primitive behind boilerplate detection and vocabulary reports. One
    * explode + one map-side-combinable aggregation; the min-count filter
    * bounds the result (the 100 TB answer is "frequent n-grams", never
    * "all n-grams"). */
  def qNgramStats(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(lower(trim(col("text"))), "[^a-z0-9]+"),
      t => length(t) > 0)
    t(s, dir, "documents").bagDF
      .select(explode(TextAnalysis.bind(toks) { ts =>
        // zip adjacent tokens: (t1,t2),(t2,t3),… — no index arithmetic,
        // ANSI-safe (slice never over-reads)
        transform(
          arrays_zip(
            slice(ts, lit(1), greatest(size(ts) - 1, lit(0))).as("a"),
            slice(ts, lit(2), greatest(size(ts) - 1, lit(0))).as("b")),
          p => concat(p.getField("a"), lit(" "), p.getField("b")))
      }).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 10)
  }

  // ========================================== pipeline: similarity search

  private def knnInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = t(s, dir, "embeddings").bagDF
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    (queries, emb)
  }

  def qKnnBrute(s: SparkSession, dir: String): DataFrame = {
    val (q, c) = knnInputs(s, dir)
    Similarity.bruteForceKnn(q, c, k = 10)
  }

  def qKnnLsh(s: SparkSession, dir: String): DataFrame = {
    val (q, c) = knnInputs(s, dir)
    Similarity.lshKnn(q, c, k = 10)
  }

  def qKnnIvf(s: SparkSession, dir: String): DataFrame = {
    val (q, c) = knnInputs(s, dir)
    // centroids train on a 25% content-hash sample (billion-vector
    // practice: k-means saturates at a few hundred vectors/centroid);
    // assignment still scans the full corpus
    Similarity.ivfKnn(q, c, k = 10, trainFraction = 0.25)
  }

  /** Per-query ANN recall contract vs the exact brute-force top-k (both
    * scale-safe linear scans — no all-pairs anywhere). The bound has ≥1.3×
    * slack under the measured recall (LSH planes=4×tables=6: ≥0.9/query;
    * bound 0.6) so it trips on real regressions, not noise — and the whole
    * computation is deterministic (fixed seeds), so green is stable. */
  private def knnRecallCheck(s: SparkSession, dir: String, bound: Double,
                             ann: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val (q, c) = knnInputs(s, dir)
    val brute = Similarity.bruteForceKnn(q, c, k = 10).select("q_id", "vec_id")
    val hits = ann(q, c).select(col("q_id"), col("vec_id"), lit(1).as("hit"))
    brute.join(hits, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg((sum(coalesce(col("hit"), lit(0))) >=
        count(lit(1)) * bound).as("recall_ok"))
  }

  def qKnnLshCheck(s: SparkSession, dir: String): DataFrame =
    knnRecallCheck(s, dir, 0.6,
      (q, c) => Similarity.lshKnn(q, c, k = 10, planes = 4, tables = 6))

  def qKnnPq(s: SparkSession, dir: String): DataFrame = {
    val (q, c) = knnInputs(s, dir)
    // codebooks train on a 25% hash-sample; encode scans the full corpus
    Similarity.pqKnn(q, c, k = 10, trainFraction = 0.25)
  }

  /** Product-quantization kNN (ADC + exact rescore) recall contract: the
    * 8-byte-code representation with 32× overfetch must recover ≥0.5 of
    * every query's true top-10 (observed ≥0.9 at both driver SFs — the
    * bound has ≥1.8× slack). */
  def qKnnPqCheck(s: SparkSession, dir: String): DataFrame =
    knnRecallCheck(s, dir, 0.5,
      (q, c) => Similarity.pqKnn(q, c, k = 10, trainFraction = 0.25))

  def qKnnIvfCheck(s: SparkSession, dir: String): DataFrame =
    // bound raised 0.3 → 0.4 in round 6: Lloyd-refined centroids
    // (Similarity.lloydRefine) lifted worst observed per-query recall to
    // 0.5 at both driver SFs
    knnRecallCheck(s, dir, 0.4,
      (q, c) => Similarity.ivfKnn(q, c, k = 10, nlist = 16, nprobe = 8,
        trainFraction = 0.25))

  def qKnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val (q, c) = knnInputs(s, dir)
    Similarity.ivfPqKnn(q, c, k = 10, nlist = 16, nprobe = 8,
      trainFraction = 0.25)
  }

  /** IVF-PQ composite (FAISS IVFADC layout: inverted lists + residual
    * product codes + ADC + exact rescore) recall contract. Probing 8/16
    * cells bounds recall exactly like plain IVF (same coarse quantizer,
    * same probes), and the 32× overfetch + exact rescore recovers the PQ
    * approximation error inside the probed cells — so the bound matches
    * q_knn_ivf_check's 0.4 (worst observed per-query recall ≥ 0.5 at both
    * driver SFs). */
  def qKnnIvfPqCheck(s: SparkSession, dir: String): DataFrame =
    knnRecallCheck(s, dir, 0.4,
      (q, c) => Similarity.ivfPqKnn(q, c, k = 10, nlist = 16, nprobe = 8,
        trainFraction = 0.25))

  /** PCA-whitening contract gate: fit k=16 on the embeddings table,
    * project with the k-fused-dot plan, and verify IN-PLAN that (a) rows
    * are preserved, (b) every whitened dim has ≈ unit variance (var_samp,
    * the same n−1 normalization the fit used), (c) the two leading dims
    * are decorrelated, (d) the model orders components by descending
    * eigenvalue. n_vecs replays in DuckDB; booleans are the verdict. */
  def qWhitenCheck(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").bagDF
    val m = graft.pipeline.Whiten.fit(emb, k = 16)
    val w = graft.pipeline.Whiten(emb, m)
    val dims = w.select(posexplode(col("white")).as(Seq("dim", "v")))
    val varOk = dims.groupBy("dim").agg(variance(col("v")).as("s2"))
      .agg((min(col("s2")) >= 0.8 && max(col("s2")) <= 1.2).as("var_ok"))
    val decorOk = w.select(element_at(col("white"), 1).as("a"),
        element_at(col("white"), 2).as("b"))
      .agg((abs(covar_samp(col("a"), col("b"))) <= 0.1).as("decor_ok"))
    import s.implicits._
    emb.agg(count(lit(1)).as("n_vecs"))
      .crossJoin(varOk)
      .crossJoin(decorOk)
      .crossJoin(Seq(m.eigenvalues.toSeq ==
        m.eigenvalues.sortBy(-_).toSeq).toDF("order_ok"))
  }

  // ============================================ pipeline: text analysis

  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").transform(
      "doc_id" -> col("doc_id"),
      "n_tokens" -> TextAnalysis.tokenCount(col("text")),
      "n_chars" -> TextAnalysis.charCount(col("text"))).df

  def qQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").transform(
      "doc_id" -> col("doc_id"),
      "punct_ratio" -> round(TextAnalysis.punctRatio(col("text")), 6),
      "upper_ratio" -> round(TextAnalysis.upperRatio(col("text")), 6),
      "mean_token_len" -> round(TextAnalysis.meanTokenLen(col("text")), 6)).df

  def qLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").transform(
      "doc_id" -> col("doc_id"),
      "lang_guess" -> TextAnalysis.langId(col("text"))).df

  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").transform(
      "doc_id" -> col("doc_id"),
      "fp" -> TextAnalysis.fingerprint(col("text"))).df

  // ============================================= pipeline: multimodal

  def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.toAssets(
      t(s, dir, "documents").bagDF, "doc_id", "text", "image", "documents")
    val decoded = Multimodal.decode(assets)
    Multimodal.resizePlan(decoded, maxSide = 256)
      .select("asset_id", "width", "height", "channels", "target_width", "target_height")
  }

  // ======================================== §2.2/2.3 dyadic/set leftovers

  def qRminus(s: SparkSession, dir: String): DataFrame =
    custNations(s, dir).rminus(suppNations(s, dir)).df

  def qRajoinr(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").rename("o_custkey" -> "custkey")
      .where(col("o_totalprice") > 400000.0)
    val c = t(s, dir, "customer").rename("c_custkey" -> "custkey")
    o.rajoinr(c).df
  }

  def qSup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(custNations(s, dir).sup(suppNations(s, dir))).toDF("is_sup")
  }

  def qSep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(custNations(s, dir).sep(suppNations(s, dir))).toDF("is_sep")
  }

  // ===================================================== §2.8 import

  // Resolved against SPARK_GRAFT_FIXTURES when set, else the JVM working
  // directory (Verify/Bench are run from the repo root); made absolute so
  // the same string works in the DuckDB oracle SQL regardless of the
  // oracle runner's own working directory.
  private val fixtureBase = sys.env.getOrElse("SPARK_GRAFT_FIXTURES",
    new java.io.File("src/test/resources/fixtures").getAbsolutePath)
  val csvFixture = s"$fixtureBase/S.csv"
  val txtFixture = s"$fixtureBase/lines.txt"

  def qImportCsv(s: SparkSession, dir: String): DataFrame =
    Sources.csv(s, csvFixture).df

  def qImportTxt(s: SparkSession, dir: String): DataFrame =
    Sources.txt(s, txtFixture).df

  // ================================= §2.5 ordered transform / subtotals

  def qSubtotal(s: SparkSession, dir: String): DataFrame =
    Ordered.transformOrdered(t(s, dir, "orders"),
        OrderSpec(Seq("o_orderpriority"), Seq(col("o_orderkey"))),
        Seq("o_orderpriority" -> col("o_orderpriority")),
        Seq(("order_count", "+", lit(1L)),
            ("total_price", "+", col("o_totalprice").cast(dec182))))
      .transform("o_orderpriority" -> col("o_orderpriority"),
        "order_count" -> col("order_count"),
        "total_price" -> col("total_price").cast("double")).df

  def qOrdg(s: SparkSession, dir: String): DataFrame = {
    val spec = OrderSpec(Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")))
    Ordered.withOrdg(t(s, dir, "orders").df, spec, "g")
      .select(col("o_orderkey"), col("g").cast("int").as("g"))
  }

  // ============================================== §2.1/2.7 small builtins

  def qSchema(s: SparkSession, dir: String): DataFrame =
    Builtins.schemaOf(t(s, dir, "lineitem")).df

  def qSeq(s: SparkSession, dir: String): DataFrame =
    Builtins.seq(s, 1000).df

  def qTuple(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // lift the first region tuple, transform it, merge with another tuple
    val row = t(s, dir, "region").take(1, Seq(col("r_regionkey"))).df.collect()(0)
    val tup = TupleOps.fromRow(row)
    val tr = TupleOps.transform(tup,
      "region" -> (t => t("r_name")),
      "double_key" -> (t => t("r_regionkey").asInstanceOf[Number].longValue * 2 + 5))
    val merged = TupleOps.union(tr, Map("region" -> "IGNORED", "extra" -> true))
    Seq((merged("region").asInstanceOf[String],
         merged("double_key").asInstanceOf[Long],
         merged("extra").asInstanceOf[Boolean]))
      .toDF("region", "double_key", "extra")
  }

  def qBinary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").where(length(col("text")) >= 1)
      .extend("bin" -> encode(col("text"), "UTF-8"))
      .transform(
        "doc_id" -> col("doc_id"),
        "blen" -> Builtins.blength(col("bin")),
        "b0" -> Builtins.bget(col("bin"), lit(0)),
        "b0_set" -> Builtins.bget(Builtins.bset(col("bin"), lit(0), lit(88)), lit(0))).df

  def qConvert(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation").transform(
      "n_nationkey" -> col("n_nationkey"),
      "txt" -> Builtins.textOf(col("n_nationkey")),
      "fmt" -> Builtins.format("%s=%03d", col("n_name"), col("n_nationkey"))).df

  // ================================================ §2.8 functions / UDTs

  def qFunCall(s: SparkSession, dir: String): DataFrame = {
    val cat = new Catalog(s)
    cat.defineFun(FunDef("disc_price",
      Seq("p" -> DoubleType, "d" -> DoubleType), DoubleType, "p * (1.0 - d)"))
    t(s, dir, "lineitem").where(col("l_orderkey") <= 1000)
      .transform(
        "l_orderkey" -> col("l_orderkey"),
        "l_linenumber" -> col("l_linenumber"),
        "net" -> cat.call("disc_price", col("l_extendedprice"), col("l_discount"))).df
  }

  def qFunFold(s: SparkSession, dir: String): DataFrame = {
    val cat = new Catalog(s)
    cat.defineFun(FunDef("fcomma",
      Seq("a" -> StringType, "b" -> StringType), StringType,
      "CASE WHEN a = '' THEN b ELSE a || ', ' || b END"))
    t(s, dir, "nation").aggregate(Seq("n_regionkey"),
      "names" -> cat.fun("fcomma").fold(col("n_name"), ord = Seq(col("n_name")))).df
  }

  def qUdt(s: SparkSession, dir: String): DataFrame = {
    val cat = new Catalog(s)
    val point = UdtDef("point", Seq("x" -> DoubleType, "y" -> DoubleType))
    cat.defineType(point)
    t(s, dir, "part")
      .extend("pos" -> point.construct(col("p_retailprice"), col("p_size")))
      .transform(
        "p_partkey" -> col("p_partkey"),
        "px" -> point.get(col("pos"), "x"),
        "py" -> point.get(col("pos"), "y")).df
  }

  def qCatalogVar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cat = new Catalog(s)
    cat.set("threshold", 10)
    val thr = cat.get("threshold").asInstanceOf[Int]
    val below = t(s, dir, "nation").where(col("n_nationkey") < thr).count()
    Seq((thr, below)).toDF("threshold_value", "n_below")
  }

  // ================================================== §2.4 fold leftovers

  def qFoldBool(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").aggregate(Seq("o_orderpriority"),
      "all_mid" -> Fold.fold("and", col("o_totalprice") > 1000.0),
      "any_big" -> Fold.fold("or", col("o_totalprice") > 400000.0),
      "odd_count" -> Fold.fold("xor", col("o_orderkey") % 2 === 1)).df

  def qFoldUnionRva(s: SparkSession, dir: String): DataFrame = {
    val nested = Nest.nest(
      t(s, dir, "lineitem").where(col("l_orderkey") <= 1000)
        .project("l_orderkey", "l_suppkey"),
      "sups", Seq("l_suppkey"))
    nested.aggregate(Nil, "u" -> Fold.foldUnionRva(col("sups")))
      .df.select(explode(col("u")).as("s")).select(col("s.l_suppkey").as("l_suppkey"))
  }

  def qFoldOrdered(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").where(col("l_orderkey") <= 500)
      .aggregate(Seq("l_orderkey"),
        "neg_qty" -> round(Fold.orderedFold(Seq(col("l_linenumber")),
          col("l_quantity"), lit(0.0), (a, b) => a - b), 6),
        "inv_disc" -> round(Fold.orderedFold(Seq(col("l_linenumber")),
          lit(1.0) + col("l_discount"), lit(1.0), (a, b) => a / b), 6)).df

  // ================================== §3 Andl language front end (graft.lang)

  /** Run an Andl script with the named parquet tables bound as relvars and
    * return its `result` relation — the Gateway RunScript flow
    * (Andl.Gateway/Gateway.cs:32-102) through lexer → parser → interpreter
    * → Spark engine. */
  private def runLang(s: SparkSession, dir: String, tables: Seq[String],
                      script: String): DataFrame = {
    val interp = new graft.lang.AndlInterp(s, dir)
    tables.foreach(n => interp.defineRelvar(n, Sources.parquet(s, s"$dir/$n.parquet")))
    interp.run(script, "q_lang")
    interp.relvar("result")
  }

  /** Restriction + transform through the language surface. */
  def qLangBasic(s: SparkSession, dir: String): DataFrame =
    runLang(s, dir, Seq("nation"),
      "result := nation .where(n_regionkey = 2) .{ n_name, key2 := n_nationkey * 2 + 1 }")

  /** Natural join after a rename, in the language. */
  def qLangJoin(s: SparkSession, dir: String): DataFrame =
    runLang(s, dir, Seq("nation", "supplier"),
      """ns := nation .{ s_nationkey := n_nationkey, n_name }
        |result := (supplier join ns) .{ s_name, n_name }""".stripMargin)

  /** Grouped fold with implicit keys (fold(+,1) is the count idiom). */
  def qLangFold(s: SparkSession, dir: String): DataFrame =
    runLang(s, dir, Seq("orders"),
      "result := orders .{ o_custkey, total := fold(+, o_orderkey), cnt := fold(+, 1) }")

  /** Ordered transform: running fold over a total order. */
  def qLangOrder(s: SparkSession, dir: String): DataFrame =
    runLang(s, dir, Seq("nation"),
      "result := nation .order(n_nationkey) .{ n_nationkey, run := fold(+, n_nationkey) }")

  /** The while fixpoint through the language (SuiteRelWhile.andl shape). */
  def qLangWhile(s: SparkSession, dir: String): DataFrame =
    runLang(s, dir, Nil,
      "result := {{ A1 := 0 }} .while({{ A1 := A1 + 1 }} .where(A1 <= 100))")

  /** Pipeline signals FROM THE LANGUAGE: `tokens` / `fingerprint` builtins
    * (AndlCols engine tier — the same Columns the gated pipeline queries
    * use) applied to the documents corpus in an Andl script. One language
    * for relational queries AND corpus processing. */
  def qLangPipeline(s: SparkSession, dir: String): DataFrame =
    runLang(s, dir, Seq("documents"),
      "result := documents .{ doc_id, ntok := tokens(text), " +
        "fp := fingerprint(text), norm := normalize(text) }")

  // ============================= round-11 pipeline additions

  /** Z-order (Morton) layout key over two document dimensions — the
    * write-time clustering primitive behind multi-dimensional file
    * skipping (sources/Layout.scala): 8-bit length and token-count buckets
    * interleaved by pure mask/shift arithmetic, replayed bit-for-bit by
    * the DuckDB oracle's own integer ops. The write arrangement itself
    * (one range exchange + local sort) is contract-tested in LayoutSpec;
    * this gate pins the key math both engines must agree on. */
  def qZorder(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Layout
    val xb = least(floor(length(col("text")) / 64).cast("long"), lit(255L))
    val yb = least(when(length(trim(col("text"))) === 0, lit(0))
      .otherwise(size(split(trim(col("text")), "\\s+"))).cast("long"), lit(255L))
    t(s, dir, "documents").bagDF.select(col("doc_id"), xb.as("xb"), yb.as("yb"),
      Layout.zorderKey(xb, yb, bits = 8).as("zkey"))
  }

  /** Distributed BPE-merge training (pipeline/Bpe.scala): one corpus pass
    * to a weighted vocabulary, six argmax-merge rounds over it, then an
    * independent re-encode of the raw corpus with the learned merges.
    * Contract row: the FIRST learned pair replays externally in DuckDB
    * (adjacent-pair argmax over the same word stream); `monotone_ok`
    * (selected pair weights never increase), `delta_ok` (each round's
    * symbol-count drop is within the BPE bounds w/2 ≤ Δ ≤ w), and
    * `encode_ok` (Σ weight·|syms| over the trained vocab equals the
    * corpus total token count from the separate encode path) are
    * falsifiable in-engine invariants of a correct trainer. */
  def qBpeCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").bagDF
    // checkpoint the vocab ONCE: the corpus word-count pass would otherwise
    // run for the count AND again inside train's first checkpoint
    val vocab0 = Bpe.wordVocab(docs, col("text")).localCheckpoint(true)
    val nWords = vocab0.count()
    val (rounds, vocab) = Bpe.train(vocab0, nMerges = 6)
    val merges = rounds.map(_.merge)
    val monotoneOk = merges.map(_.weight).sliding(2)
      .forall(w => w.size < 2 || w(0) >= w(1))
    val deltaOk = rounds.forall { r =>
      val d = r.symsBefore - r.symsAfter
      d >= 1 && d <= r.merge.weight && 2 * d >= r.merge.weight
    }
    val vocabTotal = vocab.agg(sum(col("weight") * size(col("syms"))))
      .collect().head.getLong(0)
    // independent re-encode from RAW CHARS over the distinct vocabulary:
    // Σ weight·|encode(word)| ≡ the corpus total token count (encoding is
    // per-word deterministic), at Heaps'-law cardinality instead of a full
    // corpus pass through the interpreted HOF folds
    val corpusTotal = vocab0
      .agg(sum(col("weight") * size(Bpe.encodeWord(col("word"), merges))))
      .collect().head.getLong(0)
    Seq((nWords, merges.head.a + merges.head.b, merges.size.toLong,
      monotoneOk, deltaOk, vocabTotal == corpusTotal))
      .toDF("n_words", "first_pair", "n_merges",
        "monotone_ok", "delta_ok", "encode_ok")
  }

  /** Greedy k-center diversity selection over the embeddings
    * (pipeline/Coreset.scala) with its run certificate: selection
    * distances non-increasing and the selected set pairwise separated by
    * at least the covering radius — both falsifiable if the distributed
    * argmax or the running-min update is wrong. n_points and the
    * deterministic seed (smallest non-zero-norm vec_id) replay in the
    * oracle. */
  def qKcenterCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = emb(s, dir).bagDF
    val (centers, radius) = Coreset.kCenter(pts, "vec_id", "embedding", k = 8)
    val (monotoneOk, sepOk) =
      Coreset.certificate(s, centers, radius, pts, "vec_id", "embedding")
    val nPoints = pts
      .where(size(filter(col("embedding"), x => x =!= 0.0f)) > 0)
      .select(col("vec_id")).distinct().count()
    Seq((nPoints, centers.head.id, centers.size.toLong, monotoneOk, sepOk))
      .toDF("n_points", "first_id", "k", "monotone_ok", "sep_ok")
  }

  /** Per-source adaptive quality floor (Sampling.adaptiveFloor): each
    * source keeps only documents at or above its OWN exact 40th-percentile
    * quality — the curation step that normalizes quality across sources
    * instead of applying one global cutoff. Exact histogram-route
    * quantiles; integral rank compare so the cutoff replays bit-exactly
    * in the oracle's window replay. */
  def qQualityFloor(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    Sampling.adaptiveFloor(
      docs.select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality")),
      col("source"), col("quality"), pctNum = 40, pctDen = 100)
      .select("doc_id", "source", "quality")
  }

  /** Full PII scrub (TextAnalysis.scrubAll = URL/email masking + IPv4 +
    * phone numbers) over deterministically planted PII: every 7th doc an
    * email, 7th+1 a URL whose path CONTAINS an IP (must mask as one URL,
    * not URL-then-IP), 7th+2 a dashed phone + an E.164 number, 7th+3 a
    * bare IPv4. The oracle replays plant and chain verbatim. */
  def qScrubPii(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(col("doc_id") % 7 === 0, lit(" contact bob@example.com now"))
        .when(col("doc_id") % 7 === 1, lit(" see https://10.0.0.1/path?x=1 there"))
        .when(col("doc_id") % 7 === 2, lit(" call 555-123-4567 or +14155552671 today"))
        .when(col("doc_id") % 7 === 3, lit(" from 192.168.1.100 port 8080"))
        .otherwise(lit("")))
    t(s, dir, "documents").bagDF.select(col("doc_id"),
      TextAnalysis.scrubAll(planted).as("text"))
  }

  /** HTML → text extraction with line-level boilerplate analysis
    * (TextAnalysis.htmlBlocks/visibleText/htmlMainText): documents are
    * wrapped in a deterministic HTML scaffold — head with style+script
    * (the script contains a literal `<` to prove block removal runs before
    * tag stripping), heading, body paragraphs with planted entities, a
    * nav list and a link-heavy footer — and the extractor must recover the
    * prose lines, measure anchor-text link density, and drop the nav/link
    * lines. Every regex is RE2-compatible; the oracle replays the chain
    * step-for-step. */
  def qHtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc</title><style>p{color:red}</style>"),
      lit("<script type=\"text/javascript\">var x = 1 < 2;</script></head><body>"),
      lit("<h1>Heading "), col("doc_id").cast("string"), lit("</h1>"),
      lit("<p>"), substring(col("text"), 1, 150),
      lit(" &amp; more &lt;tagged&gt;</p>"),
      lit("<ul><li><a href=\"/nav1\">nav one</a></li>"),
      lit("<li><a href=\"/nav2\">nav two</a></li></ul>"),
      lit("<div>Footer: <a href=\"/contact\">contact</a> "),
      substring(col("text"), 151, 40), lit("</div>"),
      lit("<!-- hidden comment --></body></html>"))
    TextAnalysis.htmlMainText(
      t(s, dir, "documents").bagDF.select(col("doc_id"), html.as("html")),
      col("html"))
  }

  /** Corpus distribution drift (Profile.driftReport): PSI per bucket over
    * three dimensions (length band, language, source) between the corpus
    * and a planted v2 (same deltas as q_corpus_diff: every 17th doc
    * removed, every 13th edited, every 19th duplicated as a new id) — the
    * pre-retrain snapshot monitor. The oracle recomputes every share and
    * PSI term. */
  def qDrift(s: SparkSession, dir: String): DataFrame = {
    val v1 = t(s, dir, "documents").bagDF
    val v2 = v1.where(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text")))
      .unionByName(v1.where(col("doc_id") % 19 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    Profile.driftReport(v1, v2, Seq(
      "len" -> least(floor(length(col("text")) / 200).cast("long"), lit(9L)),
      "lang" -> col("lang"),
      "source" -> col("source")))
  }

  /** Fixed-iteration PageRank (rel/Graph.scala) over the supplier↔customer
    * trade graph (both directions of every lineitem×orders pairing): three
    * power-method steps with 12dp-rounded decimal-summed contributions,
    * so the DuckDB oracle replays every iteration bit-for-bit as three
    * unrolled CTEs. The damping base is written `(1.0 - 0.85)` on BOTH
    * sides — the computed double differs from a literal `0.15` in the
    * last ulp, which a 12dp replay would catch. */
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").bagDF.select(col("l_orderkey"), col("l_suppkey"))
    val o = t(s, dir, "orders").bagDF.select(col("o_orderkey"), col("o_custkey"))
    val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("s"),
        concat(lit("c"), col("o_custkey")).as("c"))
    val edges = joined.select(col("s").as("src"), col("c").as("dst"))
      .unionByName(joined.select(col("c").as("src"), col("s").as("dst")))
    graft.rel.Graph.pageRank(edges, iters = 3)
  }

  /** CANONICAL PageRank (dangling-mass redistribution) on the DIRECTED
    * supplier→customer graph — customers never appear as src, so every
    * customer is dangling and the per-iteration D/N fold-back is actually
    * exercised (ranks sum to 1 at every step, unlike the simple variant).
    * The oracle replays both unrolled iterations including the scalar
    * dangling term with identical 12dp rounding. */
  def qPagerankFull(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").bagDF.select(col("l_orderkey"), col("l_suppkey"))
    val o = t(s, dir, "orders").bagDF.select(col("o_orderkey"), col("o_custkey"))
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("c"), col("o_custkey")).as("dst"))
    graft.rel.Graph.pageRank(edges, iters = 2, dangling = true)
  }

  /** Duplicated-span REMOVAL ([[Dedup.spanRebuild]] — the ExactSubstr
    * transform completing the report in q_dup_spans): global-first-owner
    * election per stride-1 window fingerprint, non-owner windows' covered
    * tokens dropped, per-doc ordered reassembly. The oracle replays owner
    * election, coverage explosion, and the string_agg rebuild. */
  def qSpanRebuild(s: SparkSession, dir: String): DataFrame =
    Dedup.spanRebuild(t(s, dir, "documents").bagDF, spanTokens = 8)

  /** Byte-preserving duplicated-span removal
    * ([[Dedup.spanRebuildBytes]]): the same struct owner election as
    * q_span_rebuild, but clean_text splices the document's ORIGINAL bytes
    * (case, punctuation, exact whitespace runs) around the dropped token
    * ranges. The oracle replays the alternating token/whitespace segment
    * cut, the parity arithmetic mapping segments to token ordinals, and
    * the ordered byte splice; docs with no duplicated windows come back
    * byte-identical to their source text. */
  def qSpanRebuildBytes(s: SparkSession, dir: String): DataFrame =
    Dedup.spanRebuildBytes(t(s, dir, "documents").bagDF, spanTokens = 8)

  /** Okapi BM25 top-5 per query over the documents corpus
    * ([[graft.pipeline.Retrieval.bm25]]): three fixed probes against the
    * synthetic vocabulary; the oracle replays tokenize → tf/df/dl →
    * the full BM25 formula → row_number ranking with identical 6dp
    * decimal-sum discipline. */
  def qBm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Seq((1L, "spark hash join"), (2L, "window agg stream"),
      (3L, "fast table scan merge vector")).toDF("query_id", "qtext")
    graft.pipeline.Retrieval.bm25(t(s, dir, "documents").bagDF, probes, k = 5)
  }

  /** Interpolated Kneser–Ney bigram score per document
    * ([[TextAnalysis.knScore]]) — the production-grade perplexity-filter
    * smoothing; oracle replays the discounted/continuation formula. */
  def qKnScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.knScore(t(s, dir, "documents").bagDF)

  /** DSIR data selection ([[graft.pipeline.Selection.dsirSelect]],
    * arXiv:2302.03169): the French-labeled slice is the target
    * distribution, the whole corpus is raw; top-50 docs by hashed-n-gram
    * importance log-weight. The oracle replays gram hashing, both add-λ
    * bucket models, the decimal-summed log-ratio, and the ranking. */
  def qDsir(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    graft.pipeline.Selection.dsirSelect(
      docs, docs.where(col("lang") === "fr"), n = 50)
  }

  /** Quality-classifier contract ([[graft.pipeline.Classifier]] — the
    * fasttext-style hashed-n-gram logistic filter): trains on a label the
    * features fully determine (doc mentions "spark"), then asserts the
    * three properties that make a distributed trainer trustworthy:
    * training accuracy ≥ 0.9 (the signal is learnable and learned),
    * per-iteration log-loss non-increasing (the GD actually descends),
    * and bit-identical models under repartitioning (the decimal dot
    * products make training order-free). Contract row, oracle-style
    * `SELECT true …` like q_compress_check. */
  def qQualityClfCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.Classifier
    val docs = t(s, dir, "documents").bagDF
    val label = col("text").contains("spark")
    // adaptive: convergence speed varies with the corpus, so train in
    // 8-iteration rounds (warm-started) until the accuracy bar is met,
    // capped at 4 rounds. Line search keeps the CONCATENATED loss
    // sequence non-increasing across rounds (same objective, same frame).
    var model: Option[graft.pipeline.Classifier.Model] = None
    var losses = Seq.empty[Double]
    var acc = 0.0
    var rounds = 0
    // ONE prepared frame feeds every warm-start round AND the accuracy
    // sweeps — the corpus is tokenized/hashed exactly once for the loop
    val feats = Classifier.prepare(docs, label, buckets = 4096)
    while (acc < 0.9 && rounds < 4) {
      val (m, l) = Classifier.trainPrepared(feats, buckets = 4096, iters = 8,
        init = model)
      model = Some(m); losses = losses ++ l; rounds += 1
      // one NARROW aggregate over the pinned frame (accuracyOn): y sits in
      // the same row as the bucket set, so no predictOn ⋈ feats self-join
      // and no second scoring pass (r18 — same hit/total counters)
      acc = Classifier.accuracyOn(feats, m)
    }
    graft.rel.Checkpoint.PinOps(feats).unpin()
    val monotone = losses.sliding(2).forall(w => w.size < 2 || w(1) <= w(0) + 1e-9)
    // partitioning-invariance on a content-hash sample with a short run —
    // the property is per-step, so two steps witness it at any sf; the
    // full-corpus version is unit-locked (CurationSpec). The two trains
    // are INDEPENDENT jobs over the same sample — submitted from two
    // driver threads (guide §2.6 overlap) so the second fills the first's
    // stage tails; each thread's GD is sequential and deterministic, and
    // the equality check compares the joined results exactly as before.
    val sample = graft.pipeline.Sampling.hashSample(docs, col("doc_id"), 0.4)
    val fut1 = scala.concurrent.Future(
      Classifier.trainLogistic(sample, label, iters = 2, buckets = 4096))(
      scala.concurrent.ExecutionContext.global)
    // the background train is ALWAYS joined (bounded): if the inline train
    // throws, its Spark jobs must not keep running unobserved, and a hang
    // in either train surfaces as a loud timeout instead of blocking the
    // bench forever. A timeout while the inline train is already failing
    // rides along as suppressed, so the root cause is what propagates.
    val joinBudget = scala.concurrent.duration.Duration(600, "s")
    val (m2, _) =
      try Classifier.trainLogistic(sample.repartition(13), label,
        iters = 2, buckets = 4096)
      catch { case e: Throwable =>
        try scala.concurrent.Await.ready(fut1, joinBudget)
        catch { case t: Throwable => e.addSuppressed(t) }
        throw e
      }
    val (m1, _) = scala.concurrent.Await.result(fut1, joinBudget)
    Seq((acc >= 0.9, monotone, m1 == m2))
      .toDF("ok_acc", "ok_loss_monotone", "ok_deterministic")
  }

  /** DSIR Gumbel-max RESAMPLING ([[graft.pipeline.Selection.dsirSample]]):
    * proportional-to-weight selection without replacement via
    * content-hash Gumbel noise — deterministic, so the oracle replays the
    * noise, the perturbed keys, and the ranking exactly. */
  def qDsirSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    graft.pipeline.Selection.dsirSample(
      docs, docs.where(col("lang") === "fr"), n = 50)
  }

  /** Hashed random-projection doc embeddings
    * ([[graft.pipeline.Embed.docEmbedLong]]): the model-free text→vector
    * bridge into the ANN stack. Long (doc, dim, v) shape; the oracle
    * replays gram hashing, the ±1 signs, integer component sums, and the
    * L2 normalize. */
  def qDocEmbed(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Embed.docEmbedLong(t(s, dir, "documents").bagDF, dims = 8)

  /** End-to-end curation CAPSTONE, fully oracle-replayed: duplicated-span
    * removal rebuilds every document ([[Dedup.spanRebuild]]), a survivor
    * floor drops docs left with < 10 tokens, and DSIR
    * ([[graft.pipeline.Selection.dsirSelect]]) ranks the REBUILT corpus
    * against its French-labeled slice — three operators composed into one
    * plan whose final top-30 hash-matches DuckDB replaying the whole
    * chain. The point: the operators compose as DataFrames (no
    * materialization boundaries), and determinism survives composition. */
  def qE2eCurate(s: SparkSession, dir: String): DataFrame = {
    import graft.rel.Checkpoint.PinOps
    val docs = t(s, dir, "documents").bagDF
    // pin the rebuilt corpus: DSIR reads its raw input twice (bucket
    // model + doc-bucket counts) and the target slice once more — without
    // the pin the whole span-removal chain recomputes per pass (measured
    // ~4x the query). At 100 TB this is the checkpoint you'd write
    // between the destructive rebuild and the multi-pass selection.
    val clean = Dedup.spanRebuild(docs, spanTokens = 8)
      .where(col("n_tok") - col("n_drop") >= 10)
      .select(col("doc_id"), col("clean_text").as("text"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .pin()
    // dsirSelect materializes its ≤n winners on the driver — the rebuilt
    // corpus pin is dead the moment it returns
    try graft.pipeline.Selection.dsirSelect(
      clean, clean.where(col("lang") === "fr"), n = 30)
    finally clean.unpin()
  }

  /** Precision/recall curve ([[Profile.prCurve]]) of a deterministic
    * length score against a "mentions spark" label at four cutoffs — the
    * filter-threshold report; oracle replays every counter and the
    * rounded p/r/f1 math. */
  def qPrCurve(s: SparkSession, dir: String): DataFrame =
    Profile.prCurve(t(s, dir, "documents").bagDF,
      least(col("n_chars").cast("double") / 500.0, lit(1.0)),
      col("text").contains("spark"),
      Seq(0.2, 0.4, 0.6, 0.8))

  /** Small-file compaction contract ([[graft.sources.Layout.compact]]):
    * fragment the documents table into 64 tiny parquet files, compact to
    * byte-targeted output, and assert the three invariants a table
    * OPTIMIZE must never break — fewer files, identical row count, and
    * bag-identical data (exceptAll both ways empty). Contract row. */
  def qCompactCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").bagDF
    // scratch on a MEMORY filesystem when one exists: this row gates
    // compaction CORRECTNESS (the ok_* booleans), not disk throughput,
    // and writing 64 fragments + their fold through the disk made it the
    // suite's perennial IO-contention tail (1.8–3.2 s isolated spread on
    // loaded machines against a 1.76 s anchor, five rounds running)
    val shm = java.nio.file.Paths.get("/dev/shm")
    // capacity-guarded AGAINST THE DATASET, not a constant: container
    // /dev/shm often defaults to 64 MB, and at a large SF the 64
    // fragments + the compacted copy can outgrow any fixed floor —
    // falling back to the disk temp beats an ENOSPC-failed bench row.
    // Budget = 4x the source parquet (fragments + fold + codec slack).
    val srcBytes = try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue / 8 }
    val tmp = (if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm) &&
        shm.toFile.getUsableSpace > math.max(2L << 30, 4 * srcBytes))
      java.nio.file.Files.createTempDirectory(shm, "graft-compact")
    else java.nio.file.Files.createTempDirectory("graft-compact")).toString
    docs.repartition(64).write.mode("overwrite").parquet(s"$tmp/in")
    val (before, after, rows) = graft.sources.Layout.compact(
      s, s"$tmp/in", s"$tmp/out", targetFileBytes = 64L << 20)
    val a = s.read.parquet(s"$tmp/in")
    val b = s.read.parquet(s"$tmp/out")
    val identical = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val out = Seq((before >= 64L, after < before, rows == docs.count(), identical))
      .toDF("ok_fragmented", "ok_fewer_files", "ok_rows", "ok_identical")
    // every check above materialized eagerly — drop the scratch dirs so
    // repeated sweeps don't accumulate dead parquet in the temp FS
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    out
  }

  /** LIVE JDBC import (DataSourceSql.cs:29-80): the supplier table is
    * round-tripped through an embedded Derby database — a DISTRIBUTED
    * `df.write.jdbc` populates it (no driver-side loop), then
    * [[Sources.jdbc]] reads it back through Spark's JDBC source. The
    * oracle reads the same rows straight from parquet, so the gate proves
    * the imported relation is value-identical to the source of truth. */
  def qImportJdbc(s: SparkSession, dir: String): DataFrame = {
    val url = "jdbc:derby:memory:graftq;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    t(s, dir, "supplier").bagDF
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      .write.mode("overwrite").jdbc(url, "SUP_IMPORT", props)
    Sources.jdbc(s, url, "SUP_IMPORT", props)
      .transform("s_suppkey" -> col("s_suppkey").cast("long"),
        "s_name" -> col("s_name"),
        "s_nationkey" -> col("s_nationkey").cast("int"),
        "s_acctbal" -> col("s_acctbal").cast("double")).df
  }

  /** EXACT corpus-wide top-10 words via Misra–Gries candidates + exact
    * recount (pipeline/Heavy.scala) — identical output to a full
    * groupBy top-k (the oracle IS that groupBy), but the distinct item
    * space never shuffles: per-partition bounded summaries nominate
    * candidates, a broadcast join recounts only those. */
  def qTopNgrams(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Heavy.topKExact(
      t(s, dir, "documents").bagDF
        .select(explode(Bpe.words(col("text"))).as("item")),
      "item", k = 10, slack = 32)

  /** PII column profile (Profile.piiProfile) over a two-column view: the
    * text column carries the SAME planted PII families as q_scrub_pii
    * (so each detector fires on a known ~1/7 of rows), the source column
    * is clean (all fractions 0.0) — the pre-release privacy scan. The
    * oracle recomputes every fraction with DuckDB's regexp_matches. */
  def qPiiProfile(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(col("doc_id") % 7 === 0, lit(" contact bob@example.com now"))
        .when(col("doc_id") % 7 === 1, lit(" see https://10.0.0.1/path?x=1 there"))
        .when(col("doc_id") % 7 === 2, lit(" call 555-123-4567 or +14155552671 today"))
        .when(col("doc_id") % 7 === 3, lit(" from 192.168.1.100 port 8080"))
        .otherwise(lit("")))
    Profile.piiProfile(
      t(s, dir, "documents").bagDF.select(planted.as("text"), col("source")),
      Seq("text", "source"))
  }

  /** Data-contract report ([[graft.pipeline.Contract.check]]): the
    * release-gating expectations sweep — eight rules over the documents
    * table (null/shape/membership fractions, exact key uniqueness,
    * row-count bounds, broadcast referential containment against an
    * approved-source dim that deliberately covers only half the sources,
    * so the report carries a FAILING row too). All row-local metrics fold
    * into one scan; the oracle recomputes every metric, threshold, and
    * pass verdict as a UNION ALL of the same aggregates. */
  def qContract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.Contract
    import graft.pipeline.Contract._
    val docs = t(s, dir, "documents").bagDF
      .withColumn("text_len", length(col("text")))
    val approved = (0 until 10).map(i => s"src$i").toDF("source_name")
    Contract.check(docs, Seq(
      NotNull("text"),
      NotNull("lang"),
      InRange("text_len", 1, 400, minFraction = 0.5),
      Matches("lang", "^[a-z]{2}$"),
      IsIn("lang", Seq("en", "fr", "de"), minFraction = 0.5),
      Unique(Seq("doc_id")),
      RowCount(10, 100000000L),
      RefIn("source", approved, "source_name", minFraction = 0.99)))
  }

  /** Dataset card: the per-source datasheet a corpus release ships with —
    * document/token/char volumes, mean quality, language spread, and the
    * exact-duplicate rate (1 − distinct fingerprints / docs), in ONE
    * grouped aggregate over a single corpus scan (every signal is a
    * narrow column expression; the only exchange is the groupBy source).
    * Exactness discipline: per-doc quality is 6dp-rounded then decimal-
    * summed so the mean is order-independent; counts are longs. The two
    * COUNT(DISTINCT)s lower to one Expand (3× the slim enriched rows) —
    * exact is right at report time; a 100 TB continuous dashboard would
    * swap them for the no-Expand HLL path (Profile.tableProfileApprox). */
  def qDatasetCard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").bagDF
    val enriched = docs.select(col("source"), col("lang"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("__ntok"),
      length(col("text")).cast("long").as("__nchr"),
      TextAnalysis.qualityScore(col("text"))
        .cast(DecimalType(18, 6)).as("__q"),
      TextAnalysis.fingerprint(col("text")).as("__fp"))
    enriched.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("__ntok")).as("n_tokens"),
      sum(col("__nchr")).as("n_chars"),
      round(sum(col("__q")).cast("double") / count(lit(1)), 6)
        .as("mean_quality"),
      countDistinct(col("lang")).as("n_langs"),
      round(lit(1.0) - countDistinct(col("__fp")).cast("double") / count(lit(1)), 6)
        .as("dup_rate"))
  }

  /** The round-11 pipeline signals FROM THE LANGUAGE: `quality` and
    * `langid` builtins (AndlCols engine tier — the same Columns the gated
    * q_quality/q_langid use) applied to documents in an Andl script; the
    * oracle recomputes both signals over the same corpus. */
  def qLangSignals(s: SparkSession, dir: String): DataFrame =
    runLang(s, dir, Seq("documents"),
      "result := documents .{ doc_id, q := quality(text), lg := langid(text) }")

  /** Serving-path timing: search a PERSISTED IVF-PQ index (cell-partitioned
    * codes → dynamic partition pruning on the probe join) WITHOUT
    * rebuilding it. The index is built+saved once per JVM per sfDir — the
    * first sample pays the build, the reported median times what an online
    * ANN service pays per query batch: load metadata, probe, in-row ADC,
    * exact rescore. Recall is q_knn_ivfpq_check's (identical quantizers). */
  private val ivfPqServeDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  def qKnnIvfPqServe(s: SparkSession, dir: String): DataFrame = {
    import graft.rel.Checkpoint.PinOps
    val saved = ivfPqServeDirs.getOrElseUpdate(dir, {
      val (_, c) = knnInputs(s, dir)
      val idx = Similarity.ivfPqBuild(c, nlist = 16, trainFraction = 0.25)
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq-serve").toString
      Similarity.saveIvfPq(idx, tmp)
      // the index lives on disk now — drain the build's pins
      idx.centroids.unpinAll(); idx.codebooks.unpinAll(); idx.codes.unpinAll()
      tmp
    })
    val (q, c) = knnInputs(s, dir)
    Similarity.ivfPqSearch(q, Similarity.loadIvfPq(s, saved), c,
      k = 10, nprobe = 8)
  }

  /** STREAMING maintenance gate for the persisted IVF-PQ serving index
    * ([[Similarity.startIvfPqAppendStream]]): the index is built and
    * saved WITHOUT every 7th corpus vector, the withheld vectors then
    * arrive as two micro-batches through the append stream (frozen
    * quantizers, cell-partition appends, batchId watermark), and the
    * served top-k must recover the SAME per-query recall contract as
    * q_knn_ivfpq_check — the streamed-in vectors are indistinguishable
    * from build-time ones. The row also gates the operational story:
    * `append_ok` requires (a) a REPLAYED batchId to be a no-op (the
    * exactly-once watermark) and (b) a forced insert-done/meta-not
    * crash-window duplicate to be invisible in the served results (no
    * duplicate (q_id, vec_id) pairs, recall intact). */
  private val ivfPqStreamDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]
  def qKnnServeStream(s: SparkSession, dir: String): DataFrame = {
    import graft.rel.Checkpoint.PinOps
    val (q, c) = knnInputs(s, dir)
    val delta = c.filter(col("vec_id") % 7 === 0)
    // built + saved + streamed once per JVM per sfDir (the
    // q_knn_ivfpq_serve convention: the first bench sample pays the
    // build, the median times what the maintained SERVING path pays —
    // replay guard, crash-window injection, probe, rescore)
    val tmp = ivfPqStreamDirs.getOrElseUpdate(dir, {
      val seed = c.filter(col("vec_id") % 7 =!= 0)
      val idx = Similarity.ivfPqBuild(seed, nlist = 16, trainFraction = 0.25)
      val t = java.nio.file.Files.createTempDirectory("graft-ivfpq-ss").toString
      Similarity.saveIvfPq(idx, t)
      idx.centroids.unpinAll(); idx.codebooks.unpinAll(); idx.codes.unpinAll()
      val deltaDir = java.nio.file.Files.createTempDirectory("graft-ivfpq-ssd").toString
      delta.coalesce(2).write.mode("overwrite").parquet(deltaDir)
      val stream = s.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1).parquet(deltaDir)
      val sq = Similarity.startIvfPqAppendStream(stream, t,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      try sq.awaitTermination() finally sq.stop()
      // crash window, injected ONCE at build: a writer that died between
      // the codes INSERT and the meta advance leaves duplicate code rows
      // — the served top-k must keep them invisible. (Per-call injection
      // would fragment the cached store monotonically across bench
      // samples — the median would drift with sample count.)
      Similarity.appendIvfPq(s, t, delta.limit(20))
      t
    })
    // exactly-once watermark: replaying an already-applied batchId is a
    // no-op (foreachBatch redelivers the in-flight batch on restart)
    val replayRan = Similarity.appendIvfPqBatch(s, tmp, delta, batchId = 0L)
    val served = Similarity.ivfPqSearch(q, Similarity.loadIvfPq(s, tmp), c,
      k = 10, nprobe = 8)
    val brute = Similarity.bruteForceKnn(q, c, k = 10).select("q_id", "vec_id")
    val hits = served.select(col("q_id"), col("vec_id"), lit(1).as("hit"))
    val recall = brute.join(hits, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg((sum(coalesce(col("hit"), lit(0))) >=
        count(lit(1)) * 0.4).as("recall_ok"))
    val nodup = served.groupBy("q_id")
      .agg((count(lit(1)) === countDistinct(col("vec_id"))).as("nodup"))
    recall.join(nodup, Seq("q_id"))
      .select(col("q_id"), col("recall_ok"),
        (col("nodup") && lit(!replayRan)).as("append_ok"))
  }

  /** DuckDB replay of [[TextAnalysis.qualityScore]] — shared by
    * q_top_quality and q_quality_floor so the two gates pin the SAME
    * score definition. */
  private val qualitySql: String =
    "round((" +
      "least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) + " +
      "greatest(1.0 - (CASE WHEN length(text) = 0 THEN 0.0 " +
      "ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END) * 4.0, 0.0) + " +
      "least((CASE WHEN length(trim(text)) = 0 THEN 0.0 " +
      "ELSE CAST(len(list_filter(string_split_regex(lower(trim(text)), '[^a-z]+'), " +
      "t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS DOUBLE) / " +
      "len(string_split_regex(trim(text), '\\s+')) END) * 5.0, 1.0)" +
      ") / 3, 6)"

  /** Shared by q_incr_dedup and q_index_persist: the exact all-pairs
    * history×delta word-3-gram Jaccard at ≥0.5 — both routes (in-memory
    * index, persisted bucketed index) must produce exactly these rows. */
  private val incrDedupOracle: String = "WITH g AS (SELECT doc_id, " +
    "list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks)-3, 0)+2)]) AS gr " +
    "FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-z0-9]+') AS toks " +
    "FROM documents WHERE length(text) >= 5)), " +
    "d AS (SELECT doc_id + 2000000 AS new_id, gr FROM g WHERE doc_id % 23 = 0) " +
    "SELECT new_id, dup_id, jaccard FROM (" +
    "SELECT d.new_id, h.doc_id AS dup_id, " +
    "round(CAST(len(list_intersect(d.gr, h.gr)) AS DOUBLE) / len(list_distinct(d.gr || h.gr)), 6) AS jaccard " +
    "FROM d, g h) WHERE jaccard >= 0.5"

  /** Shared by q_incr_cdc and q_cdc_persist: both routes (in-memory chunk
    * index, persisted bucketed chunk index) must reach the same verdict. */
  private val incrCdcOracle: String =
    "SELECT (SELECT count(*) FROM documents WHERE doc_id < 100) + " +
    "(SELECT count(*) FROM documents WHERE doc_id >= 100 AND doc_id < 120 " +
    "AND length(text) >= 300) AS n_delta, true AS planted_caught"

  // ================================================================ rows

  type QueryFn = (SparkSession, String) => DataFrame

  /** One row of the query surface, declared once in [[rows]].
    *  - `fn` builds the row's result from `(session, sfDir)`.
    *  - `oracle` is the DuckDB SQL the correctness gate compares that
    *    result against (rows + schema + hash: [[Verify]] with
    *    tools/diffcheck.py, and SqlDifferentialSpec). `None` marks a
    *    bench-only row.
    *  - `core` marks the relational-core §2 rows (algebra, folds, ordered
    *    ops, updates, scalars, imports, language front end): the subset
    *    the parity-mode sweeps replay under
    *    `spark.graft.decimalNumbers=true` and `spark.graft.collation=UNICODE`
    *    (`graft.Verify --subset=core --mode=…`, driven by
    *    tools/paritycheck.sh). Pipeline/stream/multimodal rows are out:
    *    they never consult the language's numeric domain or collation. */
  final case class Row(name: String, fn: QueryFn, oracle: Option[String],
                       core: Boolean)

  private def gated(name: String, fn: QueryFn, core: Boolean = false)(
      oracle: String): Row = Row(name, fn, Some(oracle), core)

  /** Raw approximate ops benched under their round-1/2 names for timing
    * comparability, but NOT oracle-gated: their full-corpus pair/top-k
    * output is not SQL-expressible (simhash needs xxhash64; ANN top-k is
    * approximate by construction). Their correctness lives in the gated
    * q_simhash_check / q_knn_*_check contract rows plus unit recall tests. */
  private def benchOnly(name: String, fn: QueryFn): Row =
    Row(name, fn, None, core = false)

  /** Every row. Object vals initialize in text order, so this stays below
    * the shared oracle vals it reads (`qualitySql`, `incrDedupOracle`,
    * `incrCdcOracle`, `csvFixture`, `txtFixture`). */
  val rows: Seq[Row] = Seq(
    gated("q_project", qProject, core = true)("SELECT DISTINCT s_nationkey FROM supplier"),
    gated("q_rename", qRename, core = true)("SELECT n_nationkey AS nation_id, n_name AS nation_name, n_regionkey FROM nation"),
    gated("q_where", qWhere, core = true)("SELECT DISTINCT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05"),
    gated("q_extend", qExtend, core = true)("SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS revenue FROM lineitem"),
    gated("q_take", qTake, core = true)("SELECT * FROM orders ORDER BY o_orderkey LIMIT 100"),
    gated("q_skip", qSkip, core = true)("SELECT * FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100"),
    gated("q_lift", qLift, core = true)("SELECT o_orderdate FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 1"),
    gated("q_count_degree", qCountDegree, core = true)("SELECT (SELECT count(*) FROM orders) AS n_rows, 6 AS degree"),
    gated("q_join", qJoin, core = true)("SELECT c_custkey, c_name, c_nationkey AS nationkey, c_acctbal, c_mktsegment, n_name, n_regionkey " +
      "FROM customer JOIN nation ON c_nationkey = n_nationkey"),
    gated("q_compose", qCompose, core = true)("SELECT DISTINCT c_custkey, c_name, c_acctbal, c_mktsegment, n_name, n_regionkey " +
      "FROM customer JOIN nation ON c_nationkey = n_nationkey"),
    gated("q_semijoin", qSemijoin, core = true)("SELECT c_custkey AS custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer " +
      "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),
    gated("q_rsemijoin", qRsemijoin, core = true)("SELECT s_suppkey AS suppkey, s_name, s_nationkey, s_acctbal FROM supplier " +
      "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)"),
    gated("q_ajoin", qAjoin, core = true)("SELECT c_custkey AS custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer " +
      "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)"),
    gated("q_ajoinl", qAjoinl, core = true)("SELECT DISTINCT c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer " +
      "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)"),
    gated("q_rajoin", qRajoin, core = true)("SELECT c_custkey AS custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer " +
      "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)"),
    gated("q_divide", qDivide, core = true)("SELECT DISTINCT p_name, p_brand, p_type, p_size, p_retailprice FROM part " +
      "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)"),
    gated("q_rdivide", qRdivide, core = true)("SELECT DISTINCT p_name, p_brand, p_type, p_size, p_retailprice FROM part " +
      "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)"),
    gated("q_union", qUnion, core = true)("SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey FROM supplier"),
    gated("q_intersect", qIntersect, core = true)("SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier"),
    gated("q_minus", qMinus, core = true)("SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier"),
    gated("q_symdiff", qSymdiff, core = true)("SELECT nationkey FROM (SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier) " +
      "UNION SELECT nationkey FROM (SELECT s_nationkey AS nationkey FROM supplier EXCEPT SELECT c_nationkey FROM customer)"),
    gated("q_sub", qSub, core = true)("SELECT (SELECT count(*) FROM (SELECT s_nationkey FROM supplier EXCEPT SELECT c_nationkey FROM customer)) = 0 AS is_sub"),
    gated("q_releq", qReleq, core = true)("SELECT (SELECT count(*) FROM (SELECT n_nationkey FROM nation EXCEPT " +
      "SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey)) = 0 AND " +
      "(SELECT count(*) FROM (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey " +
      "EXCEPT SELECT n_nationkey FROM nation)) = 0 AS is_eq"),
    gated("q_q10_top", qQ10Top)("SELECT c_custkey, c_name, c_acctbal, n_name, " +
      "CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      "FROM customer JOIN orders ON o_custkey = c_custkey " +
      "JOIN lineitem ON l_orderkey = o_orderkey " +
      "JOIN nation ON c_nationkey = n_nationkey " +
      "WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01' " +
      "AND l_returnflag = 'R' " +
      "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
      "ORDER BY revenue DESC, c_custkey LIMIT 20"),
    gated("q1_agg", q1Agg, core = true)("SELECT l_returnflag, l_linestatus, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
      "CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty, " +
      "COUNT(*) AS count_order " +
      "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus"),
    gated("q_agg_scalar", qAggScalar, core = true)("SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue FROM lineitem"),
    gated("q_fold_minmax", qFoldMinMax, core = true)("SELECT o_orderpriority, MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price, " +
      "COUNT(*) AS n FROM orders GROUP BY o_orderpriority"),
    gated("q_fold_concat", qFoldConcat, core = true)("SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations FROM nation GROUP BY n_regionkey"),
    gated("q_fold_product", qFoldProduct, core = true)("SELECT l_orderkey, ROUND(PRODUCT(1.0 + l_discount), 6) AS disc_product " +
      "FROM lineitem WHERE l_orderkey <= 1000 GROUP BY l_orderkey"),
    gated("q_fold_user", qFoldUser, core = true)("SELECT l_orderkey, MAX(l_quantity) AS max_qty FROM lineitem WHERE l_orderkey <= 1000 GROUP BY l_orderkey"),
    gated("q_running", qRunning, core = true)("SELECT o_orderkey, o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER " +
      "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total FROM orders"),
    gated("q_lag_lead", qLagLead, core = true)("SELECT o_orderkey, " +
      "lag(o_totalprice, 1, 0.0) OVER w AS prev_price, " +
      "lead(o_totalprice, 1, 0.0) OVER w AS next_price, " +
      "CAST(row_number() OVER w AS INTEGER) AS ordinal FROM orders " +
      "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"),
    gated("q_nth", qNth, core = true)("SELECT o_orderkey, o_custkey, nth_value(o_totalprice, 1) OVER " +
      "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price FROM orders"),
    gated("q_rank", qRank, core = true)("SELECT o_orderpriority, o_orderkey, price_rank FROM (" +
      "SELECT o_orderpriority, o_orderkey, CAST(rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS price_rank " +
      "FROM orders) WHERE price_rank <= 10"),
    gated("q_while", qWhile, core = true)("WITH RECURSIVE t(n) AS (SELECT CAST(1 AS BIGINT) AS n UNION ALL SELECT n + 1 FROM t WHERE n < 100) SELECT n FROM t"),
    gated("q_while_dist", ((s: SparkSession, d: String) => qWhileDist(s, d)), core = true)("WITH RECURSIVE edges AS (SELECT event_id AS src, " +
      "lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS dst FROM events), " +
      "reach(event_id) AS (SELECT event_id FROM events WHERE event_type = 'error' " +
      "UNION SELECT e.dst FROM reach r JOIN edges e ON e.src = r.event_id WHERE e.dst IS NOT NULL) " +
      "SELECT event_id FROM reach"),
    gated("q_while_rollup", qWhileRollup, core = true)("WITH RECURSIVE edges AS (SELECT event_id AS src, " +
      "lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS dst FROM events), " +
      "reach(event_id) AS (SELECT event_id FROM events WHERE event_type = 'error' " +
      "UNION SELECT e.dst FROM reach r JOIN edges e ON e.src = r.event_id WHERE e.dst IS NOT NULL) " +
      "SELECT event_type, count(*) AS n_reach, count(DISTINCT user_id) AS n_users, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
      "FROM reach JOIN events USING (event_id) GROUP BY 1"),
    gated("q_update_insert", qUpdateInsert, core = true)("SELECT r_regionkey, r_name FROM region UNION SELECT 99, 'NEWLAND'"),
    gated("q_update_delete", qUpdateDelete, core = true)("SELECT r_regionkey, r_name FROM region WHERE NOT (r_regionkey = 0)"),
    gated("q_update_set", qUpdateSet, core = true)("SELECT r_regionkey, CASE WHEN r_regionkey = 1 THEN 'REGION_' || r_name ELSE r_name END AS r_name FROM region"),
    gated("q_update_null", qUpdateNull, core = true)("WITH tagged AS (SELECT r_regionkey, r_name, " +
      "CASE WHEN r_regionkey % 2 = 0 THEN r_name END AS r_tag FROM region), " +
      "upd AS (SELECT r_regionkey, " +
      "CASE WHEN r_tag LIKE 'A%' THEN 'UPD_' || r_name ELSE r_name END AS r_name, " +
      "r_tag FROM tagged) " +
      "SELECT 'plain' AS storage, * FROM upd " +
      "UNION ALL SELECT 'bucketed' AS storage, * FROM upd"),
    gated("q_scalar_text", qScalarText, core = true)("SELECT n_name, " +
      "CASE WHEN length(n_name) >= 3 THEN substr(n_name, 1, 3) ELSE rpad(n_name, 3, ' ') END AS left3, " +
      "CASE WHEN length(n_name) >= 12 THEN substr(n_name, length(n_name) - 11, 12) ELSE lpad(n_name, 12, ' ') END AS right12, " +
      "substr(repeat(n_name, CAST(ceil(7.0 / length(n_name)) AS INTEGER)), 1, 7) AS fill7, " +
      "CASE WHEN strpos(n_name, 'A') = 0 THEN n_name ELSE substr(n_name, 1, strpos(n_name, 'A') - 1) END AS before_a, " +
      "CASE WHEN strpos(n_name, 'A') = 0 THEN '' ELSE substr(n_name, strpos(n_name, 'A') + 1) END AS after_a, " +
      "n_name || '_x' AS cat_x, lower(n_name) AS lower_name, CAST(length(n_name) AS INTEGER) AS name_len, " +
      "regexp_matches(n_name, '^[A-F]') AS is_match FROM nation"),
    gated("q_scalar_math", qScalarMath, core = true)("SELECT p_partkey, p_partkey // 7 AS div7, p_partkey % 7 AS mod7, " +
      "POWER(p_size, 2) AS size_sq, -p_size AS neg_size, GREATEST(p_size, 25) AS max_sz, LEAST(p_size, 25) AS min_sz FROM part"),
    gated("q_scalar_date", qScalarDate, core = true)("SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS yr, " +
      "CAST(month(o_orderdate) AS INTEGER) AS mo, CAST(day(o_orderdate) AS INTEGER) AS dy, " +
      "CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow, " +
      "CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INTEGER) AS days_since_95 FROM orders"),
    gated("q_if", qIf, core = true)("SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal > 5000 THEN 'high' ELSE 'mid' END AS balance_class FROM customer"),
    gated("q_events_hour", qEventsHour)("SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value FROM events GROUP BY 1, 2"),
    gated("q_nest_unnest", qNestUnnest, core = true)("SELECT c_nationkey, c_custkey, c_name FROM customer"),
    gated("q_nest_card", qNestCard, core = true)("SELECT c_nationkey, CAST(COUNT(*) AS INTEGER) AS n_custs FROM customer GROUP BY c_nationkey"),
    gated("q_dedup_exact", qDedupExact)("SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp, " +
      "min(doc_id) AS doc_id, count(*) AS dup_count FROM documents GROUP BY 1"),
    gated("q_dedup_minhash", qDedupMinhash)("WITH g AS (SELECT doc_id, " +
      "list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks)-3, 0)+2)]) AS gr " +
      "FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-z0-9]+') AS toks " +
      "FROM documents WHERE length(text) >= 5)) " +
      "SELECT id_a, id_b, jaccard FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(list_distinct(a.gr || b.gr)), 6) AS jaccard " +
      "FROM g a, g b WHERE a.doc_id < b.doc_id) WHERE jaccard >= 0.5"),
    gated("q_dedup_ngram", qDedupNgram)("WITH g AS (SELECT doc_id, list_distinct([substr(s, i, 5) " +
      "for i in range(1, greatest(length(s) - 3, 2))]) AS gr FROM " +
      "(SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s " +
      "FROM documents WHERE length(text) >= 5)) " +
      "SELECT id_a, id_b, jaccard FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(list_distinct(a.gr || b.gr)), 6) AS jaccard " +
      "FROM g a, g b WHERE a.doc_id < b.doc_id) WHERE jaccard >= 0.7"),
    gated("q_dedup_embed", qDedupEmbed)("SELECT id_a, id_b, cosine FROM (" +
      "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
      "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine " +
      "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id) " +
      "WHERE cosine >= 0.4"),
    gated("q_simhash_check", qSimhashCheck)("SELECT (SELECT count(*) FROM documents " +
      "WHERE doc_id < 200 AND length(text) >= 5) AS n_docs, " +
      "true AS blocking_complete, true AS blocking_sound"),
    gated("q_cdc_check", qCdcCheck)("SELECT count(*) AS n_docs, true AS recon_ok, " +
      "true AS bounds_ok, true AS shift_ok FROM documents"),
    gated("q_incr_cdc", qIncrCdc)(incrCdcOracle),
    // identical verdict through the PERSISTED chunk index (bucketed by
    // hash, chunking parameters riding in the meta)
    gated("q_cdc_persist", qCdcPersist)(incrCdcOracle),
    // n_docs and the identical-ASCII-prefix pair count replay from the
    // text; the booleans are the in-query differential's verdict.
    gated("q_image_dedup_check", qImageDedupCheck)("WITH p AS (SELECT doc_id, " +
      "regexp_replace(substring(text, 1, 200), '[^ -~]', '', 'g') AS pfx " +
      "FROM documents WHERE doc_id < 200), " +
      "q AS (SELECT pfx, count(*) AS c FROM p WHERE length(pfx) > 0 GROUP BY pfx) " +
      "SELECT (SELECT count(*) FROM p WHERE length(pfx) > 0) AS n_docs, " +
      "CAST((SELECT coalesce(sum(c*(c-1)//2), 0) FROM q) AS BIGINT) AS n_prefix_pairs, " +
      "true AS blocking_complete, true AS blocking_sound, true AS plants_found"),
    // identical frame to q_image_dedup_check — same prefixes, same replay
    gated("q_audio_dedup_check", qAudioDedupCheck)("WITH p AS (SELECT doc_id, " +
      "regexp_replace(substring(text, 1, 200), '[^ -~]', '', 'g') AS pfx " +
      "FROM documents WHERE doc_id < 200), " +
      "q AS (SELECT pfx, count(*) AS c FROM p WHERE length(pfx) > 0 GROUP BY pfx) " +
      "SELECT (SELECT count(*) FROM p WHERE length(pfx) > 0) AS n_docs, " +
      "CAST((SELECT coalesce(sum(c*(c-1)//2), 0) FROM q) AS BIGINT) AS n_prefix_pairs, " +
      "true AS blocking_complete, true AS blocking_sound, true AS plants_found"),
    // video member: same prefixes, same replay — the booleans are the
    // in-query MJPEG-AVI first-frame-dHash differential's verdict
    gated("q_video_dedup_check", qVideoDedupCheck)("WITH p AS (SELECT doc_id, " +
      "regexp_replace(substring(text, 1, 200), '[^ -~]', '', 'g') AS pfx " +
      "FROM documents WHERE doc_id < 200), " +
      "q AS (SELECT pfx, count(*) AS c FROM p WHERE length(pfx) > 0 GROUP BY pfx) " +
      "SELECT (SELECT count(*) FROM p WHERE length(pfx) > 0) AS n_docs, " +
      "CAST((SELECT coalesce(sum(c*(c-1)//2), 0) FROM q) AS BIGINT) AS n_prefix_pairs, " +
      "true AS blocking_complete, true AS blocking_sound, true AS plants_found"),
    gated("q_knn_lsh_check", qKnnLshCheck)("SELECT DISTINCT vec_id AS q_id, true AS recall_ok " +
      "FROM embeddings WHERE vec_id < 5"),
    gated("q_knn_ivf_check", qKnnIvfCheck)("SELECT DISTINCT vec_id AS q_id, true AS recall_ok " +
      "FROM embeddings WHERE vec_id < 5"),
    gated("q_knn_ivfpq_check", qKnnIvfPqCheck)("SELECT DISTINCT vec_id AS q_id, true AS recall_ok " +
      "FROM embeddings WHERE vec_id < 5"),
    gated("q_knn_serve_stream", qKnnServeStream)("SELECT DISTINCT vec_id AS q_id, true AS recall_ok, " +
      "true AS append_ok FROM embeddings WHERE vec_id < 5"),
    gated("q_whiten_check", qWhitenCheck)("SELECT count(*) AS n_vecs, true AS var_ok, " +
      "true AS decor_ok, true AS order_ok FROM embeddings"),
    gated("q_token_count", qTokenCount)("SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) END AS n_tokens, " +
      "CAST(length(text) AS INTEGER) AS n_chars FROM documents"),
    gated("q_quality", qQuality)("SELECT doc_id, " +
      "round(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS punct_ratio, " +
      "round(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS upper_ratio, " +
      "round(CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / len(string_split_regex(trim(text), '\\s+')) END, 6) AS mean_token_len " +
      "FROM documents"),
    gated("q_fingerprint", qFingerprint)("SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM documents"),
    gated("q_rminus", qRminus, core = true)("SELECT s_nationkey AS nationkey FROM supplier EXCEPT SELECT c_nationkey FROM customer"),
    gated("q_rajoinr", qRajoinr, core = true)("SELECT DISTINCT c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer " +
      "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)"),
    gated("q_sup", qSup, core = true)("SELECT (SELECT count(*) FROM (SELECT s_nationkey FROM supplier EXCEPT SELECT c_nationkey FROM customer)) = 0 AS is_sup"),
    gated("q_sep", qSep, core = true)("SELECT (SELECT count(*) FROM (SELECT s_nationkey FROM supplier INTERSECT SELECT c_nationkey FROM customer)) = 0 AS is_sep"),
    gated("q_import_csv", qImportCsv, core = true)("SELECT DISTINCT \"S#\", SNAME, CAST(\"STATUS:number\" AS DOUBLE) AS STATUS, CITY " +
      s"FROM read_csv('$csvFixture', header=true, all_varchar=true)"),
    gated("q_import_txt", qImportTxt, core = true)("SELECT DISTINCT Line " +
      s"FROM read_csv('$txtFixture', header=false, columns={'Line': 'VARCHAR'})"),
    gated("q_subtotal", qSubtotal, core = true)("SELECT o_orderpriority, COUNT(*) AS order_count, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price FROM orders GROUP BY 1"),
    gated("q_ordg", qOrdg, core = true)("SELECT o_orderkey, CAST(first_value(rn) OVER (PARTITION BY o_custkey " +
      "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS INTEGER) AS g " +
      "FROM (SELECT o_orderkey, o_custkey, o_orderdate, row_number() OVER (ORDER BY o_custkey, o_orderdate, o_orderkey) AS rn FROM orders)"),
    gated("q_schema", qSchema, core = true)("SELECT * FROM (VALUES ('l_orderkey','bigint'),('l_partkey','bigint')," +
      "('l_suppkey','bigint'),('l_linenumber','int'),('l_quantity','number')," +
      "('l_extendedprice','number'),('l_discount','number'),('l_tax','number')," +
      "('l_returnflag','text'),('l_linestatus','text'),('l_shipdate','time')) AS t(Name, Type)"),
    gated("q_seq", qSeq, core = true)("SELECT CAST(range AS BIGINT) AS N FROM range(1000)"),
    gated("q_tuple", qTuple, core = true)("SELECT r_name AS region, r_regionkey * 2 + 5 AS double_key, true AS extra " +
      "FROM region WHERE r_regionkey = (SELECT min(r_regionkey) FROM region)"),
    gated("q_binary", qBinary, core = true)("SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS blen, " +
      "CAST('0x' || substr(hex(encode(text)), 1, 2) AS INTEGER) AS b0, " +
      "CAST(88 AS INTEGER) AS b0_set FROM documents WHERE length(text) >= 1"),
    gated("q_convert", qConvert, core = true)("SELECT n_nationkey, CAST(n_nationkey AS VARCHAR) AS txt, " +
      "printf('%s=%03d', n_name, n_nationkey) AS fmt FROM nation"),
    gated("q_fun_call", qFunCall, core = true)("SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS net " +
      "FROM lineitem WHERE l_orderkey <= 1000"),
    gated("q_fun_fold", qFunFold, core = true)("SELECT n_regionkey, string_agg(n_name, ', ' ORDER BY n_name) AS names " +
      "FROM nation GROUP BY n_regionkey"),
    gated("q_udt", qUdt, core = true)("SELECT p_partkey, p_retailprice AS px, CAST(p_size AS DOUBLE) AS py FROM part"),
    gated("q_catalog_var", qCatalogVar, core = true)("SELECT 10 AS threshold_value, " +
      "(SELECT count(*) FROM nation WHERE n_nationkey < 10) AS n_below"),
    // snapshot-on-write replay: the same define→insert→delete→update
    // chain, each version read back as-of
    gated("q_catalog_history", qCatalogHistory, core = true)("WITH v1 AS (SELECT r_regionkey, r_name FROM region), " +
      "v2 AS (SELECT * FROM v1 UNION SELECT 99, 'NEWLAND'), " +
      "v3 AS (SELECT * FROM v2 WHERE NOT (r_regionkey = 0)), " +
      "v4 AS (SELECT r_regionkey, CASE WHEN r_regionkey = 1 " +
      "THEN 'V4_' || r_name ELSE r_name END AS r_name FROM v3) " +
      "SELECT 1 AS version, * FROM v1 UNION ALL SELECT 2, * FROM v2 " +
      "UNION ALL SELECT 3, * FROM v3 UNION ALL SELECT 4, * FROM v4"),
    // incremental ingest through the stored bucket layout: set-semantics
    // union (the re-delivered overlap is absorbed), and n_v1 pins that
    // the PRE-insert version kept serving its captured listing
    gated("q_bucketed_insert", qBucketedInsert)("WITH d AS (SELECT p_partkey + 5000000 AS " +
      "p_partkey, p_name, p_retailprice FROM part WHERE p_partkey % 7 = 0), " +
      "u AS (SELECT p_partkey, p_name, p_retailprice FROM part " +
      "UNION SELECT * FROM d) " +
      "SELECT p_partkey % 10 AS bucket_mod, count(*) AS n, " +
      "round(sum(p_retailprice), 4) AS price_sum, " +
      "(SELECT count(*) FROM part) AS n_v1 FROM u GROUP BY 1"),
    // layout-keeping delete + update: the rewrite's values must match a
    // plain relational evaluation, and n_v1 pins the pre-mutation as-of
    gated("q_bucketed_update", qBucketedUpdate)("WITH u AS (SELECT p_partkey, p_name, " +
      "CASE WHEN p_retailprice > 1500 THEN p_retailprice * 0.9 " +
      "ELSE p_retailprice END AS p_retailprice " +
      "FROM part WHERE p_partkey % 3 <> 0) " +
      "SELECT p_partkey % 10 AS bucket_mod, count(*) AS n, " +
      "round(sum(p_retailprice), 4) AS price_sum, " +
      "(SELECT count(*) FROM part) AS n_v1 FROM u GROUP BY 1"),
    // the co-bucketed tables hold exactly the source rows, so the
    // zero-Exchange join must value-match the plain join
    gated("q_bucketed_join", qBucketedJoin, core = true)("SELECT c_custkey, c_name, count(*) AS n_orders, " +
      "round(min(o_totalprice), 6) AS min_price, " +
      "round(max(o_totalprice), 6) AS max_price " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "GROUP BY c_custkey, c_name"),
    // the whole catalog lifecycle replayed in SQL: base ∪ delta with set
    // semantics (insert), CASE-mutation (update), the PRE-mutation
    // content fingerprint (the as-of read across the save/load
    // boundary), then the join over the post-mutation state
    gated("q_catalog_lifecycle", qCatalogLifecycle)("WITH cust AS (SELECT c_custkey, c_name, " +
      "c_acctbal FROM customer), " +
      "ins AS (SELECT DISTINCT * FROM (" +
      "SELECT * FROM cust " +
      "UNION ALL SELECT c_custkey + 9000000, c_name, c_acctbal FROM cust " +
      "WHERE c_custkey % 11 = 0 " +
      "UNION ALL SELECT * FROM cust WHERE c_custkey <= 30)), " +
      "upd AS (SELECT c_custkey, c_name, CASE WHEN c_acctbal > 5000 " +
      "THEN c_acctbal * 0.9 ELSE c_acctbal END AS c_acctbal FROM ins), " +
      "pre AS (SELECT count(*) AS n_pre, round(sum(c_acctbal), 2) AS " +
      "pre_bal FROM ins) " +
      "SELECT u.c_custkey, u.c_name, count(*) AS n_orders, " +
      "round(sum(o.o_totalprice), 4) AS price_sum, " +
      "round(min(u.c_acctbal), 4) AS bal, " +
      "(SELECT n_pre FROM pre) AS n_pre, " +
      "(SELECT pre_bal FROM pre) AS pre_bal " +
      "FROM upd u JOIN orders o ON u.c_custkey = o.o_custkey " +
      "GROUP BY u.c_custkey, u.c_name"),
    // ~20% of lineitem collapses onto order key 1 before the join — the
    // hash-mismatch-proof oracle for the AQE-skew-handled plan
    gated("q_skew_join", qSkewJoin)("SELECT k, count(*) AS n_li, " +
      "round(sum(l_quantity), 6) AS sum_qty, " +
      "round(max(o_totalprice), 6) AS max_price FROM " +
      "(SELECT CASE WHEN l_orderkey % 5 = 0 THEN 1 ELSE l_orderkey END AS k, " +
      "l_quantity FROM lineitem) li " +
      "JOIN (SELECT o_orderkey AS k, o_totalprice FROM orders) o USING (k) " +
      "GROUP BY k"),
    gated("q_fold_bool", qFoldBool, core = true)("SELECT o_orderpriority, bool_and(o_totalprice > 1000.0) AS all_mid, " +
      "bool_or(o_totalprice > 400000.0) AS any_big, " +
      "(COUNT(*) FILTER (WHERE o_orderkey % 2 = 1)) % 2 = 1 AS odd_count " +
      "FROM orders GROUP BY o_orderpriority"),
    gated("q_fold_union_rva", qFoldUnionRva, core = true)("SELECT DISTINCT l_suppkey FROM lineitem WHERE l_orderkey <= 1000"),
    gated("q_fold_ordered", qFoldOrdered, core = true)("SELECT l_orderkey, ROUND(-SUM(l_quantity), 6) AS neg_qty, " +
      "ROUND(1.0 / PRODUCT(1.0 + l_discount), 6) AS inv_disc " +
      "FROM lineitem WHERE l_orderkey <= 500 GROUP BY l_orderkey"),
    gated("q_langid", qLangId)("SELECT doc_id, CASE WHEN m = 0 THEN 'und' WHEN h_fr = m THEN 'fr' " +
      "WHEN h_es = m THEN 'es' WHEN h_en = m THEN 'en' ELSE 'de' END AS lang_guess FROM (" +
      "SELECT doc_id, greatest(h_en, h_de, h_fr, h_es) AS m, h_en, h_de, h_fr, h_es FROM (" +
      "SELECT doc_id, " +
      "len(list_filter(toks, t -> list_contains(['the','and','is','of','to','that','it','was','with'], t))) AS h_en, " +
      "len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht','ein','mit','sich'], t))) AS h_de, " +
      "len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une','dans','que','pour'], t))) AS h_fr, " +
      "len(list_filter(toks, t -> list_contains(['el','la','los','es','una','por','que','con','para'], t))) AS h_es " +
      "FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-zàâäéèêëîïôöùûüÿçáíóúñß]+') AS toks FROM documents)))"),
    gated("q_ngram_exact", qNgramExact)("WITH g AS (SELECT doc_id, list_distinct([substr(s, i, 5) " +
      "for i in range(1, greatest(length(s) - 3, 2))]) AS gr FROM " +
      "(SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s " +
      "FROM documents WHERE doc_id < 200 AND length(text) >= 5)) " +
      "SELECT id_a, id_b, jaccard FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "round(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(list_distinct(a.gr || b.gr)), 6) AS jaccard " +
      "FROM g a, g b WHERE a.doc_id < b.doc_id) WHERE jaccard >= 0.5"),
    gated("q_embed_exact", qEmbedExact)("SELECT id_a, id_b, cosine FROM (" +
      "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
      "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine " +
      "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id AND a.vec_id < 300 AND b.vec_id < 300) " +
      "WHERE cosine >= 0.4"),
    gated("q_knn_brute", qKnnBrute)("SELECT q_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (" +
      "SELECT q.vec_id AS q_id, c.vec_id AS vec_id, " +
      "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cosine, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank " +
      "FROM embeddings q, embeddings c WHERE q.vec_id < 5) " +
      "WHERE rank <= 10"),
    gated("q_multimodal", qMultimodal)("SELECT doc_id AS asset_id, " +
      "CAST(64 + (abs(octet_length(encode(text)) * 31) % 1024) AS INTEGER) AS width, " +
      "CAST(64 + (abs(octet_length(encode(text)) * 17) % 1024) AS INTEGER) AS height, 3 AS channels, " +
      "CAST(ceil((64 + (abs(octet_length(encode(text)) * 31) % 1024)) * LEAST(256.0 / (64 + (abs(octet_length(encode(text)) * 31) % 1024)), 256.0 / (64 + (abs(octet_length(encode(text)) * 17) % 1024)), 1.0)) AS INTEGER) AS target_width, " +
      "CAST(ceil((64 + (abs(octet_length(encode(text)) * 17) % 1024)) * LEAST(256.0 / (64 + (abs(octet_length(encode(text)) * 31) % 1024)), 256.0 / (64 + (abs(octet_length(encode(text)) * 17) % 1024)), 1.0)) AS INTEGER) AS target_height " +
      "FROM documents"),

    // ---- Andl language front end: scripts vs the same algebra in SQL.
    // Numeric relvars widen to double at the language boundary (SURVEY
    // §1.2), hence the CASTs; integer-valued double sums are exact.
    gated("q_lang_basic", qLangBasic, core = true)("SELECT DISTINCT n_name, CAST(n_nationkey * 2 + 1 AS DOUBLE) AS key2 " +
      "FROM nation WHERE n_regionkey = 2"),
    gated("q_lang_join", qLangJoin, core = true)("SELECT DISTINCT s_name, n_name FROM supplier " +
      "JOIN nation ON s_nationkey = n_nationkey"),
    gated("q_lang_fold", qLangFold, core = true)("SELECT CAST(o_custkey AS DOUBLE) AS o_custkey, " +
      "CAST(SUM(o_orderkey) AS DOUBLE) AS total, CAST(COUNT(*) AS DOUBLE) AS cnt " +
      "FROM orders GROUP BY o_custkey"),
    gated("q_lang_order", qLangOrder, core = true)("SELECT CAST(n_nationkey AS DOUBLE) AS n_nationkey, " +
      "CAST(SUM(n_nationkey) OVER (ORDER BY n_nationkey) AS DOUBLE) AS run FROM nation"),
    gated("q_lang_while", qLangWhile, core = true)("WITH RECURSIVE t(A1) AS (SELECT CAST(0 AS DOUBLE) " +
      "UNION ALL SELECT A1 + 1 FROM t WHERE A1 <= 99) SELECT A1 FROM t"),

    // ---- round 6: clustering / sketches / composed pipeline / streaming
    // Connected components via recursive-CTE transitive closure over the
    // SAME pair set the engine clusters (unrounded jaccard filter, exactly
    // like Dedup.verifyJaccard).
    gated("q_dedup_cluster", qDedupCluster)("WITH RECURSIVE g AS (SELECT doc_id, " +
      "list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks)-3, 0)+2)]) AS gr " +
      "FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-z0-9]+') AS toks " +
      "FROM documents WHERE length(text) >= 5)), " +
      "pairs AS (SELECT id_a, id_b FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(list_distinct(a.gr || b.gr)) AS jaccard " +
      "FROM g a, g b WHERE a.doc_id < b.doc_id) WHERE jaccard >= 0.5), " +
      "edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
      "reach(a, b) AS (SELECT a, b FROM edges " +
      "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a), " +
      "comp AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a) " +
      "SELECT doc_id, rep, count(*) OVER (PARTITION BY rep) AS csize FROM comp"),
    // Distributed-tier CC over per-user event successor chains: each
    // user's chain is one path-graph component, so the component map has a
    // CLOSED FORM — every event of a ≥2-event user, represented by the
    // user's minimum event_id. The engine side computes it with the real
    // pointer-doubling loop (driverEdgeCap = 0); the oracle states the
    // closed form.
    gated("q_cc_dist", qCcDist)("SELECT event_id, rep FROM (SELECT event_id, " +
      "count(*) OVER (PARTITION BY user_id) AS n, " +
      "min(event_id) OVER (PARTITION BY user_id) AS rep FROM events) " +
      "WHERE n >= 2"),
    gated("q_dedup_survivors", qDedupSurvivors)("WITH RECURSIVE g AS (SELECT doc_id, " +
      "list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks)-3, 0)+2)]) AS gr " +
      "FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-z0-9]+') AS toks " +
      "FROM documents WHERE length(text) >= 5)), " +
      "pairs AS (SELECT id_a, id_b FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(list_distinct(a.gr || b.gr)) AS jaccard " +
      "FROM g a, g b WHERE a.doc_id < b.doc_id) WHERE jaccard >= 0.5), " +
      "edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
      "reach(a, b) AS (SELECT a, b FROM edges " +
      "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a), " +
      "comp AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a) " +
      "SELECT d.doc_id FROM documents d WHERE length(d.text) >= 5 " +
      "AND d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> rep)"),

    // Same exact-Jaccard closure as q_dedup_survivors; the keep rule is
    // per-component argmax by (text length, -doc_id) instead of min id.
    gated("q_survivors_quality", qSurvivorsQuality)("WITH RECURSIVE g AS (SELECT doc_id, " +
      "list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks)-3, 0)+2)]) AS gr " +
      "FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-z0-9]+') AS toks " +
      "FROM documents WHERE length(text) >= 5)), " +
      "pairs AS (SELECT id_a, id_b FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(list_distinct(a.gr || b.gr)) AS jaccard " +
      "FROM g a, g b WHERE a.doc_id < b.doc_id) WHERE jaccard >= 0.5), " +
      "edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
      "reach(a, b) AS (SELECT a, b FROM edges " +
      "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a), " +
      "comp AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a), " +
      "scored AS (SELECT c.doc_id, c.rep, length(d.text) AS len FROM comp c " +
      "JOIN documents d USING (doc_id)), " +
      "keep AS (SELECT doc_id FROM (SELECT doc_id, " +
      "row_number() OVER (PARTITION BY rep ORDER BY len DESC, doc_id ASC) AS rn " +
      "FROM scored) WHERE rn = 1) " +
      "SELECT d.doc_id FROM documents d WHERE length(d.text) >= 5 " +
      "AND d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id NOT IN " +
      "(SELECT doc_id FROM keep))"),
    gated("q_sketch_check", qSketchCheck)("SELECT true AS hll_ok, true AS quantile_ok, " +
      "true AS cms_ok, true AS bloom_ok, true AS hll_merge_ok"),
    gated("q_pipeline_clean", qPipelineClean)("WITH lang AS (" +
      "SELECT doc_id, CASE WHEN m = 0 THEN 'und' WHEN h_fr = m THEN 'fr' " +
      "WHEN h_es = m THEN 'es' WHEN h_en = m THEN 'en' ELSE 'de' END AS lang_guess FROM (" +
      "SELECT doc_id, greatest(h_en, h_de, h_fr, h_es) AS m, h_en, h_de, h_fr, h_es FROM (" +
      "SELECT doc_id, " +
      "len(list_filter(toks, t -> list_contains(['the','and','is','of','to','that','it','was','with'], t))) AS h_en, " +
      "len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht','ein','mit','sich'], t))) AS h_de, " +
      "len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une','dans','que','pour'], t))) AS h_fr, " +
      "len(list_filter(toks, t -> list_contains(['el','la','los','es','una','por','que','con','para'], t))) AS h_es " +
      "FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-zàâäéèêëîïôöùûüÿçáíóúñß]+') AS toks FROM documents)))), " +
      "enr AS (SELECT d.doc_id, d.text, l.lang_guess, " +
      "CASE WHEN length(trim(d.text)) = 0 THEN 0 ELSE CAST(len(string_split_regex(trim(d.text), '\\s+')) AS INTEGER) END AS n_tokens, " +
      "CASE WHEN length(d.text) = 0 THEN 0.0 ELSE CAST(length(d.text) - length(regexp_replace(d.text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(d.text) END AS punct_ratio " +
      "FROM documents d JOIN lang l USING (doc_id)) " +
      "SELECT min(doc_id) AS doc_id, count(*) AS dup_count, " +
      "min(lang_guess) AS lang_guess, min(n_tokens) AS n_tokens " +
      "FROM enr WHERE n_tokens >= 3 AND punct_ratio <= 0.5 " +
      "GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"),
    gated("q_stream_window", qStreamWindow)("SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value FROM events GROUP BY 1, 2"),

    // ---- round 6: sampling / tf-idf / sessionization
    // Identical md5-bucket predicate recomputed in SQL (content-hash
    // sampling is engine-portable by construction).
    gated("q_sample_strat", qSampleStrat)("SELECT doc_id, source FROM (SELECT doc_id, source, " +
      "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS b, " +
      "CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50 WHEN 'src2' THEN 25 " +
      "WHEN 'src3' THEN 10 ELSE 0 END AS keep FROM documents) WHERE b < keep"),
    gated("q_temp_mix", qTempMix)("WITH c AS (SELECT source, count(*) AS n FROM documents " +
      "GROUP BY source), " +
      "t AS (SELECT CAST(SUM(n) AS DOUBLE) AS ntot, " +
      "SUM(pow(CAST(n AS DOUBLE), 0.5)) AS z FROM c), " +
      "r AS (SELECT source, round(least(1.0, " +
      "0.5 * t.ntot * pow(CAST(c.n AS DOUBLE), -0.5) / t.z), 6) AS r FROM c, t) " +
      "SELECT doc_id, source FROM (" +
      "SELECT d.doc_id, d.source, " +
      "CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS b, " +
      "r.r FROM documents d JOIN r USING (source)) " +
      "WHERE b < CAST(round(r * 100) AS INTEGER)"),

    gated("q_shuffle_order", qShuffleOrder, core = true)("SELECT doc_id, CAST(row_number() OVER (" +
      "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS shuffle_rank " +
      "FROM documents"),

    gated("q_split_leakage", qSplitLeakage)("WITH s AS (SELECT doc_id, text, " +
      "CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split " +
      "FROM (SELECT doc_id, text, " +
      "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS b " +
      "FROM documents)), " +
      "nn AS (SELECT doc_id, " +
      "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt, split FROM s), " +
      "ev AS (SELECT doc_id AS eval_id, substr(nt, 11, 40) AS snippet FROM nn " +
      "WHERE split = 'test' AND doc_id % 17 = 0 AND length(nt) >= 50), " +
      "evn AS (SELECT eval_id, " +
      "regexp_replace(lower(trim(snippet)), '\\s+', ' ', 'g') AS sn FROM ev), " +
      "evg AS (SELECT eval_id, list_distinct([substr(sn, i, 8) " +
      "for i in range(1, greatest(length(sn) - 6, 2))]) AS gr FROM evn), " +
      "dgr AS (SELECT doc_id, list_distinct([substr(nt, i, 8) " +
      "for i in range(1, greatest(length(nt) - 6, 2))]) AS gr FROM nn " +
      "WHERE split = 'train') " +
      "SELECT train_doc_id, test_doc_id, round(ov, 6) AS overlap FROM (" +
      "SELECT d.doc_id AS train_doc_id, e.eval_id AS test_doc_id, " +
      "CAST(len(list_intersect(d.gr, e.gr)) AS DOUBLE) / len(e.gr) AS ov " +
      "FROM dgr d, evg e) WHERE ov >= 0.6"),

    gated("q_top_quality", qTopQuality)("WITH q AS (SELECT doc_id, source, " +
      qualitySql + " AS quality FROM documents) " +
      "SELECT source, doc_id, quality, CAST(rank AS INTEGER) AS rank FROM (" +
      "SELECT source, doc_id, quality, " +
      "row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rank " +
      "FROM q) WHERE rank <= 5"),

    gated("q_split", qSplit)("SELECT doc_id, CASE WHEN b < 80 THEN 'train' " +
      "WHEN b < 90 THEN 'val' ELSE 'test' END AS split FROM (" +
      "SELECT doc_id, CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) " +
      "AS INTEGER) % 100 AS b FROM documents)"),

    gated("q_tfidf", qTfidf)("WITH tok AS (SELECT doc_id, unnest(string_split_regex(" +
      "lower(trim(text)), '[^a-z0-9]+')) AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE length(term) > 0 " +
      "GROUP BY doc_id, term), " +
      "dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), " +
      "n AS (SELECT COUNT(*) AS n FROM documents) " +
      "SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, " +
      "tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df) AS tfidf " +
      "FROM tf JOIN dfreq USING (term) CROSS JOIN n WHERE tf.tf >= 2"),
    // Gaps-and-islands with the same break rule as session_window:
    // a gap >= 30 minutes starts a new session.
    // Identical plant + scrub replayed in RE2-compatible regex.
    gated("q_scrub", qScrub)("SELECT doc_id, regexp_replace(regexp_replace(" +
      "text || CASE WHEN doc_id % 7 = 0 THEN ' contact bob@example.com now' " +
      "WHEN doc_id % 7 = 1 THEN ' see https://example.com/a?b=c please' ELSE '' END, " +
      "'https?://\\S+', '<URL>', 'g'), " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS text " +
      "FROM documents"),
    // The same canonicalization regex chain, replayed stepwise (DuckDB
    // backrefs are \1-style, Spark's $1 — same semantics; 'g' on the
    // multi-occurrence steps because DuckDB defaults to first-match).
    gated("q_url_canon", qUrlCanon)("WITH u AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://Example.COM:443/Products/View' " +
      "WHEN doc_id % 3 = 1 THEN 'https://example.com/Products/View?utm_source=mail&id=' || CAST(doc_id AS VARCHAR) " +
      "ELSE 'http://EXAMPLE.com:80/?fbclid=abc#frag' END AS url FROM documents), " +
      "s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS v FROM u), " +
      "s2 AS (SELECT doc_id, url, CASE WHEN sh = '' THEN v " +
      "ELSE lower(sh) || substr(v, length(sh) + 1) END AS v FROM " +
      "(SELECT doc_id, url, v, regexp_extract(v, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS sh FROM s1)), " +
      "s3 AS (SELECT doc_id, url, regexp_replace(v, '^(https?://[^/?#:]*):(?:80|443)(/|\\?|$)', '\\1\\2') AS v FROM s2), " +
      "s4 AS (SELECT doc_id, url, regexp_replace(v, '[?&](?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*', '', 'g') AS v FROM s3), " +
      "s5 AS (SELECT doc_id, url, regexp_replace(regexp_replace(v, '\\?&', '?', 'g'), '^([^?&]+)&', '\\1?') AS v FROM s4), " +
      "s6 AS (SELECT doc_id, url, regexp_replace(v, '[?&]$', '') AS v FROM s5) " +
      "SELECT doc_id, url, regexp_replace(v, '^(https?://[^/?#]*)/$', '\\1') AS canon_url FROM s6"),
    // Identical plant (chr(769) = U+0301 COMBINING ACUTE, chr(201) = É,
    // chr(9) = tab) normalized with DuckDB's own nfc_normalize.
    gated("q_normalize", qNormalize)("SELECT doc_id, trim(regexp_replace(nfc_normalize(lower(" +
      "text || CASE WHEN doc_id % 11 = 0 THEN ' cafe' || chr(769) || ' visite' || chr(769) || 'e' " +
      "WHEN doc_id % 13 = 0 THEN '  EXTRA' || chr(9) || ' Spaces ' || chr(201) || 'T' || chr(201) || ' ' " +
      "ELSE '' END)), '\\s+', ' ', 'g')) AS norm_text FROM documents"),
    // same per-doc fractions, computed relationally (unnest + group
    // counts + arg-top by (k desc, g asc)) — value-identical to the
    // in-row sorted-run pass, mode ties included
    gated("q_repetition", qRepetition)("WITH t AS (SELECT doc_id, " +
      "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS ts " +
      "FROM documents), " +
      "base AS (SELECT doc_id, ts, length(array_to_string(ts, ' ')) AS norm_len FROM t), " +
      "g2 AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 2 " +
      "THEN list_transform(list_slice(ts, 1, len(ts)-1), (x, i) -> x || ' ' || ts[i+1]) " +
      "ELSE [] END) AS g FROM base), " +
      "c2 AS (SELECT doc_id, g, count(*) AS k FROM g2 GROUP BY 1, 2), " +
      "top2 AS (SELECT doc_id, k * length(g) AS chars FROM (" +
      "SELECT doc_id, g, k, row_number() OVER (PARTITION BY doc_id ORDER BY k DESC, g ASC) AS rn " +
      "FROM c2) WHERE rn = 1), " +
      "g3 AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 3 " +
      "THEN list_transform(list_slice(ts, 1, len(ts)-2), (x, i) -> x || ' ' || ts[i+1] || ' ' || ts[i+2]) " +
      "ELSE [] END) AS g FROM base), " +
      "c3 AS (SELECT doc_id, sum(k * length(g)) FILTER (k > 1) AS dupc FROM (" +
      "SELECT doc_id, g, count(*) AS k FROM g3 GROUP BY 1, 2) GROUP BY 1) " +
      "SELECT b.doc_id, " +
      "round(least(1.0, CASE WHEN b.norm_len > 0 THEN COALESCE(t2.chars, 0) * 1.0 / b.norm_len ELSE 0.0 END), 6) AS top_2gram_char_frac, " +
      "round(least(1.0, CASE WHEN b.norm_len > 0 THEN COALESCE(c3.dupc, 0) * 1.0 / b.norm_len ELSE 0.0 END), 6) AS dup_3gram_char_frac " +
      "FROM base b LEFT JOIN top2 t2 USING (doc_id) LEFT JOIN c3 USING (doc_id)"),
    gated("q_quality_rules", qQualityRules)("WITH base AS (SELECT doc_id, " +
      "CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens, " +
      "CASE WHEN length(trim(text)) = 0 THEN 0.0 " +
      "ELSE CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / " +
      "len(string_split_regex(trim(text), '\\s+')) END AS mean_tok, " +
      "CASE WHEN length(text) = 0 THEN 0.0 " +
      "ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS punct, " +
      "len(list_filter(string_split_regex(lower(trim(text)), '[^a-z]+'), " +
      "t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS stop_hits " +
      "FROM documents), " +
      "rep AS (SELECT doc_id, CAST(MAX(n) AS DOUBLE) / SUM(n) AS r FROM (" +
      "SELECT doc_id, tok, COUNT(*) AS n FROM (" +
      "SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS tok " +
      "FROM documents) WHERE length(tok) > 0 GROUP BY doc_id, tok) GROUP BY doc_id) " +
      "SELECT b.doc_id, " +
      "b.n_tokens BETWEEN 5 AND 10000 AS ok_tokens, " +
      "b.mean_tok BETWEEN 2.0 AND 12.0 AS ok_tok_len, " +
      "b.punct <= 0.2 AS ok_punct, " +
      "b.stop_hits > 0 AS ok_stopwords, " +
      "round(COALESCE(rep.r, 0.0), 6) AS top_token_ratio, " +
      "(b.n_tokens BETWEEN 5 AND 10000) AND (b.mean_tok BETWEEN 2.0 AND 12.0) " +
      "AND b.punct <= 0.2 AND b.stop_hits > 0 AND COALESCE(rep.r, 0.0) <= 0.3 AS keep " +
      "FROM base b LEFT JOIN rep USING (doc_id)"),
    gated("q_sessionize", qSessionize)("WITH x AS (SELECT user_id, ts, CASE WHEN " +
      "lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE " +
      "THEN 1 ELSE 0 END AS brk FROM events " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
      "y AS (SELECT user_id, ts, SUM(brk) OVER " +
      "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM x) " +
      "SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end, " +
      "COUNT(*) AS n_events FROM y GROUP BY user_id, sid"),

    gated("q_chunk_dedup", qChunkDedup)("WITH chunks AS (SELECT d.doc_id, " +
      "CAST(i AS INTEGER) AS chunk_idx, " +
      "array_to_string(list_slice(string_split_regex(lower(trim(d.text)), '\\s+'), " +
      "(i-1)*10+1, i*10), ' ') AS chunk, d.doc_id*1000000 + i AS pos " +
      "FROM documents d, unnest(generate_series(1, CAST(ceil(" +
      "len(string_split_regex(lower(trim(d.text)), '\\s+'))/10.0) AS BIGINT))) AS t(i)) " +
      "SELECT doc_id, chunk_idx, chunk, " +
      "pos = min(pos) OVER (PARTITION BY md5(chunk)) AS kept FROM chunks"),

    gated("q_decontaminate", qDecontaminate)("WITH n AS (SELECT doc_id, " +
      "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt FROM documents), " +
      "ev AS (SELECT doc_id AS eval_id, substr(nt, 11, 40) AS snippet FROM n " +
      "WHERE doc_id % 17 = 0 AND length(nt) >= 50) " +
      "SELECT d.doc_id, ev.eval_id FROM n d, ev " +
      "WHERE position(ev.snippet IN d.nt) > 0"),

    gated("q_asof", qAsof)("WITH l AS (SELECT event_id, user_id, ts, value AS purchase_value " +
      "FROM events WHERE event_type = 'purchase'), " +
      "r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click') " +
      "SELECT l.event_id, l.user_id, l.ts, l.purchase_value, " +
      "r.ts AS click_ts, r.value AS click_value " +
      "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"),

    gated("q_knn_q8_check", qKnnQ8Check)("SELECT DISTINCT vec_id AS q_id, true AS recall_ok " +
      "FROM embeddings WHERE vec_id < 5"),

    gated("q_knn_pq_check", qKnnPqCheck)("SELECT DISTINCT vec_id AS q_id, true AS recall_ok " +
      "FROM embeddings WHERE vec_id < 5"),

    gated("q_semdedup_check", qSemdedupCheck)("SELECT true AS soundness_ok, true AS recall_ok"),

    gated("q_lm_score", qLmScore)("WITH tok AS (SELECT doc_id, list_filter(" +
      "string_split_regex(lower(trim(text)), '[^a-z0-9]+'), " +
      "t -> length(t) > 0) AS ts FROM documents), " +
      "b AS (SELECT doc_id, " +
      "unnest([ts[i] for i in range(1, len(ts))]) AS w1, " +
      "unnest([ts[i+1] for i in range(1, len(ts))]) AS w2 FROM tok), " +
      "c2 AS (SELECT w1, w2, count(*) AS n2 FROM b GROUP BY 1, 2), " +
      "c1 AS (SELECT w1, count(*) AS n1 FROM b GROUP BY 1), " +
      "v AS (SELECT count(DISTINCT t) AS nv FROM " +
      "(SELECT unnest(ts) AS t FROM tok)), " +
      "sc AS (SELECT b.doc_id, CAST(round(ln((n2 + 0.5) / (n1 + 0.5 * nv)), 6) " +
      "AS DECIMAL(18,6)) AS lp " +
      "FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v) " +
      "SELECT doc_id, count(*) AS n_bigrams, " +
      "round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS lm_score " +
      "FROM sc GROUP BY doc_id"),

    gated("q_intra_dedup", qIntraDedup)("WITH p AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 " +
      "THEN concat_ws(' ', t10, t10, t10) ELSE text END AS text FROM (" +
      "SELECT doc_id, text, array_to_string(list_slice(" +
      "string_split_regex(lower(trim(text)), '\\s+'), 1, 10), ' ') AS t10 " +
      "FROM documents)), " +
      "c AS (SELECT d.doc_id, CAST(i AS INTEGER) AS chunk_idx, " +
      "array_to_string(list_slice(string_split_regex(lower(trim(d.text)), '\\s+'), " +
      "(i-1)*10+1, i*10), ' ') AS chunk " +
      "FROM p d, unnest(generate_series(1, CAST(ceil(" +
      "len(string_split_regex(lower(trim(d.text)), '\\s+'))/10.0) AS BIGINT))) AS t(i)) " +
      "SELECT doc_id, chunk_idx, chunk, " +
      "chunk_idx = CAST(min(chunk_idx) OVER (PARTITION BY doc_id, chunk) AS INTEGER) " +
      "AS kept FROM c"),

    gated("q_stream_join", qStreamJoin)("SELECT p.event_id AS purchase_id, p.user_id, " +
      "p.ts AS p_ts, p.value AS purchase_value, c.ts AS c_ts, " +
      "c.value AS click_value " +
      "FROM events p JOIN events c ON p.event_type = 'purchase' " +
      "AND c.event_type = 'click' AND p.user_id = c.user_id " +
      "AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts"),

    gated("q_ngram_stats", qNgramStats)("WITH tok AS (SELECT list_filter(" +
      "string_split_regex(lower(trim(text)), '[^a-z0-9]+'), " +
      "t -> length(t) > 0) AS ts FROM documents), " +
      "bg AS (SELECT unnest([ts[i] || ' ' || ts[i+1] " +
      "for i in range(1, len(ts))]) AS bigram FROM tok) " +
      "SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram " +
      "HAVING COUNT(*) >= 10"),

    gated("q_decontam_fuzzy", qDecontamFuzzy)("WITH nn AS (SELECT doc_id, " +
      "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt FROM documents), " +
      "ev AS (SELECT doc_id AS eval_id, 'z' || substr(nt, 12, 39) AS snippet " +
      "FROM nn WHERE doc_id % 17 = 0 AND length(nt) >= 50), " +
      "evn AS (SELECT eval_id, " +
      "regexp_replace(lower(trim(snippet)), '\\s+', ' ', 'g') AS sn FROM ev), " +
      "evg AS (SELECT eval_id, list_distinct([substr(sn, i, 8) " +
      "for i in range(1, greatest(length(sn) - 6, 2))]) AS gr FROM evn), " +
      "dgr AS (SELECT doc_id, list_distinct([substr(nt, i, 8) " +
      "for i in range(1, greatest(length(nt) - 6, 2))]) AS gr FROM nn) " +
      "SELECT doc_id, eval_id, round(ov, 6) AS overlap FROM (" +
      "SELECT d.doc_id, e.eval_id, " +
      "CAST(len(list_intersect(d.gr, e.gr)) AS DOUBLE) / len(e.gr) AS ov " +
      "FROM dgr d, evg e) WHERE ov >= 0.6"),

    gated("q_domains", qDomains)("WITH p AS (SELECT doc_id, text || ' see https://' || " +
      "['alpha.example','beta.example','gamma.example','delta.test']" +
      "[CAST(doc_id % 4 + 1 AS INTEGER)] || '/p/' || CAST(doc_id AS VARCHAR) || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' and http://mirror.example/x' ELSE '' END AS t " +
      "FROM documents), " +
      "u AS (SELECT doc_id, unnest(regexp_extract_all(t, 'https?://([^/\\s]+)', 1)) " +
      "AS domain FROM p) " +
      "SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs " +
      "FROM u GROUP BY domain"),

    // chunk i covers tokens [i*30+1, i*30+40] (1-based); n_chunks =
    // max(ceil((n_tok - 10)/30), 1); blank docs yield no chunks
    gated("q_chunk_split", qChunkSplit)("WITH tok AS (SELECT doc_id, " +
      "string_split_regex(trim(text), '\\s+') AS toks FROM documents " +
      "WHERE length(trim(text)) > 0), " +
      "n AS (SELECT doc_id, toks, " +
      "CAST(greatest(ceil((len(toks) - 10) / 30.0), 1) AS INTEGER) AS nc FROM tok), " +
      "c AS (SELECT doc_id, toks, " +
      "CAST(unnest(range(nc)) AS INTEGER) AS chunk_idx FROM n) " +
      "SELECT doc_id, chunk_idx, " +
      "array_to_string(toks[chunk_idx*30+1 : chunk_idx*30+40], ' ') AS chunk, " +
      "CAST(len(toks[chunk_idx*30+1 : chunk_idx*30+40]) AS INTEGER) AS n_tokens " +
      "FROM c"),

    // the identical greedy first-fit walk, replayed as a recursive CTE in
    // per-bucket row_number order
    gated("q_pack", qPack)("WITH RECURSIVE d AS (SELECT doc_id, doc_id % 8 AS bucket, " +
      "CAST(least(CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE len(string_split_regex(trim(text), '\\s+')) END, 256) AS INTEGER) AS tok, " +
      "CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS BIGINT) AS rn " +
      "FROM documents), " +
      "r AS (SELECT bucket, rn, doc_id, tok, CAST(0 AS BIGINT) AS pack_id, tok AS acc " +
      "FROM d WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT d.bucket, d.rn, d.doc_id, d.tok, " +
      "CASE WHEN r.acc + d.tok > 256 THEN r.pack_id + 1 ELSE r.pack_id END, " +
      "CASE WHEN r.acc + d.tok > 256 THEN d.tok ELSE r.acc + d.tok END " +
      "FROM r JOIN d ON d.bucket = r.bucket AND d.rn = r.rn + 1) " +
      "SELECT doc_id, bucket, pack_id, tok AS n_tokens FROM r"),

    gated("q_e2e_prepare", qE2ePrepare)("WITH RECURSIVE base AS (SELECT doc_id, text, " +
      "CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens, " +
      "CASE WHEN length(trim(text)) = 0 THEN 0.0 " +
      "ELSE CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / " +
      "len(string_split_regex(trim(text), '\\s+')) END AS mean_tok, " +
      "CASE WHEN length(text) = 0 THEN 0.0 " +
      "ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS punct, " +
      "len(list_filter(string_split_regex(lower(trim(text)), '[^a-z]+'), " +
      "t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS stop_hits " +
      "FROM documents), " +
      "keep AS (SELECT doc_id, text, n_tokens FROM base " +
      "WHERE n_tokens BETWEEN 5 AND 10000 AND mean_tok BETWEEN 2.0 AND 12.0 " +
      "AND punct <= 0.2 AND stop_hits > 0), " +
      "win AS (SELECT min(doc_id) AS doc_id FROM keep " +
      "GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))), " +
      "d AS (SELECT k.doc_id, k.doc_id % 8 AS bucket, " +
      "CAST(least(k.n_tokens, 256) AS INTEGER) AS tok, " +
      "CAST(row_number() OVER (PARTITION BY k.doc_id % 8 ORDER BY k.doc_id) AS BIGINT) AS rn " +
      "FROM keep k JOIN win USING (doc_id)), " +
      "r AS (SELECT bucket, rn, doc_id, tok, CAST(0 AS BIGINT) AS pack_id, tok AS acc " +
      "FROM d WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT d.bucket, d.rn, d.doc_id, d.tok, " +
      "CASE WHEN r.acc + d.tok > 256 THEN r.pack_id + 1 ELSE r.pack_id END, " +
      "CASE WHEN r.acc + d.tok > 256 THEN d.tok ELSE r.acc + d.tok END " +
      "FROM r JOIN d ON d.bucket = r.bucket AND d.rn = r.rn + 1) " +
      "SELECT doc_id, bucket, pack_id, tok AS n_tokens FROM r"),

    gated("q_pack_stats", qPackStats)("WITH RECURSIVE d AS (SELECT doc_id, doc_id % 8 AS bucket, " +
      "CAST(least(CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE len(string_split_regex(trim(text), '\\s+')) END, 256) AS INTEGER) AS tok, " +
      "CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS BIGINT) AS rn " +
      "FROM documents), " +
      "r AS (SELECT bucket, rn, doc_id, tok, CAST(0 AS BIGINT) AS pack_id, tok AS acc " +
      "FROM d WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT d.bucket, d.rn, d.doc_id, d.tok, " +
      "CASE WHEN r.acc + d.tok > 256 THEN r.pack_id + 1 ELSE r.pack_id END, " +
      "CASE WHEN r.acc + d.tok > 256 THEN d.tok ELSE r.acc + d.tok END " +
      "FROM r JOIN d ON d.bucket = r.bucket AND d.rn = r.rn + 1) " +
      "SELECT bucket, pack_id, count(*) AS n_docs, " +
      "CAST(sum(tok) AS BIGINT) AS pack_tokens, " +
      "round(CAST(sum(tok) AS DOUBLE) / 256, 6) AS fill_ratio " +
      "FROM r GROUP BY bucket, pack_id"),

    gated("q_lang_mix", qLangMix, core = true)("WITH lang AS (" +
      "SELECT doc_id, CASE WHEN m = 0 THEN 'und' WHEN h_fr = m THEN 'fr' " +
      "WHEN h_es = m THEN 'es' WHEN h_en = m THEN 'en' ELSE 'de' END AS lang_guess FROM (" +
      "SELECT doc_id, greatest(h_en, h_de, h_fr, h_es) AS m, h_en, h_de, h_fr, h_es FROM (" +
      "SELECT doc_id, " +
      "len(list_filter(toks, t -> list_contains(['the','and','is','of','to','that','it','was','with'], t))) AS h_en, " +
      "len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht','ein','mit','sich'], t))) AS h_de, " +
      "len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une','dans','que','pour'], t))) AS h_fr, " +
      "len(list_filter(toks, t -> list_contains(['el','la','los','es','una','por','que','con','para'], t))) AS h_es " +
      "FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-zàâäéèêëîïôöùûüÿçáíóúñß]+') AS toks FROM documents)))), " +
      "m AS (SELECT l.lang_guess, d.source, " +
      "CASE WHEN length(trim(d.text)) = 0 THEN 0 " +
      "ELSE len(string_split_regex(trim(d.text), '\\s+')) END AS tok " +
      "FROM documents d JOIN lang l USING (doc_id)) " +
      "SELECT lang_guess, source, count(*) AS n_docs, " +
      "CAST(sum(tok) AS BIGINT) AS n_tokens FROM m GROUP BY 1, 2"),

    gated("q_corpus_mix", qCorpusMix)("WITH t AS (SELECT source, " +
      "CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok FROM documents), " +
      "g AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens " +
      "FROM t GROUP BY source) " +
      "SELECT source, n_docs, n_tokens, " +
      "ROUND(CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6) " +
      "AS token_share, " +
      "ROUND(CAST(n_tokens AS DOUBLE) / n_docs, 6) AS mean_doc_tokens FROM g"),

    gated("q_profile", qProfile)(Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(c => s"SELECT '$c' AS col_name, " +
        s"CAST(COUNT($c) AS BIGINT) AS n_rows, " +
        s"CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct, " +
        s"CAST(MIN($c) AS VARCHAR) AS min_value, " +
        s"CAST(MAX($c) AS VARCHAR) AS max_value FROM documents")
      .mkString(" UNION ALL ")),

    gated("q_skew_report", qSkewReport)("WITH c AS (SELECT user_id AS key, " +
      "CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1), " +
      "t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM c) " +
      "SELECT key, cnt, ROUND(CAST(cnt AS DOUBLE) / tot, 6) AS share " +
      "FROM c, t ORDER BY cnt DESC, key ASC LIMIT 20"),

    gated("q_embed_stats", qEmbedStats)("WITH e AS (SELECT label, " +
      "generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v " +
      "FROM embeddings), " +
      "c AS (SELECT label, pos, " +
      "CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE) " +
      "/ COUNT(*) AS c FROM e GROUP BY 1, 2), " +
      "s AS (SELECT label, " +
      "CAST(SUM(CAST(ROUND(c*c, 12) AS DECIMAL(18,12))) AS DOUBLE) AS ss " +
      "FROM c GROUP BY 1), " +
      "n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs " +
      "FROM embeddings GROUP BY 1) " +
      "SELECT n.label, n.n_vecs, ROUND(SQRT(s.ss), 6) AS centroid_norm " +
      "FROM n JOIN s USING(label)"),

    gated("q_dup_spans", qDupSpans)("WITH tok AS (SELECT doc_id, " +
      "string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents " +
      "WHERE length(trim(text)) > 0), " +
      "w AS (SELECT doc_id, array_to_string(t[i : i+7], ' ') AS win " +
      "FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-7)) AS i) " +
      "WHERE len(t) >= 8), " +
      "p AS (SELECT DISTINCT doc_id, win FROM w), " +
      "d AS (SELECT win FROM p GROUP BY win HAVING COUNT(*) > 1), " +
      "n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_win FROM p GROUP BY doc_id), " +
      "nd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup FROM p JOIN d USING(win) GROUP BY doc_id) " +
      "SELECT n.doc_id, n.n_win, " +
      "CAST(COALESCE(nd.n_dup, 0) AS BIGINT) AS n_dup, " +
      "ROUND(CAST(COALESCE(nd.n_dup, 0) AS DOUBLE) / n.n_win, 6) AS dup_frac " +
      "FROM n LEFT JOIN nd USING(doc_id)"),

    gated("q_length_band", qLengthBand)("WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt " +
      "FROM documents), " +
      "o AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn " +
      "FROM documents), " +
      "lo AS (SELECT n_chars AS lo FROM o, c WHERE rn = CAST(ceil(0.05*cnt) AS BIGINT)), " +
      "hi AS (SELECT n_chars AS hi FROM o, c WHERE rn = CAST(ceil(0.95*cnt) AS BIGINT)) " +
      "SELECT d.doc_id, d.n_chars FROM documents d, lo, hi " +
      "WHERE d.n_chars BETWEEN lo AND hi"),

    // identical trigram-Jaccard closure as q_dedup_cluster, then the
    // q_split bucket CASE applied to the component REPRESENTATIVE
    gated("q_split_safe", qSplitSafe)("WITH RECURSIVE g AS (SELECT doc_id, " +
      "list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks)-3, 0)+2)]) AS gr " +
      "FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-z0-9]+') AS toks " +
      "FROM documents WHERE length(text) >= 5)), " +
      "pairs AS (SELECT id_a, id_b FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(list_distinct(a.gr || b.gr)) AS jaccard " +
      "FROM g a, g b WHERE a.doc_id < b.doc_id) WHERE jaccard >= 0.5), " +
      "edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
      "reach(a, b) AS (SELECT a, b FROM edges " +
      "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a), " +
      "comp AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a), " +
      "r AS (SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep " +
      "FROM (SELECT doc_id FROM documents WHERE length(text) >= 5) d " +
      "LEFT JOIN comp c USING(doc_id)) " +
      "SELECT doc_id, rep, CASE WHEN b < 80 THEN 'train' " +
      "WHEN b < 90 THEN 'val' ELSE 'test' END AS split " +
      "FROM (SELECT doc_id, rep, " +
      "CAST('0x' || substring(md5(CAST(rep AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS b " +
      "FROM r)"),

    // identical stopword-hit tokenization as q_quality_rules (proven
    // aligned), the rate rounded to 2dp into the q_split bucket arithmetic
    gated("q_quality_sample", qQualitySample)("SELECT doc_id, source FROM (" +
      "SELECT doc_id, source, " +
      "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS b, " +
      "CAST(ROUND(ROUND(LEAST(1.0, CASE WHEN length(trim(text)) = 0 THEN 0.0 " +
      "ELSE CAST(len(list_filter(string_split_regex(lower(trim(text)), '[^a-z]+'), " +
      "t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS DOUBLE) " +
      "/ len(string_split_regex(trim(text), '\\s+')) END * 10.0)" +
      ", 2) * 100) AS INTEGER) AS r " +
      "FROM documents) WHERE b < r"),

    gated("q_corpus_diff", qCorpusDiff)("WITH v2 AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 13 = 0 THEN text || ' edited' ELSE text END AS text " +
      "FROM documents WHERE doc_id % 17 <> 0 " +
      "UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 19 = 0), " +
      "a AS (SELECT doc_id, md5(text) AS f1 FROM documents), " +
      "b AS (SELECT doc_id, md5(text) AS f2 FROM v2) " +
      "SELECT doc_id, CASE WHEN f1 IS NULL THEN 'added' " +
      "WHEN f2 IS NULL THEN 'removed' " +
      "WHEN f1 <> f2 THEN 'changed' ELSE 'unchanged' END AS status " +
      "FROM a FULL JOIN b USING(doc_id)"),

    gated("q_profile_check", qProfileCheck)("SELECT true AS ok_doc_id, true AS ok_text, " +
      "true AS ok_lang, true AS ok_source, true AS ok_n_chars"),

    // exact delta×history Jaccard with the q_dedup_minhash trigram
    // convention — gates both completeness and precision of the banded
    // incremental path
    gated("q_incr_dedup", qIncrDedup)(incrDedupOracle),
    // identical rows through the PERSISTED bucketed index — the disk round
    // trip (saveIndex → loadIndex) must be invisible in the result
    gated("q_index_persist", qIndexPersist)(incrDedupOracle),
    // and identical rows STREAMED through startIncrementalPersisted — a
    // real StreamingQuery, the batchId-guarded append, one micro-batch
    gated("q_stream_incr_dedup", qStreamIncrDedup)(incrDedupOracle),

    // identical winnowing selection: md5 trigram hashes, window-of-4 min,
    // distinct — hex strings order the same lexicographically everywhere
    gated("q_winnow", qWinnow)("WITH f AS (SELECT doc_id, " +
      "[md5(array_to_string(toks[i:i+2], ' ')) for i in range(1, greatest(len(toks)-2, 1)+1)] AS fps " +
      "FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-z0-9]+') AS toks " +
      "FROM documents WHERE length(trim(text)) > 0)) " +
      "SELECT DISTINCT doc_id, fp FROM (SELECT doc_id, " +
      "unnest([list_min(fps[i:i+3]) for i in range(1, greatest(len(fps)-3, 1)+1)]) AS fp " +
      "FROM f)"),

    gated("q_embed_center", qEmbedCenter)("WITH e AS (SELECT vec_id, " +
      "generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v " +
      "FROM embeddings), " +
      "c AS (SELECT pos, " +
      "CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE) " +
      "/ COUNT(*) AS c FROM e GROUP BY 1) " +
      "SELECT e.vec_id, ROUND(SQRT(CAST(SUM(CAST(ROUND(" +
      "(CAST(e.v AS DOUBLE) - c.c) * (CAST(e.v AS DOUBLE) - c.c), 12) " +
      "AS DECIMAL(20,12))) AS DOUBLE)), 6) AS centered_norm " +
      "FROM e JOIN c USING(pos) GROUP BY e.vec_id"),

    gated("q_source_overlap", qSourceOverlap)("WITH g AS (SELECT doc_id, " +
      "list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks)-3, 0)+2)]) AS gr " +
      "FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-z0-9]+') AS toks " +
      "FROM documents WHERE length(text) >= 5)), " +
      "pairs AS (SELECT id_a, id_b FROM (" +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) / len(list_distinct(a.gr || b.gr)) AS jaccard " +
      "FROM g a, g b WHERE a.doc_id < b.doc_id) WHERE jaccard >= 0.5) " +
      "SELECT da.source AS src_a, db.source AS src_b, " +
      "CAST(COUNT(*) AS BIGINT) AS n_pairs " +
      "FROM pairs JOIN documents da ON pairs.id_a = da.doc_id " +
      "JOIN documents db ON pairs.id_b = db.doc_id GROUP BY 1, 2"),

    // identical chunking + global-first-occurrence rule as q_chunk_dedup,
    // then ordered reassembly of the kept chunks
    gated("q_rebuild", qRebuild)("WITH chunks AS (SELECT d.doc_id, " +
      "CAST(i AS INTEGER) AS chunk_idx, " +
      "array_to_string(list_slice(string_split_regex(lower(trim(d.text)), '\\s+'), " +
      "(i-1)*10+1, i*10), ' ') AS chunk, d.doc_id*1000000 + i AS pos " +
      "FROM documents d, unnest(generate_series(1, CAST(ceil(" +
      "len(string_split_regex(lower(trim(d.text)), '\\s+'))/10.0) AS BIGINT))) AS t(i)), " +
      "k AS (SELECT doc_id, chunk_idx, chunk, " +
      "pos = min(pos) OVER (PARTITION BY md5(chunk)) AS kept FROM chunks) " +
      "SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text " +
      "FROM k WHERE kept GROUP BY doc_id"),

    gated("q_compress_check", qCompressCheck)("SELECT true AS ok_bounds, " +
      "true AS ok_repetitive, true AS ok_entropy"),

    // Bloom path is exact (no false negatives + contains verify) — the
    // identical full containment oracle as q_decontaminate
    gated("q_decontam_bloom", qDecontamBloom)("WITH n AS (SELECT doc_id, " +
      "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt FROM documents), " +
      "ev AS (SELECT doc_id AS eval_id, substr(nt, 11, 40) AS snippet FROM n " +
      "WHERE doc_id % 17 = 0 AND length(nt) >= 50) " +
      "SELECT d.doc_id, ev.eval_id FROM n d, ev " +
      "WHERE position(ev.snippet IN d.nt) > 0"),

    // lang numbers are double; tokens/fingerprint follow the
    // q_token_count / q_fingerprint oracle conventions
    gated("q_lang_pipeline", qLangPipeline, core = true)("SELECT CAST(doc_id AS DOUBLE) AS doc_id, " +
      "CASE WHEN length(trim(text)) = 0 THEN 0.0 " +
      "ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) END AS ntok, " +
      "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp, " +
      "trim(regexp_replace(nfc_normalize(lower(text)), '\\s+', ' ', 'g')) AS norm " +
      "FROM documents"),

    // --- round-11 additions ---

    // bit-for-bit replay of Layout.spreadBits1/zorderKey (8-bit buckets)
    // with DuckDB's own integer shift/mask operators
    gated("q_zorder", qZorder)("WITH b AS (SELECT doc_id, " +
      "least(length(text) // 64, 255) AS xb, " +
      "least(CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE len(string_split_regex(trim(text), '\\s+')) END, 255) AS yb " +
      "FROM documents), " +
      "s1 AS (SELECT doc_id, xb, yb, " +
      "((xb | (xb << 8)) & 16711935) AS x1, ((yb | (yb << 8)) & 16711935) AS y1 FROM b), " +
      "s2 AS (SELECT doc_id, xb, yb, " +
      "((x1 | (x1 << 4)) & 252645135) AS x2, ((y1 | (y1 << 4)) & 252645135) AS y2 FROM s1), " +
      "s3 AS (SELECT doc_id, xb, yb, " +
      "((x2 | (x2 << 2)) & 858993459) AS x3, ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2), " +
      "s4 AS (SELECT doc_id, xb, yb, " +
      "((x3 | (x3 << 1)) & 1431655765) AS x4, ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3) " +
      "SELECT doc_id, CAST(xb AS BIGINT) AS xb, CAST(yb AS BIGINT) AS yb, " +
      "CAST(x4 | (y4 << 1) AS BIGINT) AS zkey FROM s4"),

    // the externally-replayable part of BPE training: vocabulary size and
    // the round-1 argmax pair (same word stream, same overlap-counted
    // adjacent pairs, same lexicographic tie-break); the booleans are the
    // in-engine audit-trail verdicts
    gated("q_bpe_check", qBpeCheck)("WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents), " +
      "wc AS (SELECT word, count(*) AS c FROM w GROUP BY word), " +
      "p AS (SELECT substring(word, i, 2) AS pair, c FROM wc, " +
      "LATERAL (SELECT unnest(range(1, length(word))) AS i) t WHERE length(word) >= 2) " +
      "SELECT (SELECT count(*) FROM wc) AS n_words, " +
      "(SELECT pair FROM p GROUP BY pair ORDER BY sum(c) DESC, pair LIMIT 1) AS first_pair, " +
      "CAST(6 AS BIGINT) AS n_merges, " +
      "true AS monotone_ok, true AS delta_ok, true AS encode_ok"),

    // point count + deterministic seed replay; the booleans are the greedy
    // k-center run certificate (monotone selection distances, pairwise
    // separation >= covering radius) computed in-engine
    gated("q_kcenter_check", qKcenterCheck)("WITH nz AS (SELECT DISTINCT vec_id FROM embeddings " +
      "WHERE len(list_filter(embedding, x -> x <> 0)) > 0) " +
      "SELECT (SELECT count(*) FROM nz) AS n_points, " +
      "(SELECT min(vec_id) FROM nz) AS first_id, " +
      "CAST(8 AS BIGINT) AS k, true AS monotone_ok, true AS sep_ok"),

    // full window replay of the per-source exact-percentile floor with the
    // identical integral rank compare
    gated("q_quality_floor", qQualityFloor)("WITH q AS (SELECT doc_id, source, " +
      qualitySql + " AS quality FROM documents), " +
      "h AS (SELECT source, quality, count(*) AS c FROM q GROUP BY source, quality), " +
      "cu AS (SELECT source, quality, " +
      "sum(c) OVER (PARTITION BY source ORDER BY quality) AS cum, " +
      "sum(c) OVER (PARTITION BY source) AS tot FROM h), " +
      "thr AS (SELECT source, min(quality) AS thr FROM cu WHERE cum * 100 >= tot * 40 GROUP BY source) " +
      "SELECT doc_id, source, quality FROM q JOIN thr USING (source) WHERE quality >= thr"),

    // step-for-step replay of htmlBlocks -> visibleText -> htmlMainText:
    // script/style/comment removal, block-close tags to newlines, per-line
    // tag strip + entity decode (amp LAST) + whitespace collapse, anchor
    // link density, keep rule (density <= 0.5 AND tokens >= 3)
    gated("q_html_extract", qHtmlExtract)("WITH h AS (SELECT doc_id, " +
      "'<html><head><title>Doc</title><style>p{color:red}</style>" +
      "<script type=\"text/javascript\">var x = 1 < 2;</script></head><body>" +
      "<h1>Heading ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || " +
      "substring(text, 1, 150) || ' &amp; more &lt;tagged&gt;</p>" +
      "<ul><li><a href=\"/nav1\">nav one</a></li>" +
      "<li><a href=\"/nav2\">nav two</a></li></ul>" +
      "<div>Footer: <a href=\"/contact\">contact</a> ' || " +
      "substring(text, 151, 40) || '</div><!-- hidden comment --></body></html>' " +
      "AS html FROM documents), " +
      "blk AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(html, " +
      "'(?is)<script[^>]*>.*?</script>', ' ', 'g'), " +
      "'(?is)<style[^>]*>.*?</style>', ' ', 'g'), " +
      "'(?s)<!--.*?-->', ' ', 'g'), " +
      "'(?i)<(?:br|hr)[^>]*>|</(?:p|div|li|tr|h[1-6]|ul|ol|table|blockquote)[^>]*>', chr(10), 'g') " +
      "AS b FROM h), " +
      "ln AS (SELECT doc_id, i - 1 AS line_idx, " +
      "list_extract(string_split(b, chr(10)), i) AS raw FROM blk, " +
      "LATERAL (SELECT unnest(range(1, len(string_split(b, chr(10))) + 1)) AS i) t), " +
      "vis AS (SELECT doc_id, line_idx, raw, " +
      "trim(regexp_replace(replace(replace(replace(replace(replace(replace(" +
      "regexp_replace(raw, '<[^>]*>', ' ', 'g'), " +
      "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), " +
      "'&#39;', chr(39)), '&amp;', '&'), '\\s+', ' ', 'g')) AS line FROM ln) " +
      "SELECT doc_id, CAST(line_idx AS INTEGER) AS line_idx, line, " +
      "round(CAST(coalesce(len(array_to_string(regexp_extract_all(raw," +
      "'(?is)<a[^>]*>([^<]*)</a>', 1), '')), 0) AS DOUBLE) / greatest(length(line), 1), 6) AS link_density, " +
      "(round(CAST(coalesce(len(array_to_string(regexp_extract_all(raw," +
      "'(?is)<a[^>]*>([^<]*)</a>', 1), '')), 0) AS DOUBLE) / greatest(length(line), 1), 6) <= 0.5 " +
      "AND len(string_split(line, ' ')) >= 3) AS kept " +
      "FROM vis WHERE length(line) > 0"),

    // full PSI replay over the q_corpus_diff v2 plant, three dimensions
    gated("q_drift", qDrift)("WITH v2 AS (" +
      "SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' edited' ELSE text END AS text, lang, source " +
      "FROM documents WHERE doc_id % 17 <> 0 " +
      "UNION ALL SELECT doc_id + 1000000, text, lang, source FROM documents WHERE doc_id % 19 = 0), " +
      "b1 AS (SELECT dim, bucket, count(*) AS n1 FROM (" +
      "SELECT 'len' AS dim, CAST(least(length(text) // 200, 9) AS VARCHAR) AS bucket FROM documents " +
      "UNION ALL SELECT 'lang', lang FROM documents " +
      "UNION ALL SELECT 'source', source FROM documents) GROUP BY dim, bucket), " +
      "b2 AS (SELECT dim, bucket, count(*) AS n2 FROM (" +
      "SELECT 'len' AS dim, CAST(least(length(text) // 200, 9) AS VARCHAR) AS bucket FROM v2 " +
      "UNION ALL SELECT 'lang', lang FROM v2 " +
      "UNION ALL SELECT 'source', source FROM v2) GROUP BY dim, bucket), " +
      "j AS (SELECT coalesce(b1.dim, b2.dim) AS dim, coalesce(b1.bucket, b2.bucket) AS bucket, " +
      "coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2 " +
      "FROM b1 FULL OUTER JOIN b2 ON b1.dim = b2.dim AND b1.bucket = b2.bucket), " +
      "t AS (SELECT (SELECT count(*) FROM documents) AS t1, (SELECT count(*) FROM v2) AS t2) " +
      "SELECT dim, bucket, n1, n2, " +
      "round(n1 / t1, 6) AS share1, round(n2 / t2, 6) AS share2, " +
      "round((n2 / t2 - n1 / t1) * ln((n2 / t2 + 0.000001) / (n1 / t1 + 0.000001)), 6) AS psi " +
      "FROM j, t"),

    // verbatim replay of the scrubAll chain: URL, email, IPv4, phone —
    // in that order (the URL pass consumes the in-URL IP first)
    gated("q_scrub_pii", qScrubPii)("SELECT doc_id, " +
      "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "text || CASE " +
      "WHEN doc_id % 7 = 0 THEN ' contact bob@example.com now' " +
      "WHEN doc_id % 7 = 1 THEN ' see https://10.0.0.1/path?x=1 there' " +
      "WHEN doc_id % 7 = 2 THEN ' call 555-123-4567 or +14155552671 today' " +
      "WHEN doc_id % 7 = 3 THEN ' from 192.168.1.100 port 8080' " +
      "ELSE '' END, " +
      "'https?://\\S+', '<URL>', 'g'), " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
      "'\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'), " +
      "'\\+\\d{7,15}\\b|\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b', '<PHONE>', 'g') AS text " +
      "FROM documents"),

    // the quality + langid signals through the language surface (doc_id is
    // an Andl number → DOUBLE); same replays as q_quality/q_langid
    gated("q_lang_signals", qLangSignals, core = true)("WITH t AS (SELECT doc_id, text, " +
      "string_split_regex(lower(trim(text)), '[^a-zàâäéèêëîïôöùûüÿçáíóúñß]+') AS toks FROM documents), " +
      "h AS (SELECT doc_id, text, " +
      "len(list_filter(toks, x -> list_contains(['the','and','is','of','to','that','it','was','with'], x))) AS h_en, " +
      "len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','sich'], x))) AS h_de, " +
      "len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une','dans','que','pour'], x))) AS h_fr, " +
      "len(list_filter(toks, x -> list_contains(['el','la','los','es','una','por','que','con','para'], x))) AS h_es " +
      "FROM t), " +
      "m AS (SELECT doc_id, text, greatest(h_en, h_de, h_fr, h_es) AS mx, " +
      "h_en, h_de, h_fr, h_es FROM h) " +
      "SELECT CAST(doc_id AS DOUBLE) AS doc_id, " + qualitySql + " AS q, " +
      "CASE WHEN mx = 0 THEN 'und' WHEN h_fr = mx THEN 'fr' " +
      "WHEN h_es = mx THEN 'es' WHEN h_en = mx THEN 'en' ELSE 'de' END AS lg " +
      "FROM m"),

    // the per-source datasheet: every signal recomputed from scratch
    gated("q_dataset_card", qDatasetCard)("WITH e AS (SELECT source, lang, " +
      "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS ntok, " +
      "CAST(length(text) AS BIGINT) AS nchr, " +
      "CAST(" + qualitySql + " AS DECIMAL(18,6)) AS q, " +
      "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp " +
      "FROM documents) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(ntok) AS BIGINT) AS n_tokens, " +
      "CAST(sum(nchr) AS BIGINT) AS n_chars, " +
      "round(CAST(sum(q) AS DOUBLE) / count(*), 6) AS mean_quality, " +
      "count(DISTINCT lang) AS n_langs, " +
      "round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) AS dup_rate " +
      "FROM e GROUP BY source"),

    // the privacy scan, every fraction recomputed with regexp_matches
    gated("q_pii_profile", qPiiProfile)("WITH p AS (SELECT text || CASE " +
      "WHEN doc_id % 7 = 0 THEN ' contact bob@example.com now' " +
      "WHEN doc_id % 7 = 1 THEN ' see https://10.0.0.1/path?x=1 there' " +
      "WHEN doc_id % 7 = 2 THEN ' call 555-123-4567 or +14155552671 today' " +
      "WHEN doc_id % 7 = 3 THEN ' from 192.168.1.100 port 8080' " +
      "ELSE '' END AS text, source FROM documents), " +
      "f AS (SELECT 'text' AS col, text AS v FROM p " +
      "UNION ALL SELECT 'source', source FROM p) " +
      "SELECT col AS \"column\", count(*) AS n_rows, " +
      "round(CAST(sum(CASE WHEN regexp_matches(v, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS email_frac, " +
      "round(CAST(sum(CASE WHEN regexp_matches(v, 'https?://\\S+') THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS url_frac, " +
      "round(CAST(sum(CASE WHEN regexp_matches(v, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b') THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS ip_frac, " +
      "round(CAST(sum(CASE WHEN regexp_matches(v, '\\+\\d{7,15}\\b|\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b') THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS phone_frac " +
      "FROM f GROUP BY col"),

    // the streaming monitor's cumulative report must equal the batch
    // check over the whole table — same oracle shape as q_contract minus
    // the unique row (exact distinctness does not stream)
    gated("q_stream_contract", qStreamContract)("WITH d AS (SELECT *, length(text) AS text_len " +
      "FROM documents) " +
      "SELECT 'not_null' AS rule, 'text' AS target, " +
      "round(CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) AS metric, " +
      "1.0 AS threshold, " +
      "round(CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 1.0 AS pass FROM d " +
      "UNION ALL SELECT 'not_null', 'lang', " +
      "round(CAST(sum(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6), 1.0, " +
      "round(CAST(sum(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 1.0 FROM d " +
      "UNION ALL SELECT 'in_range[1.0,400.0]', 'text_len', " +
      "round(CAST(sum(CASE WHEN text_len IS NOT NULL AND text_len >= 1 AND text_len <= 400 THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6), 0.5, " +
      "round(CAST(sum(CASE WHEN text_len IS NOT NULL AND text_len >= 1 AND text_len <= 400 THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 0.5 FROM d " +
      "UNION ALL SELECT 'matches[^[a-z]{2}$]', 'lang', " +
      "round(CAST(sum(CASE WHEN regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6), 1.0, " +
      "round(CAST(sum(CASE WHEN regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 1.0 FROM d " +
      "UNION ALL SELECT 'is_in[en|fr|de]', 'lang', " +
      "round(CAST(sum(CASE WHEN lang IN ('en','fr','de') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6), 0.5, " +
      "round(CAST(sum(CASE WHEN lang IN ('en','fr','de') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 0.5 FROM d " +
      "UNION ALL SELECT 'row_count[10,100000000]', '*', " +
      "CAST(count(*) AS DOUBLE), 10.0, count(*) >= 10 AND count(*) <= 100000000 FROM d " +
      "UNION ALL SELECT 'ref_in[source_name]', 'source', " +
      "round(CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3','src4','src5','src6','src7','src8','src9') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6), 0.99, " +
      "round(CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3','src4','src5','src6','src7','src8','src9') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 0.99 FROM d"),

    // streaming HLL uniqueness: the emitted row carries the exact batch
    // ratio (replayed here) plus the sketch's within-published-bound and
    // alarm verdicts -- doc_id unique must pass, lang dup-heavy must trip
    gated("q_stream_uniq", qStreamUniq)("SELECT 'unique_hll' AS rule, 'doc_id' AS target, " +
      "round(CAST(count(DISTINCT doc_id) AS DOUBLE)/count(*),6) AS exact_metric, " +
      "true AS within_bound, true AS pass FROM documents " +
      "UNION ALL SELECT 'unique_hll', 'lang', " +
      "round(CAST(count(DISTINCT lang) AS DOUBLE)/count(*),6), true, false FROM documents"),

    // every expectation's metric/threshold/pass replayed as UNION ALL
    // rows over the same aggregates (RefIn's broadcast dim is the literal
    // src0..src9 set, so containment = membership for the oracle)
    gated("q_contract", qContract)("WITH d AS (SELECT *, length(text) AS text_len " +
      "FROM documents) " +
      "SELECT 'not_null' AS rule, 'text' AS target, " +
      "round(CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) AS metric, " +
      "1.0 AS threshold, " +
      "round(CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 1.0 AS pass FROM d " +
      "UNION ALL SELECT 'not_null', 'lang', " +
      "round(CAST(sum(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6), 1.0, " +
      "round(CAST(sum(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 1.0 FROM d " +
      "UNION ALL SELECT 'in_range[1.0,400.0]', 'text_len', " +
      "round(CAST(sum(CASE WHEN text_len IS NOT NULL AND text_len >= 1 AND text_len <= 400 THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6), 0.5, " +
      "round(CAST(sum(CASE WHEN text_len IS NOT NULL AND text_len >= 1 AND text_len <= 400 THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 0.5 FROM d " +
      "UNION ALL SELECT 'matches[^[a-z]{2}$]', 'lang', " +
      "round(CAST(sum(CASE WHEN regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6), 1.0, " +
      "round(CAST(sum(CASE WHEN regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 1.0 FROM d " +
      "UNION ALL SELECT 'is_in[en|fr|de]', 'lang', " +
      "round(CAST(sum(CASE WHEN lang IN ('en','fr','de') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6), 0.5, " +
      "round(CAST(sum(CASE WHEN lang IN ('en','fr','de') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 0.5 FROM d " +
      "UNION ALL SELECT 'unique', 'doc_id', " +
      "round(CAST(count(DISTINCT doc_id) AS DOUBLE)/count(*),6), 1.0, " +
      "round(CAST(count(DISTINCT doc_id) AS DOUBLE)/count(*),6) >= 1.0 FROM d " +
      "UNION ALL SELECT 'row_count[10,100000000]', '*', " +
      "CAST(count(*) AS DOUBLE), 10.0, count(*) >= 10 AND count(*) <= 100000000 FROM d " +
      "UNION ALL SELECT 'ref_in[source_name]', 'source', " +
      "round(CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3','src4','src5','src6','src7','src8','src9') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6), 0.99, " +
      "round(CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3','src4','src5','src6','src7','src8','src9') THEN 1 ELSE 0 END) AS DOUBLE)/count(*),6) >= 0.99 FROM d"),

    // three unrolled power-method iterations, identical rounding/summing
    gated("q_pagerank", qPagerank)("WITH j AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS s, " +
      "'c' || CAST(o_custkey AS VARCHAR) AS c " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
      "e AS (SELECT DISTINCT src, dst FROM (" +
      "SELECT s AS src, c AS dst FROM j UNION ALL SELECT c, s FROM j)), " +
      "n AS (SELECT DISTINCT src AS node FROM e UNION SELECT dst FROM e), " +
      "t AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM n), " +
      "od AS (SELECT src, count(*) AS deg FROM e GROUP BY src), " +
      "p0 AS (SELECT node, round(1.0 / nn, 12) AS pr FROM n CROSS JOIN t), " +
      "m1 AS (SELECT e.dst, CAST(sum(CAST(round(p.pr / od.deg, 12) AS DECIMAL(28,12))) AS DOUBLE) AS m " +
      "FROM p0 p JOIN e ON p.node = e.src JOIN od ON e.src = od.src GROUP BY e.dst), " +
      "p1 AS (SELECT n.node, round((1.0 - 0.85) / t.nn + 0.85 * coalesce(m.m, 0.0), 12) AS pr " +
      "FROM n CROSS JOIN t LEFT JOIN m1 m ON n.node = m.dst), " +
      "m2 AS (SELECT e.dst, CAST(sum(CAST(round(p.pr / od.deg, 12) AS DECIMAL(28,12))) AS DOUBLE) AS m " +
      "FROM p1 p JOIN e ON p.node = e.src JOIN od ON e.src = od.src GROUP BY e.dst), " +
      "p2 AS (SELECT n.node, round((1.0 - 0.85) / t.nn + 0.85 * coalesce(m.m, 0.0), 12) AS pr " +
      "FROM n CROSS JOIN t LEFT JOIN m2 m ON n.node = m.dst), " +
      "m3 AS (SELECT e.dst, CAST(sum(CAST(round(p.pr / od.deg, 12) AS DECIMAL(28,12))) AS DOUBLE) AS m " +
      "FROM p2 p JOIN e ON p.node = e.src JOIN od ON e.src = od.src GROUP BY e.dst), " +
      "p3 AS (SELECT n.node, round((1.0 - 0.85) / t.nn + 0.85 * coalesce(m.m, 0.0), 12) AS pr " +
      "FROM n CROSS JOIN t LEFT JOIN m3 m ON n.node = m.dst) " +
      "SELECT node, round(pr, 6) AS pr FROM p3"),

    // the oracle IS the full groupBy top-k the sketch path must equal
    gated("q_top_ngrams", qTopNgrams)("WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS item FROM documents), " +
      "c AS (SELECT item, count(*) AS n FROM w GROUP BY item) " +
      "SELECT item, n, CAST(row_number() OVER (ORDER BY n DESC, item) AS INTEGER) AS rank " +
      "FROM c ORDER BY n DESC, item LIMIT 10"),

    // the STREAMING MG merge must land on the same exact relation
    gated("q_stream_heavy", qStreamHeavy)("WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS item FROM documents), " +
      "c AS (SELECT item, count(*) AS n FROM w GROUP BY item) " +
      "SELECT item, n, CAST(row_number() OVER (ORDER BY n DESC, item) AS INTEGER) AS rank " +
      "FROM c ORDER BY n DESC, item LIMIT 10"),

    // --- round-12 additions ---

    // two unrolled canonical-PageRank iterations on the DIRECTED s→c
    // graph: every customer is dangling, so the scalar D/N fold-back term
    // is replayed each iteration with identical 12dp rounding/DECIMAL sums
    gated("q_pagerank_full", qPagerankFull)("WITH j AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src, " +
      "'c' || CAST(o_custkey AS VARCHAR) AS dst " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
      "n AS (SELECT DISTINCT src AS node FROM j UNION SELECT dst FROM j), " +
      "srcs AS (SELECT DISTINCT src AS node FROM j), " +
      "nd AS (SELECT n.node, s.node IS NULL AS dang FROM n LEFT JOIN srcs s ON n.node = s.node), " +
      "t AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM n), " +
      "od AS (SELECT src, count(*) AS deg FROM j GROUP BY src), " +
      "p0 AS (SELECT node, dang, round(1.0 / nn, 12) AS pr FROM nd CROSS JOIN t), " +
      "d1 AS (SELECT CAST(coalesce(sum(CAST(round(pr, 12) AS DECIMAL(28,12))), 0) AS DOUBLE) AS d FROM p0 WHERE dang), " +
      "m1 AS (SELECT j.dst, CAST(sum(CAST(round(p.pr / od.deg, 12) AS DECIMAL(28,12))) AS DOUBLE) AS m " +
      "FROM p0 p JOIN j ON p.node = j.src JOIN od ON j.src = od.src GROUP BY j.dst), " +
      "p1 AS (SELECT nd.node, nd.dang, round((1.0 - 0.85) / t.nn + 0.85 * round(d1.d / t.nn, 12) + 0.85 * coalesce(m.m, 0.0), 12) AS pr " +
      "FROM nd CROSS JOIN t CROSS JOIN d1 LEFT JOIN m1 m ON nd.node = m.dst), " +
      "d2 AS (SELECT CAST(coalesce(sum(CAST(round(pr, 12) AS DECIMAL(28,12))), 0) AS DOUBLE) AS d FROM p1 WHERE dang), " +
      "m2 AS (SELECT j.dst, CAST(sum(CAST(round(p.pr / od.deg, 12) AS DECIMAL(28,12))) AS DOUBLE) AS m " +
      "FROM p1 p JOIN j ON p.node = j.src JOIN od ON j.src = od.src GROUP BY j.dst), " +
      "p2 AS (SELECT nd.node, nd.dang, round((1.0 - 0.85) / t.nn + 0.85 * round(d2.d / t.nn, 12) + 0.85 * coalesce(m.m, 0.0), 12) AS pr " +
      "FROM nd CROSS JOIN t CROSS JOIN d2 LEFT JOIN m2 m ON nd.node = m.dst) " +
      "SELECT node, round(pr, 6) AS pr FROM p2"),

    // ExactSubstr-style span removal: global-first owner per stride-1
    // window fp, non-owner windows' covered token positions dropped,
    // ordered string_agg rebuild; non-dup docs rebuild to their
    // normalized text verbatim
    gated("q_span_rebuild", qSpanRebuild)("WITH tok AS (SELECT doc_id, " +
      "string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents " +
      "WHERE length(trim(text)) > 0), " +
      "w AS (SELECT doc_id, i AS win_idx, md5(array_to_string(t[i : i+7], ' ')) AS fp " +
      "FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-7)) AS i) " +
      "WHERE len(t) >= 8), " +
      "own AS (SELECT fp, min(ROW(doc_id, win_idx)) AS fst FROM w GROUP BY fp), " +
      "dp AS (SELECT DISTINCT w.doc_id, w.win_idx + o.j AS p " +
      "FROM w JOIN own USING (fp), LATERAL (SELECT unnest(generate_series(0, 7)) AS j) AS o " +
      "WHERE ROW(w.doc_id, w.win_idx) <> own.fst), " +
      "drops AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_drop FROM dp GROUP BY doc_id), " +
      "tokens AS (SELECT doc_id, unnest(t) AS token, generate_subscripts(t, 1) AS pos FROM tok), " +
      "surv AS (SELECT tk.doc_id, tk.token, tk.pos FROM tokens tk " +
      "LEFT JOIN dp ON tk.doc_id = dp.doc_id AND tk.pos = dp.p WHERE dp.p IS NULL), " +
      "agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text FROM surv GROUP BY doc_id) " +
      "SELECT tok.doc_id, CAST(len(tok.t) AS BIGINT) AS n_tok, " +
      "CAST(COALESCE(drops.n_drop, 0) AS BIGINT) AS n_drop, " +
      "COALESCE(agg.clean_text, '') AS clean_text " +
      "FROM tok LEFT JOIN drops ON tok.doc_id = drops.doc_id " +
      "LEFT JOIN agg ON tok.doc_id = agg.doc_id"),

    // byte-preserving variant: same election, but the rebuild splices the
    // ORIGINAL alternating token/whitespace segments (parity arithmetic
    // maps each segment to its token ordinal; a whitespace run survives
    // iff the token before it does)
    gated("q_span_rebuild_bytes", qSpanRebuildBytes)("WITH base AS (SELECT doc_id, text, " +
      "regexp_extract_all(text, '\\S+|\\s+') AS sg FROM documents " +
      "WHERE length(trim(text)) > 0), " +
      "tok AS (SELECT doc_id, list_transform(list_filter(sg, " +
      "s -> NOT regexp_matches(s, '^\\s')), s -> lower(s)) AS t FROM base), " +
      "w AS (SELECT doc_id, i AS win_idx, md5(array_to_string(t[i : i+7], ' ')) AS fp " +
      "FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-7)) AS i) " +
      "WHERE len(t) >= 8), " +
      "own AS (SELECT fp, min(ROW(doc_id, win_idx)) AS fst FROM w GROUP BY fp), " +
      "dp AS (SELECT DISTINCT w.doc_id, w.win_idx + o.j AS p " +
      "FROM w JOIN own USING (fp), LATERAL (SELECT unnest(generate_series(0, 7)) AS j) AS o " +
      "WHERE ROW(w.doc_id, w.win_idx) <> own.fst), " +
      "drops AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_drop FROM dp GROUP BY doc_id), " +
      "seg AS (SELECT doc_id, unnest(sg) AS s, generate_subscripts(sg, 1) AS si, " +
      "regexp_matches(sg[1], '^\\S') AS fit FROM base), " +
      "keep AS (SELECT g.doc_id, g.s, g.si FROM seg g " +
      "LEFT JOIN dp d ON d.doc_id = g.doc_id AND d.p = " +
      "CASE WHEN ((g.si % 2 = 1) = g.fit) " +
      "THEN (CASE WHEN g.fit THEN (g.si + 1) // 2 ELSE g.si // 2 END) " +
      "ELSE (CASE WHEN g.fit THEN g.si // 2 ELSE (g.si - 1) // 2 END) END " +
      "WHERE d.p IS NULL), " +
      "agg AS (SELECT doc_id, string_agg(s, '' ORDER BY si) AS clean_text " +
      "FROM keep GROUP BY doc_id) " +
      "SELECT b.doc_id, CAST(len(tok.t) AS BIGINT) AS n_tok, " +
      "CAST(COALESCE(drops.n_drop, 0) AS BIGINT) AS n_drop, " +
      "COALESCE(agg.clean_text, '') AS clean_text " +
      "FROM base b JOIN tok ON b.doc_id = tok.doc_id " +
      "LEFT JOIN drops ON b.doc_id = drops.doc_id " +
      "LEFT JOIN agg ON b.doc_id = agg.doc_id"),

    // the whole three-operator chain replayed: span rebuild -> floor -> DSIR
    gated("q_e2e_curate", qE2eCurate)("WITH tok AS (SELECT doc_id, " +
      "string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents " +
      "WHERE length(trim(text)) > 0), " +
      "w AS (SELECT doc_id, i AS win_idx, md5(array_to_string(t[i : i+7], ' ')) AS fp " +
      "FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t)-7)) AS i) " +
      "WHERE len(t) >= 8), " +
      "own AS (SELECT fp, min(ROW(doc_id, win_idx)) AS fst FROM w GROUP BY fp), " +
      "dp AS (SELECT DISTINCT w.doc_id, w.win_idx + o.j AS p " +
      "FROM w JOIN own USING (fp), LATERAL (SELECT unnest(generate_series(0, 7)) AS j) AS o " +
      "WHERE ROW(w.doc_id, w.win_idx) <> own.fst), " +
      "drops AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_drop FROM dp GROUP BY doc_id), " +
      "tokens AS (SELECT doc_id, unnest(t) AS token, generate_subscripts(t, 1) AS pos FROM tok), " +
      "surv AS (SELECT tk.doc_id, tk.token, tk.pos FROM tokens tk " +
      "LEFT JOIN dp ON tk.doc_id = dp.doc_id AND tk.pos = dp.p WHERE dp.p IS NULL), " +
      "agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text FROM surv GROUP BY doc_id), " +
      "clean AS (SELECT tok.doc_id, COALESCE(agg.clean_text, '') AS text, d.lang " +
      "FROM tok LEFT JOIN drops ON tok.doc_id = drops.doc_id " +
      "LEFT JOIN agg ON tok.doc_id = agg.doc_id " +
      "JOIN documents d ON tok.doc_id = d.doc_id " +
      "WHERE CAST(len(tok.t) AS BIGINT) - COALESCE(drops.n_drop, 0) >= 10), " +
      "dt AS (SELECT doc_id, lang, list_filter(" +
      "string_split_regex(lower(trim(text)), '[^a-z0-9]+'), " +
      "t -> length(t) > 0) AS ts FROM clean), " +
      "g AS (SELECT doc_id, lang, unnest(list_concat(ts, " +
      "[ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))])) AS g FROM dt), " +
      "gb AS (SELECT doc_id, lang, " +
      "CAST('0x' || substring(md5(g), 1, 4) AS INTEGER) % 512 AS bucket FROM g), " +
      "tc AS (SELECT bucket, count(*) AS ct FROM gb WHERE lang = 'fr' GROUP BY 1), " +
      "tt AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) + 512.0 AS den FROM tc), " +
      "rc AS (SELECT bucket, count(*) AS cr FROM gb GROUP BY 1), " +
      "rt AS (SELECT CAST(coalesce(sum(cr), 0) AS DOUBLE) + 512.0 AS den FROM rc), " +
      "db AS (SELECT doc_id, bucket, count(*) AS n FROM gb GROUP BY 1, 2), " +
      "wgt AS (SELECT doc_id, n, CAST(" +
      "round(ln((coalesce(ct, 0) + 1.0) / tt.den), 6) - " +
      "round(ln((coalesce(cr, 0) + 1.0) / rt.den), 6) AS DECIMAL(18,6)) * n AS w " +
      "FROM db LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tt, rt), " +
      "sw AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams, " +
      "round(CAST(sum(w) AS DOUBLE), 6) AS dsir_logw FROM wgt GROUP BY 1), " +
      "r AS (SELECT doc_id, n_grams, dsir_logw, row_number() OVER " +
      "(ORDER BY dsir_logw DESC, doc_id) AS rank FROM sw) " +
      "SELECT doc_id, n_grams, dsir_logw, CAST(rank AS INTEGER) AS rank " +
      "FROM r WHERE rank <= 30"),

    // gram hashing, +-1 signs, integer sums, L2 normalize — all replayed
    gated("q_doc_embed", qDocEmbed)("WITH dt AS (SELECT doc_id, list_filter(" +
      "string_split_regex(lower(trim(text)), '[^a-z0-9]+'), " +
      "t -> length(t) > 0) AS ts FROM documents), " +
      "g AS (SELECT doc_id, unnest(list_concat(ts, " +
      "[ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))])) AS g FROM dt), " +
      "gd AS (SELECT doc_id, g, unnest(generate_series(0, 7)) AS dim FROM g), " +
      "sg AS (SELECT doc_id, dim, " +
      "CAST('0x' || substring(md5(g || '|' || CAST(dim AS VARCHAR)), 1, 4) AS INTEGER) % 2 * 2 - 1 AS s " +
      "FROM gd), " +
      "comp AS (SELECT doc_id, dim, sum(s) AS c FROM sg GROUP BY 1, 2), " +
      "nm AS (SELECT doc_id, sqrt(CAST(sum(c*c) AS DOUBLE)) AS n FROM comp GROUP BY 1) " +
      "SELECT comp.doc_id, CAST(dim AS INTEGER) AS dim, " +
      "round(CAST(c AS DOUBLE) / n, 6) AS v " +
      "FROM comp JOIN nm ON comp.doc_id = nm.doc_id WHERE n > 0.0"),
    // the JDBC round-trip must hand back exactly the parquet rows
    gated("q_import_jdbc", qImportJdbc, core = true)("SELECT DISTINCT s_suppkey, s_name, s_nationkey, s_acctbal " +
      "FROM supplier"),

    // full BM25 replay: tokenize → tf/df/dl/avgdl → Okapi formula with the
    // (k1+1) numerator → row_number ranking; identical 6dp decimal sums
    gated("q_bm25", qBm25)("WITH q(query_id, qtext) AS (SELECT * FROM (VALUES " +
      "(1, 'spark hash join'), (2, 'window agg stream'), " +
      "(3, 'fast table scan merge vector'))), " +
      "dt AS (SELECT doc_id, list_filter(" +
      "string_split_regex(lower(trim(text)), '[^a-z0-9]+'), " +
      "t -> length(t) > 0) AS ts FROM documents), " +
      "dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM dt), " +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM " +
      "(SELECT doc_id, unnest(ts) AS term FROM dt) GROUP BY 1, 2), " +
      "st AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
      "CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl), " +
      "qt AS (SELECT DISTINCT query_id, term FROM (SELECT query_id, " +
      "unnest(list_filter(string_split_regex(lower(trim(qtext)), '[^a-z0-9]+'), " +
      "t -> length(t) > 0)) AS term FROM q)), " +
      "dfq AS (SELECT term, count(*) AS df FROM tf " +
      "WHERE term IN (SELECT term FROM qt) GROUP BY 1), " +
      "w AS (SELECT qt.query_id, tf.doc_id, " +
      "CAST(round(ln((st.n - df + 0.5) / (df + 0.5) + 1.0) * " +
      "(tf * (1.2 + 1.0)) / " +
      "(tf + 1.2 * (0.25 + 0.75 * (dl / st.avgdl))), 6) AS DECIMAL(18,6)) AS w " +
      "FROM tf JOIN qt USING (term) JOIN dfq USING (term) " +
      "JOIN dl USING (doc_id), st), " +
      "sc AS (SELECT query_id, doc_id, " +
      "round(CAST(sum(w) AS DOUBLE), 6) AS score FROM w GROUP BY 1, 2), " +
      "r AS (SELECT query_id, doc_id, score, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc) " +
      "SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, " +
      "CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5"),

    // interpolated Kneser–Ney: discounted bigram mass + continuation
    // backoff, identical count tables and 6dp log/decimal discipline
    gated("q_kn_score", qKnScore)("WITH tok AS (SELECT doc_id, list_filter(" +
      "string_split_regex(lower(trim(text)), '[^a-z0-9]+'), " +
      "t -> length(t) > 0) AS ts FROM documents), " +
      "b AS (SELECT doc_id, " +
      "unnest([ts[i] for i in range(1, len(ts))]) AS w1, " +
      "unnest([ts[i+1] for i in range(1, len(ts))]) AS w2 FROM tok), " +
      "c2 AS (SELECT w1, w2, count(*) AS n2 FROM b GROUP BY 1, 2), " +
      "hist AS (SELECT w1, count(*) AS n1, count(DISTINCT w2) AS nf " +
      "FROM b GROUP BY 1), " +
      "cont AS (SELECT w2, count(*) AS nb FROM c2 GROUP BY 1), " +
      "ty AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM c2), " +
      "sc AS (SELECT b.doc_id, CAST(round(ln(" +
      "(greatest(n2 - 0.75, 0.0) + 0.75 * nf * (nb / tt)) / n1), 6) " +
      "AS DECIMAL(18,6)) AS lp " +
      "FROM b JOIN c2 USING (w1, w2) JOIN hist USING (w1) " +
      "JOIN cont USING (w2), ty) " +
      "SELECT doc_id, count(*) AS n_bigrams, " +
      "round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS kn_score " +
      "FROM sc GROUP BY doc_id"),

    // DSIR replay: unigram+bigram md5 buckets, add-1 smoothed target/raw
    // models, decimal-summed 6dp log-ratios, top-50 ranking
    gated("q_dsir", qDsir)("WITH dt AS (SELECT doc_id, lang, list_filter(" +
      "string_split_regex(lower(trim(text)), '[^a-z0-9]+'), " +
      "t -> length(t) > 0) AS ts FROM documents), " +
      "g AS (SELECT doc_id, lang, unnest(list_concat(ts, " +
      "[ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))])) AS g FROM dt), " +
      "gb AS (SELECT doc_id, lang, " +
      "CAST('0x' || substring(md5(g), 1, 4) AS INTEGER) % 512 AS bucket FROM g), " +
      "tc AS (SELECT bucket, count(*) AS ct FROM gb WHERE lang = 'fr' GROUP BY 1), " +
      "tt AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) + 512.0 AS den FROM tc), " +
      "rc AS (SELECT bucket, count(*) AS cr FROM gb GROUP BY 1), " +
      "rt AS (SELECT CAST(coalesce(sum(cr), 0) AS DOUBLE) + 512.0 AS den FROM rc), " +
      "db AS (SELECT doc_id, bucket, count(*) AS n FROM gb GROUP BY 1, 2), " +
      "w AS (SELECT doc_id, n, CAST(" +
      "round(ln((coalesce(ct, 0) + 1.0) / tt.den), 6) - " +
      "round(ln((coalesce(cr, 0) + 1.0) / rt.den), 6) AS DECIMAL(18,6)) * n AS w " +
      "FROM db LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tt, rt), " +
      "sw AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams, " +
      "round(CAST(sum(w) AS DOUBLE), 6) AS dsir_logw FROM w GROUP BY 1), " +
      "r AS (SELECT doc_id, n_grams, dsir_logw, row_number() OVER " +
      "(ORDER BY dsir_logw DESC, doc_id) AS rank FROM sw) " +
      "SELECT doc_id, n_grams, dsir_logw, CAST(rank AS INTEGER) AS rank " +
      "FROM r WHERE rank <= 50"),

    // same model chain as q_dsir, then the content-hash Gumbel perturbation
    gated("q_dsir_sample", qDsirSample)("WITH dt AS (SELECT doc_id, lang, list_filter(" +
      "string_split_regex(lower(trim(text)), '[^a-z0-9]+'), " +
      "t -> length(t) > 0) AS ts FROM documents), " +
      "g AS (SELECT doc_id, lang, unnest(list_concat(ts, " +
      "[ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))])) AS g FROM dt), " +
      "gb AS (SELECT doc_id, lang, " +
      "CAST('0x' || substring(md5(g), 1, 4) AS INTEGER) % 512 AS bucket FROM g), " +
      "tc AS (SELECT bucket, count(*) AS ct FROM gb WHERE lang = 'fr' GROUP BY 1), " +
      "tt AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) + 512.0 AS den FROM tc), " +
      "rc AS (SELECT bucket, count(*) AS cr FROM gb GROUP BY 1), " +
      "rt AS (SELECT CAST(coalesce(sum(cr), 0) AS DOUBLE) + 512.0 AS den FROM rc), " +
      "db AS (SELECT doc_id, bucket, count(*) AS n FROM gb GROUP BY 1, 2), " +
      "w AS (SELECT doc_id, n, CAST(" +
      "round(ln((coalesce(ct, 0) + 1.0) / tt.den), 6) - " +
      "round(ln((coalesce(cr, 0) + 1.0) / rt.den), 6) AS DECIMAL(18,6)) * n AS w " +
      "FROM db LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tt, rt), " +
      "sw AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams, " +
      "round(CAST(sum(w) AS DOUBLE), 6) AS dsir_logw FROM w GROUP BY 1), " +
      "k AS (SELECT doc_id, n_grams, dsir_logw, " +
      "round(dsir_logw - ln(-ln((CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)), 6) AS key " +
      "FROM sw), " +
      "r AS (SELECT doc_id, n_grams, dsir_logw, key, row_number() OVER " +
      "(ORDER BY key DESC, doc_id) AS rank FROM k) " +
      "SELECT doc_id, n_grams, dsir_logw, key, CAST(rank AS INTEGER) AS rank " +
      "FROM r WHERE rank <= 50"),

    // contract row (the assertions run inside the query, q_compress_check
    // style): learnability, descent, and partitioning-invariant training
    gated("q_quality_clf_check", qQualityClfCheck)("SELECT true AS ok_acc, " +
      "true AS ok_loss_monotone, true AS ok_deterministic"),

    // fragmentation/compaction invariants run inside the query
    gated("q_compact_check", qCompactCheck)("SELECT true AS ok_fragmented, true AS ok_fewer_files, " +
      "true AS ok_rows, true AS ok_identical"),

    // every counter + the rounded p/r/f1 math replayed per threshold
    gated("q_pr_curve", qPrCurve)("WITH s AS (SELECT least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS score, " +
      "(text LIKE '%spark%') AS y FROM documents), " +
      "t(thr) AS (SELECT CAST(v AS DOUBLE) FROM (VALUES (0.2), (0.4), (0.6), (0.8)) x(v)), " +
      "c AS (SELECT thr, " +
      "CAST(sum(CASE WHEN score >= thr AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
      "CAST(sum(CASE WHEN score >= thr AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
      "CAST(sum(CASE WHEN score < thr AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn " +
      "FROM s, t GROUP BY thr), " +
      "pr AS (SELECT thr, tp, fp, fn, " +
      "CASE WHEN tp + fp = 0 THEN 0.0 ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision, " +
      "CASE WHEN tp + fn = 0 THEN 0.0 ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall " +
      "FROM c) " +
      "SELECT thr, tp, fp, fn, precision, recall, " +
      "CASE WHEN precision + recall = 0.0 THEN 0.0 " +
      "ELSE round(2.0 * precision * recall / (precision + recall), 6) END AS f1 " +
      "FROM pr"),

    // bench-only: raw approximate ops (see benchOnly)
    benchOnly("q_dedup_simhash", qDedupSimhash),
    benchOnly("q_knn_lsh", qKnnLsh),
    benchOnly("q_knn_ivf", qKnnIvf),
    benchOnly("q_knn_pq", qKnnPq),
    benchOnly("q_knn_ivfpq", qKnnIvfPq),
    benchOnly("q_knn_ivfpq_serve", qKnnIvfPqServe),
    benchOnly("q_semdedup", qSemdedup))

  /** The gated rows' query functions ([[SparkEntry.queries]]). */
  val queries: Map[String, QueryFn] =
    rows.collect { case Row(n, fn, Some(_), _) => n -> fn }.toMap

  /** The gated rows' oracle SQL ([[SparkEntry.oracleSql]]). */
  val oracleSql: Map[String, String] =
    rows.collect { case Row(n, _, Some(sql), _) => n -> sql }.toMap

  /** The rows of `from` named in `names`, in `from`'s order. A name that is
    * not a row of `from` throws, naming it: a typo must fail the run, not
    * select nothing. */
  def named(names: Iterable[String], from: Seq[Row] = rows): Seq[Row] = {
    val known = from.map(_.name).toSet
    val unknown = names.filterNot(known).toSeq.distinct
    require(unknown.isEmpty,
      s"unknown row(s): ${unknown.mkString(", ")} (not among the ${from.size} rows)")
    val wanted = names.toSet
    from.filter(r => wanted(r.name))
  }

}
