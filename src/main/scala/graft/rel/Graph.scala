package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.rel.Checkpoint.PinOps

/** Iterative graph analytics on DataFrames. Companion to the
  * pointer-doubling connected components in [[graft.pipeline.Cluster]]:
  * where that converges a LABEL per node, these run a fixed number of
  * power-method steps over edge weights — PageRank being the canonical
  * instance (authority scoring of domains/hosts in a crawl graph, seed
  * selection for a focused recrawl).
  *
  * Scale shape per iteration: one join of the rank vector with the edge
  * list on `src` and one map-side-combinable aggregation on `dst` — the
  * classic two-exchange step. The edge list is the REUSED side, pinned
  * once up front; in the tiny-rank regime (see below) the rank vector
  * broadcasts into it, so the pinned edges are scanned in place and the
  * only per-iteration exchange carries the narrow (dst, long)
  * contributions (a pin does NOT preserve partitioning — LogicalRDD
  * reports UnknownPartitioning — so the pre-r18 shuffled join re-sorted
  * the edge pin every iteration). At 100 TB, where ranks outgrow a
  * broadcast, bucket the edge table on src: the join is then
  * exchange-free on that side and ranks — one double per node — are the
  * only moving data.
  *
  * Determinism: per-edge contributions are 12dp-rounded then summed as
  * exact ×10¹² LONG integers (total rank mass is 1, so every sum stays
  * ~10¹² ≪ 2⁵³ — the long total and a decimal sum round to the SAME
  * double), so parallel aggregation order cannot change a rank, at
  * primitive-sum codegen speed; a SQL oracle replays the iterations
  * bit-for-bit with plain decimal sums.
  */
object Graph {

  /** Plan telemetry for one pageRank run (the [[WhileFix.Probe]]
    * pattern): collects the formatted plan of the edge setup and of each
    * iteration's UNPINNED rank rebuild — the plans the eager pins execute,
    * which no listener sees (localCheckpoint materializes through an RDD
    * job, not a tracked SQL action). Zero cost when absent; used by the
    * optimization-evidence dumps and the join-strategy regression test. */
  final class PlanProbe {
    val plans = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    private[Graph] def add(label: String, df: DataFrame): Unit =
      plans += label -> df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** Fixed-iteration PageRank over a directed edge list (`src`, `dst`
    * string columns; duplicate edges are collapsed). Simple variant
    * (`dangling = false`, the default): rank = (1−d)/N +
    * d·Σ rank(in)/outdeg(in); dangling mass is not redistributed (nodes
    * with no in-edges keep the base term), so ranks do NOT sum to 1.
    *
    * Canonical variant (`dangling = true`): each iteration also folds the
    * total rank sitting on out-degree-0 nodes back into every node's base
    * term — rank = (1−d)/N + d·(Σ rank(in)/outdeg(in) + D/N) where
    * D = Σ rank(dangling). One extra SCALAR aggregate per iteration over
    * the node-sized rank vector (a broadcast anti-join marks the dangling
    * set once, up front) — the edge-sized work is unchanged, and ranks
    * sum to 1 at every step. The D term is 12dp-rounded like every other
    * contribution so a SQL oracle replays it bit-for-bit.
    *
    * Early termination (`tol > 0`): stops when the L1 delta
    * Σ|pr_i − pr_{i-1}| (computed on the 12dp values, summed as exact
    * ×10¹² longs) drops below `tol` — one node-sized join per iteration,
    * only the scalar reaches the driver. `iters` stays the hard cap.
    *
    * Returns (node, pr) with pr rounded to 6dp. */
  def pageRank(edges0: DataFrame, iters: Int = 3,
               damping: Double = 0.85, dangling: Boolean = false,
               tol: Double = 0.0, planProbe: PlanProbe = null): DataFrame = {
    require(iters >= 1, "pageRank: iters must be >= 1")
    val edgesRaw = edges0.select(col("src"), col("dst")).distinct()
    val outdeg = edgesRaw.groupBy("src").agg(count(lit(1)).as("deg"))
    // fold the out-degree INTO the pinned edge layout up front — one join
    // per iteration instead of two, against an unchanging artifact. The
    // src repartition rides before the join (same physical plan either
    // side of it — the planner elides the redundant exchange: the r18
    // capture pinned identical setup plans for both orders). NOTE the pin
    // does NOT preserve partitioning (LogicalRDD comes back
    // UnknownPartitioning — see plans/r18/q_pagerank_before.txt), which is
    // why the tiny-rank broadcast regime below matters: without it every
    // iteration re-shuffled AND re-sorted this edge-sized pin.
    val edgesPre = edgesRaw.repartition(col("src")).join(outdeg, "src")
    if (planProbe != null) planProbe.add("edges_setup", edgesPre)
    val edges = edgesPre.pin()
    val nodes0 = edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct()
    // mark the dangling set once (no out-edges = never appears as src);
    // per-iteration D is then a flat scalar aggregate, no join
    val nodes = nodes0.join(edges.select(col("src").as("node")).distinct(),
        Seq("node"), "left_anti")
      .withColumn("dang", lit(true))
      .unionByName(edges.select(col("src").as("node")).distinct()
        .withColumn("dang", lit(false)))
      .pin()
    val n = nodes.count().toDouble
    // TINY-RANK regime (r18): while the rank vector — one (id, bool,
    // double) row per node — fits a broadcast comfortably, broadcast it
    // into the edge join (the pinned edge layout then never re-sorts or
    // re-shuffles: the per-iteration exchange carries only the narrow
    // (dst, long) contributions into the aggregation) and broadcast the
    // node-sized contribution table into the rank rebuild (the nodes side
    // stays narrow over its pin). Past the bound the joins fall back to
    // shuffled plans — identical totals either way: every sum is an
    // order-invariant exact-long sum, so join strategy cannot move a rank.
    val spark = edges0.sparkSession
    val bcBytes = spark.conf
      .getOption("spark.graft.graph.broadcastBytes").map(_.toLong)
      .getOrElse(32L << 20)
    val tinyRanks = n * 64 < bcBytes
    def bc(df: DataFrame): DataFrame = if (tinyRanks) broadcast(df) else df
    // SHUFFLED-FALLBACK regime (r19) — the 100 TB operating regime (10⁹
    // nodes outgrow any broadcast): re-home the edge layout ONCE into a
    // scratch table bucketed+sorted by src (one bucketing exchange — the
    // same shuffle a SINGLE iteration's edge join used to pay, because the
    // pin reports UnknownPartitioning), so every iteration's rank⋈edges
    // reads a HashPartitioning(src)-reporting sorted bucketed scan:
    // Exchange-free AND Sort-free on the edge side across all iterations;
    // only the node-sized rank vector and the narrow (dst, long)
    // contributions move per iteration (guide §2.4/§3.2). The node set is
    // re-homed the same way (bucketed by node) for the per-iteration rank
    // rebuild join. Both layouts are scratch artifacts of THIS run —
    // written, read by the loop, deleted before returning (or throwing).

    // The loop body, shared by both regimes; in the fallback regime it
    // runs under withSortedScans so the sorted bucketed scans report their
    // order and the per-iteration joins plan Sort-free on the layout sides.
    def iterate(edgesIter: DataFrame, nodesIter: DataFrame): DataFrame = {
    var pr = nodesIter.withColumn("pr", round(lit(1.0) / n, 12)).pin()
    var i = 0
    var converged = false
    while (i < iters && !converged) {
      // every rank term is 12dp-quantized, so ×10¹² it is an exact LONG
      // (total mass is 1 → any sum stays ≤ ~10¹², far under 2⁵³): plain
      // long sums add the identical totals order-invariantly on the
      // codegen primitive fast path, where the previous DecimalType(28,12)
      // aggregation paid decimal arithmetic on every edge row
      //
      // dangling mass rides IN-PLAN (r18): the one-row D aggregate over
      // the previous pinned ranks attaches by crossJoin (the 1-row
      // scalar-agg idiom) instead of a collect() — one driver round trip
      // per iteration removed; the arithmetic is the identical double
      // sequence ((Σlong → double)/1e12, /n, round 12dp) the driver path
      // evaluated, so every rank replays bit-for-bit.
      val base =
        if (!dangling) lit((1.0 - damping) / n)
        else lit((1.0 - damping) / n) +
          lit(damping) * round(col("__d") / lit(n), 12)
      val dAgg =
        if (!dangling) null
        else pr.where(col("dang"))
          .agg((coalesce(sum(round(round(col("pr"), 12) * 1e12).cast("long")),
            lit(0L)).cast("double") / 1e12).as("__d"))
      val contrib = bc(pr).join(edgesIter, pr("node") === edgesIter("src"))
        .select(col("dst"),
          round(round(col("pr") / col("deg"), 12) * 1e12).cast("long").as("c"))
        .groupBy("dst").agg((sum(col("c")).cast("double") / 1e12).as("m"))
      // pin each iteration: measured FASTER than one deep dag here (the
      // rank vector is node-sized — tiny — while an unpinned tree makes
      // every AQE stage re-optimize the whole accumulated plan)
      val prev = pr
      val joined = nodesIter.join(bc(contrib),
        nodesIter("node") === contrib("dst"), "left")
      val prNext = (if (dangling) joined.crossJoin(broadcast(dAgg)) else joined)
        .select(col("node"), col("dang"),
          round(base + lit(damping) * coalesce(col("m"), lit(0.0)), 12)
            .as("pr"))
      if (planProbe != null) planProbe.add(s"iteration_${i + 1}", prNext)
      pr = prNext.pin()
      if (tol > 0.0) {
        val delta = pr.select(col("node"), col("pr"))
          .join(bc(prev.select(col("node"), col("pr").as("pp"))), "node")
          .agg(sum(round(abs(col("pr") - col("pp")) * 1e12).cast("long")))
          .collect()(0).getLong(0) / 1e12
        converged = delta < tol
      }
      prev.unpin()
      i += 1
    }
    pr
    }
    // the final `pr` pin (node-sized, eager — already materialized) is the
    // bounded result pin; the EDGE-sized layout and the node-set artifacts
    // are dead once it exists — leaving them resident is corpus-scale
    // executor storage / scratch disk held until cleanup (PinLedgerSpec)
    val pr =
      if (tinyRanks) {
        val pr = iterate(edges, nodes)
        edges.unpin(); nodes.unpin()
        pr
      } else {
        import graft.sources.ScratchBuckets.{withLayout, withSortedScans}
        withLayout(edges, Seq("src")) { edgeLayout =>
          withLayout(nodes, Seq("node")) { nodeLayout =>
            edges.unpin(); nodes.unpin() // superseded by the layouts
            withSortedScans(spark)(iterate(edgeLayout.df, nodeLayout.df))
          }
        }
      }
    pr.select(col("node"), round(col("pr"), 6).as("pr"))
  }
}
