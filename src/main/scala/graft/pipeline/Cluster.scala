package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.rel.Checkpoint.PinOps

/** Duplicate clustering: connected components over a near-dup pair set, and
  * representative selection — the step that turns pairwise dedup output
  * (Dedup.minhashPairs / simhashPairs / embeddingPairs) into the per-cluster
  * keep/drop decision a training-data pipeline actually applies.
  *
  * Scale design: min-label propagation with POINTER DOUBLING. Each round
  * does (a) a neighbor-min pass over the edge set and (b) a label→label
  * jump (label(u) := label(label(u))), so labels race down chains
  * geometrically and convergence takes O(log diameter) rounds — a path
  * graph of 1M nodes converges in ~20 rounds, not 1M (the known fix for
  * plain label propagation's O(diameter) behavior on MapReduce-style
  * engines; cf. Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14). Every pass is a hash join + partial aggregation on
  * the id key — no all-pairs, no driver materialization; per-round state
  * (one label per node) is pinned so lineage stays flat.
  */
object Cluster {

  /** Plan telemetry for one connectedComponents run (the Graph.PlanProbe
    * pattern): collects the formatted plan of each distributed round's
    * UNPINNED next-labels frame — the plan the lazy pin's count executes.
    * Zero cost when absent; used by the optimization-evidence dumps and
    * the join-strategy regression test. */
  final class PlanProbe {
    val plans = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    private[Cluster] def add(label: String, df: DataFrame): Unit =
      plans += label -> df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** Connected components of the undirected graph given by `pairs`
    * (columns `aCol`, `bCol`). Returns one row per node: (id, rep) where
    * rep = min node id in the component — deterministic, engine-agnostic.
    */
  /** Edge-count cap for the driver tier: below this, union-find on the
    * driver beats the distributed loop's per-round overhead (same regime
    * tiering as WhileFix). ~4M edges ≈ 64 MB of longs — comfortably
    * driver-sized; above it, the distributed pointer-doubling loop runs.
    * On a 100-TB corpus the near-dup PAIR set is orders of magnitude
    * smaller than the corpus, but can still exceed any driver, hence the
    * tier, not a collect. */
  val defaultDriverEdgeCap = 4000000L

  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 50,
                          driverEdgeCap: Long = defaultDriverEdgeCap,
                          planProbe: PlanProbe = null): DataFrame = {
    // Pin the pair set FIRST: it appears on both sides of the symmetrizing
    // union, and as a live plan the (possibly expensive — LSH verify) pair
    // computation would run once per branch.
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b")).pin()
    // symmetrized edge list; each undirected pair appears in both
    // directions. NOTE: no repartition before the pin — a pin does NOT
    // preserve partitioning (LogicalRDD reports UnknownPartitioning, the
    // r18 PageRank probe finding), so the old repartition(src) here was a
    // pure extra exchange that co-located nothing. The distributed tier
    // below re-homes the edge set into a bucketed-by-src scratch layout
    // instead — a REAL cross-round partitioning.
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .pin()

    // tiny regime: the pinned edge set fits on the driver — union-find is
    // exact, O(E α(E)), and skips ~log(diameter) Spark rounds of overhead.
    // Only for integral ids (the driver tier packs them into longs).
    val integralIds = edges.schema("src").dataType match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    if (integralIds && edges.count() <= driverEdgeCap) {
      val out = driverComponents(edges) // collects inside — pins dead after
      edges.unpin(); p.unpin()
      return out
    }
    // DISTRIBUTED tier — the corpus-scale regime. The edge set is joined
    // on src EVERY round; as a pin it reports UnknownPartitioning and
    // would re-shuffle + re-sort per round. Re-home it ONCE into a scratch
    // layout bucketed+sorted by src (one bucketing exchange total): each
    // round's neighbor-min join is then Exchange-free and Sort-free on the
    // edge side — only the node-sized label vector moves (guide §2.4/§3.2,
    // same fix as Graph.pageRank's fallback regime).
    val spark = pairs.sparkSession
    // the bucketed edge layout is dead once the loop converges (the final
    // label pin, eager-materialized by its round's lblSum scan, is the
    // result's storage) — withLayout deletes the scratch files then, or
    // when a round throws
    graft.sources.ScratchBuckets.withLayout(edges, Seq("src")) { edgeLayout =>
      val e = edgeLayout.df
      edges.unpin(); p.unpin() // superseded by the bucketed layout
      var labels = e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl"))
        .pin()
      // Min-label propagation is MONOTONE: a node's label never increases.
      // So convergence ⇔ sum(lbl) unchanged between rounds — one map-side-
      // combinable aggregate per round, replacing a join-with-previous +
      // count. Exact decimal sum (no fp loss on 64-bit ids at any scale).
      def lblSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("lbl").cast("decimal(38,0)"))).collect()(0)
          .getDecimal(0)
      var prevSum = lblSum(labels)
      var converged = false
      var iter = 0
      // withSortedScans: the sorted bucketed edge scan reports its order, so
      // each round's neighbor-min join plans Sort-free on the edge side too
      graft.sources.ScratchBuckets.withSortedScans(spark) {
      while (!converged && iter < maxIter) {
        // (a) neighbor-min: the smallest label adjacent to each node. The
        // groupBy is map-side combinable; the join key is the node id (the
        // bucketed layout's key — no exchange, no sort on the edge side).
        val nbrMin = e.join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(min(col("lbl")).as("nlbl"))
        val stepped = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        // (b) pointer doubling: follow the label one hop (labels are node
        // ids, so lbl always resolves). Cuts chain length in half per round.
        val jump = stepped.alias("x")
          .join(stepped.select(col("id").as("lbl"), col("lbl").as("lbl2")).alias("y"),
            Seq("lbl"), "left")
          .select(col("id"), coalesce(col("lbl2"), col("lbl")).as("lbl"))
        if (planProbe != null) planProbe.add(s"round_${iter + 1}", jump)
        val next = jump.pinLazy()
        val s = lblSum(next) // scans next: the lazy pin materializes here
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        labels.unpin() // superseded round's node-sized pin — release eagerly
        labels = next
        iter += 1
      }
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
      labels.select(col("id"), col("lbl").as("rep"))
    }
  }

  /** Driver-tier union-find over a collected edge list (path compression +
    * min-id union): identical (id, rep) output to the distributed loop —
    * ClusterSpec checks both tiers against each other. */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val idType = edges.schema("src").dataType
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    // iterative find with path compression (recursion would blow the stack
    // on a multi-million-node chain)
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElseUpdate(x, x) != x) x = parent(x)
      var y = x0
      while (parent(y) != x) { val next = parent(y); parent(y) = x; y = next }
      x
    }
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    val rows = parent.keys.toSeq.map(k => (k, find(k)))
    import spark.implicits._
    rows.toDF("id", "rep")
      .select(col("id").cast(idType).as("id"), col("rep").cast(idType).as("rep"))
  }

  /** Cluster assignment for near-dup pairs: every node that appears in at
    * least one pair, with its component representative (min id) and the
    * component size. Singleton documents (no pair) are implicitly their own
    * cluster and are not emitted. */
  def assign(pairs: DataFrame, aCol: String = "id_a",
             bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    val sizes = comp.groupBy("rep").agg(count(lit(1)).as("csize"))
    comp.join(sizes, "rep").select(col("id"), col("rep"), col("csize"))
  }

  /** The keep/drop decision: representatives survive, other cluster members
    * drop. Input `docs` joined against the near-dup components; docs not in
    * any pair survive untouched. At 100 TB this is one broadcast-or-hash
    * join of the corpus against the (much smaller) component map. */
  def survivors(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
                aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("rep"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Quality-weighted survivor selection: each near-dup cluster keeps its
    * HIGHEST-scoring member (ties → lowest id) instead of the min-id
    * representative — the curation policy real pipelines want: of five
    * near-identical crawls keep the cleanest one, not the first-crawled.
    * `quality` is any (idCol, scoreCol) frame. Same scale shape as
    * [[survivors]]: the component map is pair-set-sized, the score join is
    * slim, the per-cluster argmax is one map-side-combinable `max_by`, and
    * docs in no cluster survive untouched via the final left_anti. */
  def survivorsBy(docs: DataFrame, pairs: DataFrame, quality: DataFrame,
                  idCol: String = "doc_id", scoreCol: String = "score",
                  aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol) // (id, rep)
    val scored = comp.join(
      quality.select(col(idCol).as("id"), col(scoreCol).as("__q")), "id")
    val keep = scored.groupBy("rep")
      .agg(max_by(col("id"), struct(col("__q"), (-col("id")).as("nid")))
        .as("id"))
      .select("id")
    val drop = comp.join(keep, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }
}
