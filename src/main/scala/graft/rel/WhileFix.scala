package graft.rel

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col}
import graft.rel.Checkpoint.PinOps

/** `r .while(expr)` — generative/recursive fixpoint (Builtin.Recurse,
  * Andl.Runtime/Builtin.cs:511-517; local engine scans appended rows by
  * ordinal, DataTableLocal.cs:631-646; the SQL backends throw — this is the
  * one operator only the in-memory engine supports).
  *
  * Semantics: result = least fixpoint of T(R) = R ∪ step(R), i.e. keep
  * applying `step` to every tuple (including newly generated ones) until no
  * NEW tuple appears. Because `step` is a per-tuple map (it distributes over
  * union), semi-naive evaluation is exact: only the frontier (tuples new in
  * the previous round) needs stepping each round — the classic datalog
  * optimization the reference's append-scan performs implicitly.
  *
  * Scale design (SURVEY §7.4 hard part #3):
  *  - `localCheckpoint` each round truncates the lineage, otherwise the plan
  *    tree doubles per iteration and Catalyst analysis time explodes;
  *  - the per-round `except` (a shuffle) runs frontier-vs-acc, not
  *    acc-vs-acc;
  *  - `maxIter` and `maxRows` caps bound runaway recursion (the reference
  *    has no cap and loops forever on a bad query — we do better);
  *  - on a real cluster, `spark.cleaner` reclaims shuffle files between
  *    rounds; AQE re-plans each round with fresh sizes.
  */
object WhileFix {

  /** Execution-regime telemetry for one fixpoint run. The tiered design
    * (driver tier → distributed tier) is invisible in the result by
    * construction; tests and operators that must PROVE which tier ran
    * (e.g. that a corpus-sized closure really exercised the distributed
    * loop, not the driver shortcut) pass a probe and read it back. */
  final class Probe {
    /** Rounds completed in the driver-LocalRelation tier. */
    var driverRounds: Int = 0
    /** Rounds completed in the distributed Spark tier. */
    var distributedRounds: Int = 0
    /** True iff the run entered the distributed tier — either the seed
      * exceeded `tinyRows` up front, or the accumulator/fetch outgrew the
      * driver tier mid-run and the state migrated back into Spark. */
    var bailedToSpark: Boolean = false
  }

  /** Frontier rows above which a round pins its step layers (r19). Each
    * per-layer lazy pin is its OWN query execution, so a step that joins
    * a broadcast relation REBUILDS that broadcast once per layer per
    * round — measured 9 AQE stage jobs per round on the sf0.1
    * reachability closure (8 of them rebuilding the same 1.6 MB edge
    * broadcast), 1.3 s/round of pure fixed cost. Below
    * the threshold the k layers stay LIVE legs of the round's single
    * count query, where ReuseExchange dedups the broadcast to ONE build
    * and the whole round is one query execution; the k(k+1)/2 step
    * re-evaluations this costs are probe-side scans of a ≤threshold-row
    * frontier — microseconds per 1000 rows against one hash relation —
    * while each avoided pin saves a query execution + broadcast build
    * (~0.15 s each). Break-even is far above this bound; above it (the
    * corpus-scale regime, frontiers outgrowing executor-cheap recompute)
    * the per-layer pins keep the k(k+1)/2 factor off the big data.
    * A fixed bound for now: it does not yet look at the step's
    * build-side regime (a bucketed-fallback step would still want pins). */
  private val LayerPinRows = 2000000L

  /** Checkpoint cadence: only the FRONTIER (the new tuples) is checkpointed
    * each round — it is the only thing recomputed next round. The
    * accumulator stays a lazy union of already-checkpointed frontiers and
    * is compacted (one materialization) every `compactEvery` rounds, so
    * total materialized bytes are O(result + result·rounds/compactEvery)
    * instead of the O(result·rounds) a per-round acc checkpoint costs.
    *
    * Step batching (`stepsPerRound`): each ROUND applies `step` k times
    * (layer_1 = step(frontier), layer_2 = step(layer_1), …) and takes the
    * union of the layers as the round's candidates — one except/checkpoint/
    * count per k steps instead of per step. The fixpoint is unchanged
    * (step distributes over union; already-seen tuples regenerated by an
    * inner layer are removed by the except), and for deep skinny
    * recursions the per-round scheduler latency — not data volume — is
    * the bound, so batching cuts wall-clock ~k×. Wasted work is at most
    * (k-1) extra step applications after the true fixpoint. */
  def apply(seed: DataFrame, step: DataFrame => DataFrame,
            maxIter: Int = 10000, maxRows: Long = 2000000000L,
            compactEvery: Int = 10, stepsPerRound: Int = 8,
            tinyRows: Long = 100000L, probe: Probe = null): DataFrame = {
    val cols = seed.columns.toSeq
    val spark = seed.sparkSession
    val schema = seed.schema

    // Step output is coerced to the SEED's schema: the fixpoint is over a
    // fixed typed heading (the reference's typed relations), and it keeps
    // union/except/createDataFrame agreeing on one row type across rounds.
    val castToSeed = cols.map(c => col(c).cast(schema(c).dataType).as(c))
    def stepCast(l: DataFrame): DataFrame = step(l).select(castToSeed: _*)

    // ---- TINY regime: while the whole accumulator fits comfortably on the
    // driver (≤ tinyRows, a few MB — the same size class AQE localizes),
    // keep it there: the frontier is re-seeded as a LocalRelation each
    // round, so a round is ONE narrow job — no broadcast-build job, no
    // growing union tree to re-analyze. Fixpoints almost always START here
    // (seeds are small); past the threshold — checked BEFORE any collect,
    // and mid-round via the bounded fetch — the rows move back into Spark
    // and the distributed regimes below take over. Known trade-off: a step
    // that scans LARGE relations (a closure over a big edge table) runs
    // its scans inside one coalesced task here — per-layer lazy
    // checkpointing keeps each layer evaluated once, and callers with such
    // steps can pass tinyRows = 0 to start distributed.
    val dedupedSeed = seed.dropDuplicates().pin()
    val seedCount = dedupedSeed.count()

    // Driver-side set identity must match Spark's row equality: -0.0
    // normalizes to 0.0 (NormalizeFloatingNumbers) and binary/array values
    // compare by content, recursively through structs.
    def norm(v: Any): Any = v match {
      case d: java.lang.Double if d == 0.0 => 0.0
      case f: java.lang.Float if f == 0.0f => 0.0f
      case a: Array[Byte] => a.toSeq
      case a: Array[_] => a.toSeq.map(norm)
      case s: scala.collection.Seq[_] => s.map(norm)
      case r: Row => r.toSeq.map(norm)
      case x => x
    }
    def key(r: Row): Seq[Any] = r.toSeq.map(norm)

    val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
    val accRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    var frontierRows = Seq.empty[Row]
    var iter = 0
    var bailedToSpark = seedCount > tinyRows
    import scala.jdk.CollectionConverters._
    if (!bailedToSpark) {
      dedupedSeed.collect().foreach { r => if (seen.add(key(r))) accRows += r }
      frontierRows = accRows.toSeq
      // fetch cap: a fanning-out step can exceed the regime's budget within
      // one round; a capped take detects that without unbounded transfer
      val maxFetch = math.min(tinyRows * 4 + 1, Int.MaxValue.toLong).toInt
      // Layer caching is adaptive on OBSERVED round latency: for a light
      // step (pure frontier arithmetic) the k per-layer persists cost more
      // than the k(k+1)/2 recompute they avoid; for a heavy step (scans a
      // big relation) it's the reverse. The first slow round flips it on.
      var cacheTinyLayers = false
      while (!bailedToSpark && frontierRows.nonEmpty && accRows.size <= tinyRows
             && iter < maxIter) {
        val t0 = System.nanoTime()
        val frontierDf = spark.createDataFrame(frontierRows.asJava, schema)
        val roundCached = cacheTinyLayers
        val layers = Seq.iterate(frontierDf, stepsPerRound + 1) { l =>
          val next = stepCast(l)
          if (roundCached) next.pinLazy() else next
        }.drop(1)
        val out = layers.reduce(_ union _)
          .coalesce(1).dropDuplicates().take(maxFetch)
        // the round's layer pins are dead the moment `out` is fetched —
        // k pins per round × many rounds is a ledger leak otherwise
        if (roundCached) layers.foreach(_.unpin())
        if ((System.nanoTime() - t0) / 1e9 > 1.0) cacheTinyLayers = true
        if (out.length >= maxFetch) bailedToSpark = true // can't trust a truncated round
        else {
          val fresh = scala.collection.mutable.ArrayBuffer.empty[Row]
          out.foreach { r => if (seen.add(key(r))) { accRows += r; fresh += r } }
          frontierRows = fresh.toSeq
          require(accRows.size <= maxRows, s"while-fixpoint exceeded $maxRows rows")
          iter += 1
          if (probe != null) probe.driverRounds += 1
        }
      }
      if (!bailedToSpark && frontierRows.isEmpty) { // converged on the driver
        dedupedSeed.unpin() // the result is driver rows; the seed pin is dead
        return spark.createDataFrame(accRows.asJava, schema)
      }
    }

    // ---- distributed regimes: (re-)enter Spark with whatever state exists
    if (probe != null) probe.bailedToSpark = true
    var acc =
      if (accRows.isEmpty) dedupedSeed
      else {
        val a = spark.createDataFrame(accRows.asJava, schema).pin()
        dedupedSeed.unpin() // superseded: acc re-seeds from driver rows
        a
      }
    var frontier =
      if (frontierRows.isEmpty) acc
      else spark.createDataFrame(frontierRows.asJava, schema)
    var total = if (accRows.isEmpty) seedCount else accRows.size.toLong
    var lastFrontierRows =
      if (frontierRows.isEmpty) total else frontierRows.size.toLong
    seen.clear(); accRows.clear()
    var sinceCompact = 0
    var done = false
    // Pin ledger for the loop: `accLegs` are the pins the CURRENT acc's
    // lazy union references (entry pin + per-round frontiers since the last
    // compaction); `pendingDead` are legs covered by a compaction pin that
    // has not materialized yet. The compacted pin materializes during the
    // NEXT round's count (minus always scans acc), after which its covered
    // legs can never be recomputed into — they are released there, so the
    // loop holds O(result) pinned bytes instead of
    // O(result·rounds/compactEvery). The legs live at convergence ARE the
    // returned frame's storage and stay pinned.
    val accLegs = scala.collection.mutable.ArrayBuffer[DataFrame](acc)
    var pendingDead = List.empty[DataFrame]
    while (!done && iter < maxIter) {
      // Each layer is lazily checkpointed so layer_i is computed ONCE and
      // reused both as layer_{i+1}'s input and as a union leg — without it
      // the k union legs are nested lazy plans and each round would
      // re-evaluate step() k(k+1)/2 times instead of k (worth it only for
      // frontiers big enough that recompute beats per-pin query overhead —
      // see LayerPinRows).
      val cacheLayers = lastFrontierRows > LayerPinRows
      val layers = Seq.iterate(frontier, stepsPerRound + 1) { l =>
        val next = stepCast(l)
        if (cacheLayers) next.pinLazy() else next
      }.drop(1)
      val stepped = layers.reduce(_ union _)
      // frontier-minus-acc: while acc is small enough to broadcast, an
      // explicit broadcast anti-join keeps each round to one shuffle-free
      // stage; past the broadcast threshold fall back to except (shuffled
      // anti-join — the only correct choice once acc is cluster-sized).
      // Lazy checkpoint + count = ONE job per round (an eager checkpoint
      // would run a separate materialization job before the count).
      // broadcast-regime guard is BYTES, not rows: a wide-row accumulator
      // must not broadcast gigabytes. Estimated via the schema's default
      // row size against the session's own broadcast threshold (so a user
      // who disables broadcast joins, threshold -1, gets except() always).
      val bcThreshold = spark.sessionState.conf.autoBroadcastJoinThreshold
      val rowBytes = math.max(schema.defaultSize.toLong, 1L)
      val minus =
        if (bcThreshold > 0 && total * rowBytes <= bcThreshold) {
          // small regime: coalesce(1) makes the dedup a narrow local hash
          // (no exchange at all) and acc broadcasts — each round is a
          // single shuffle-free stage plus a broadcast build. The join
          // condition is null-SAFE (<=>) to match except()'s semantics in
          // the large regime: a NULL-bearing tuple must still subtract.
          val s = stepped.coalesce(1).dropDuplicates().alias("s")
          val a = broadcast(acc.alias("a"))
          s.join(a, cols.map(c => col(s"s.$c") <=> col(s"a.$c")).reduce(_ && _), "left_anti")
        }
        else stepped.except(acc)
      val fresh = minus.pinLazy()
      val n = fresh.count()
      // this count scanned acc: any pending compaction pin has materialized,
      // so the legs it covers are dead; so are this round's layer pins (the
      // frontier delta is now pinned in `fresh`)
      if (cacheLayers) layers.foreach(_.unpin())
      pendingDead.foreach(_.unpin()); pendingDead = Nil
      if (n == 0) { done = true; fresh.unpin() }
      else {
        acc = acc.union(fresh) // lazy: legs are all checkpointed
        accLegs += fresh
        frontier = fresh
        lastFrontierRows = n
        total += n
        sinceCompact += 1
        if (sinceCompact >= compactEvery) {
          // Local pins: lazy — materializes as a side effect of the next
          // round's scan, zero extra jobs. Reliable pins: EAGER. A lazy
          // reliable checkpoint WOULD eventually write its directory
          // (doCheckpoint recurses from each job's final RDD to the first
          // marked ancestor on every branch, paying a recompute job), and
          // the next round's count would cover this pin before pendingDead
          // releases its legs — but that correctness then hangs on job
          // ordering inside the loop instead of on a materialized fact.
          // The eager pin costs the same one write + recompute and makes
          // the release unconditionally safe.
          acc = if (Checkpoint.isReliable(spark)) acc.pin() else acc.pinLazy()
          pendingDead = accLegs.toList
          accLegs.clear(); accLegs += acc
          sinceCompact = 0
        }
        require(total <= maxRows, s"while-fixpoint exceeded $maxRows rows")
      }
      iter += 1
      if (probe != null) probe.distributedRounds += 1
    }
    require(done, s"while-fixpoint did not converge in $maxIter iterations")
    acc
  }

  /** Rel-level wrapper. Output of a fixpoint is distinct by construction. */
  def rel(seed: Rel, step: Rel => Rel, maxIter: Int = 10000): Rel =
    Rel.distinct(apply(seed.df, d => step(Rel.distinct(d)).bagDF, maxIter))
}
