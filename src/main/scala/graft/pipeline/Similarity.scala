package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.Sampling
import graft.rel.Checkpoint.PinOps

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and two scale paths —
  * random-hyperplane LSH bucketing and IVF (inverted-file) coarse
  * quantization — that turn the all-pairs crossJoin into a bucketed join.
  *
  * Dot products are `zip_with` + `aggregate` column expressions (codegen'd,
  * no UDF, vector never leaves Tungsten rows).
  *
  * Top-k is TWO-PHASE everywhere: a per-(query, input-partition) local
  * top-k, then a merge of the ≤ k·numPartitions survivors per query —
  * never a `Window.partitionBy(q_id)` over the whole scored corpus, which
  * would send every candidate of a query to a single partition (the
  * "fine at sf0.1, dead at 100×" pattern). Both phases are ordinary
  * hash aggregations with map-side partial aggregation.
  */
object Similarity {

  /** Dot product of two float-array columns, computed in double — a native
    * codegen'd expression ([[graft.functions.FloatVecDot]]): scoring is
    * O(corpus·queries·dim), the engine's hottest inner loop. */
  def dot(a: Column, b: Column): Column = graft.functions.FloatVecDot(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector is all-zero (no NULLs).
    * NOTE: evaluates ~5 O(dim) array aggregates per call — in any per-PAIR
    * position (join verify, scoring) precompute the norms per VECTOR before
    * the join and use [[cosinePre]] instead. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Cosine from a precomputed dot product and per-side norms: one O(dim)
    * aggregate per pair instead of five. */
  def cosinePre(dotAB: Column, na: Column, nb: Column): Column =
    when(na * nb === 0.0, lit(0.0)).otherwise(dotAB / (na * nb))

  /** Deterministic random hyperplanes: `planes` sign bits packed into a
    * long — the classic cosine-LSH signature (Charikar '02). Fused native
    * expression ([[graft.functions.HyperplaneSig]]): one pass per vector
    * with components memoized across rows. */
  def hyperplaneSig(vec: Column, planes: Int = 8, seed: Long = 7L): Column =
    graft.functions.HyperplaneSig(vec, planes, seed)


  /** Distributed top-k per query over a scored candidate set
    * (qId, cId, cosine): phase 1 takes a local top-k per (query, physical
    * input partition) — the groupBy key includes `spark_partition_id()`, so
    * no reducer ever holds more than one partition's candidates for one
    * query; phase 2 merges the ≤ k·P survivors per query. Ties break by
    * ascending cId (matches a row_number window ordered cosine desc, cId). */
  private[graft] def topK(scored0: DataFrame, k: Int, qId: String, cId: String): DataFrame = {
    // a null cosine (ragged/corrupt embedding — FloatVecDot yields NULL by
    // design) must surface as an absent row, not rank FIRST via the packed
    // struct's null `nc` sorting ahead of every real score
    val scored = scored0.filter(col("cosine").isNotNull)
    val packed = struct((-col("cosine")).as("nc"), col(cId).as("c"))
    val local = scored
      .groupBy(col(qId), spark_partition_id().as("__pid"))
      .agg(slice(sort_array(collect_list(packed)), 1, k).as("top"))
    val merged = local.select(col(qId), explode(col("top")).as("t"))
      .groupBy(col(qId))
      .agg(slice(sort_array(collect_list(col("t"))), 1, k).as("top"))
    merged.select(col(qId), posexplode(col("top")).as(Seq("__i", "t")))
      .select(col(qId), col("t.c").as(cId), (-col("t.nc")).as("cosine"),
        (col("__i") + 1).as("rank"))
  }

  /** Exact brute-force top-k: broadcast the (small) query set against the
    * corpus — the corpus is scanned exactly once with no shuffle, scoring
    * stays in whole-stage codegen, then the two-phase top-k reduces each
    * partition to k rows per query before anything shuffles. */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, k: Int,
                    qId: String = "q_id", qVec: String = "q_vec",
                    cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val c = Dedup.widen(corpus).select(col(cId), col(cVec), norm(col(cVec)).as("__cn"))
    val q = queries.select(col(qId), col(qVec), norm(col(qVec)).as("__qn"))
    val scored = c.crossJoin(broadcast(q))
      .select(col(qId), col(cId),
        round(cosinePre(dot(col(qVec), col(cVec)), col("__qn"), col("__cn")), 6)
          .as("cosine"))
    topK(scored, k, qId, cId)
  }

  /** LSH-bucketed approximate top-k: probe only corpus vectors whose
    * hyperplane signature matches the query's. Recall < 1 by construction;
    * multi-probe (flip one bit) raises it, and `tables` independent
    * `planes`-bit hash tables (banded from ONE fused `planes*tables`-bit
    * signature pass) amplify it as 1-(1-p)^tables — the standard LSH
    * recall/cost knob. At 100 TB the bucket join is a shuffle on a
    * (table, band) key instead of a full crossJoin. */
  def lshKnn(queries: DataFrame, corpus: DataFrame, k: Int,
             planes: Int = 8, multiProbe: Boolean = true, tables: Int = 1,
             qId: String = "q_id", qVec: String = "q_vec",
             cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val mask = lit((1L << planes) - 1)
    def bands(sigc: Column): Column = TextAnalysis.bind(sigc) { sg =>
      array((0 until tables).map(t =>
        shiftrightunsigned(sg, t * planes).bitwiseAND(mask)): _*)
    }
    val cSig = Dedup.widen(corpus).select(col(cId), col(cVec), norm(col(cVec)).as("__cn"),
      posexplode(bands(hyperplaneSig(col(cVec), planes * tables))).as(Seq("t", "bucket")))
    val qSig0 = queries.select(col(qId), col(qVec), norm(col(qVec)).as("__qn"),
      posexplode(bands(hyperplaneSig(col(qVec), planes * tables))).as(Seq("t", "bucket")))
    val qSig = if (!multiProbe) qSig0 else {
      // probe own bucket + each 1-bit-flipped neighbour bucket (bucket
      // let-bound: inlined it would recompute the signature per probe)
      val probes = array((lit(0L) +: (0 until planes).map(p => shiftleft(lit(1L), p))): _*)
      qSig0.withColumn("bucket", explode(TextAnalysis.bind(col("bucket")) { bkt =>
        transform(probes, m => bkt.bitwiseXOR(m))
      }))
    }
    val scored = cSig.join(broadcast(qSig), Seq("t", "bucket"))
      .select(col(qId), col(cId),
        round(cosinePre(dot(col(qVec), col(cVec)), col("__qn"), col("__cn")), 6)
          .as("cosine"))
      .dropDuplicates(qId, cId)
    topK(scored, k, qId, cId)
  }

  /** IVF (inverted file) ANN: assign every corpus vector to its nearest of
    * `nlist` centroids, then search only the `nprobe` closest lists per
    * query. Centroids are a deterministic pseudo-random sample (ordered by
    * id hash — balanced in expectation, reproducible; a k-means refinement
    * would start from exactly this). Assignment is a broadcast crossJoin +
    * `max_by` hash aggregation — partial-aggregatable map-side, so the
    * nlist× candidate inflation collapses to one row per vector BEFORE the
    * shuffle (the window-based argmax this replaces shuffled all
    * corpus×nlist rows). */
  /** FAISS-style index sizing guidance (the published billion-vector
    * heuristics): `nlist ≈ 4·√n` inverted lists, a Lloyd training sample
    * of ~256 vectors per centroid, and full-byte PQ codes (`codes = 256`)
    * once the corpus outgrows a few hundred thousand vectors. The module
    * defaults (nlist=16, codes=16, trainFraction=1) fit the ~2k-vector
    * sandbox corpus — a 10⁹-vector deployment wants nlist ≈ 126 000 and
    * codes = 256. Call these so test defaults never ship at scale. */
  def suggestNlist(n: Long): Int =
    math.max(16.0, 4.0 * math.sqrt(n.toDouble)).toInt

  /** Training fraction giving ≈ `perCentroid` sample vectors per centroid
    * (k-means quality saturates there; more only slows the Lloyd rounds). */
  def suggestTrainFraction(n: Long, nlist: Int, perCentroid: Int = 256): Double =
    math.min(1.0, perCentroid.toDouble * nlist / math.max(1L, n))

  /** Deterministic IVF centroids: seeds are the `nlist` vectors with the
    * smallest id hash (orderBy+limit is a distributed
    * TakeOrderedAndProject — each partition keeps its local nlist best,
    * the driver merges P·nlist rows, never a global sort), refined by
    * [[lloydRefine]]. Returns (centroid_id, centroid, __kn). */
  def ivfCentroids(corpus: DataFrame, nlist: Int = 16, lloydIters: Int = 2,
                   cId: String = "vec_id", cVec: String = "embedding",
                   trainFraction: Double = 1.0): DataFrame = {
    // standard billion-vector practice: TRAIN the centroids on a
    // deterministic content-hash sample (k-means quality saturates at a
    // few hundred vectors per centroid), ASSIGN the full corpus — Lloyd
    // rounds then scan the sample, not 100 TB, and stay reproducible
    val train = trainCorpus(corpus, cId, trainFraction)
    val seeds = train.orderBy(xxhash64(col(cId)), col(cId)).limit(nlist)
      .select(col(cId).as("centroid_id"), col(cVec).as("centroid"),
        norm(col(cVec)).as("__kn"))
    lloydRefine(train, seeds, lloydIters, cId, cVec)
  }

  /** Deterministic content-hash training sample (Sampling.hashSample with
    * 1000 buckets): the same vectors train in every run, on every cluster
    * layout. fraction ≥ 1 keeps the full corpus. */
  private def trainCorpus(corpus: DataFrame, cId: String,
                          fraction: Double): DataFrame =
    if (fraction >= 1.0) corpus
    else Sampling.hashSample(corpus, col(cId), fraction, buckets = 1000)

  /** Assign every vector to its `p` nearest centroids (p = 1 is the plain
    * IVF assignment; p > 1 is multi-assignment, the recall lever for
    * cluster-bounded candidate generation). Broadcast crossJoin + one
    * map-side-combinable aggregation — the nlist× inflation collapses to
    * ≤ p rows per vector BEFORE the shuffle. Ties break to the lowest
    * centroid id. Returns (cId, cVec, __cn, centroid_id), one row per
    * (vector, assigned centroid). */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame, p: Int = 1,
                        cId: String = "vec_id",
                        cVec: String = "embedding"): DataFrame = {
    val packed = struct((-col("cdist")).as("nd"), col("centroid_id").as("c"))
    val scored = Dedup.widen(corpus)
      .select(col(cId), col(cVec), norm(col(cVec)).as("__cn"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist",
        cosinePre(dot(col(cVec), col("centroid")), col("__cn"), col("__kn")))
    if (p == 1)
      // plain IVF assignment: min(struct) keeps O(1) aggregation state
      // per vector instead of an nlist-sized collect_list — same winner
      // (largest cosine, ties to the lowest centroid id)
      scored.groupBy(col(cId))
        .agg(first(col(cVec)).as(cVec), first(col("__cn")).as("__cn"),
          min(packed).as("__best"))
        .select(col(cId), col(cVec), col("__cn"),
          col("__best").getField("c").as("centroid_id"))
    else
      scored.groupBy(col(cId))
        .agg(first(col(cVec)).as(cVec), first(col("__cn")).as("__cn"),
          slice(sort_array(collect_list(packed)), 1, p).as("__top"))
        .select(col(cId), col(cVec), col("__cn"),
          explode(col("__top").getField("c")).as("centroid_id"))
  }

  def ivfKnn(queries: DataFrame, corpus: DataFrame, k: Int,
             nlist: Int = 16, nprobe: Int = 4,
             qId: String = "q_id", qVec: String = "q_vec",
             cId: String = "vec_id", cVec: String = "embedding",
             lloydIters: Int = 2, trainFraction: Double = 1.0): DataFrame = {
    val centroids = ivfCentroids(corpus, nlist, lloydIters, cId, cVec, trainFraction)
    val assigned = assignToCentroids(corpus, centroids, 1, cId, cVec)
    // per query: nprobe nearest centroids (nlist candidates per query —
    // local sort_array/slice aggregation, no window)
    val probePack = struct((-col("qdist")).as("nd"), col("centroid_id").as("c"))
    val probed = queries.select(col(qId), col(qVec), norm(col(qVec)).as("__qn"))
      .crossJoin(broadcast(centroids))
      .withColumn("qdist",
        cosinePre(dot(col(qVec), col("centroid")), col("__qn"), col("__kn")))
      .groupBy(col(qId))
      .agg(first(col(qVec)).as(qVec), first(col("__qn")).as("__qn"),
        slice(sort_array(collect_list(probePack)), 1, nprobe).as("probes"))
      .select(col(qId), col(qVec), col("__qn"),
        explode(col("probes").getField("c")).as("centroid_id"))
    // search only the probed lists: shuffle on centroid_id, not all-pairs
    val scored = assigned.join(probed, "centroid_id")
      .select(col(qId), col(cId),
        round(cosinePre(dot(col(qVec), col(cVec)), col("__qn"), col("__cn")), 6)
          .as("cosine"))
    topK(scored, k, qId, cId)
  }

  /** Lloyd (k-means) refinement of IVF centroids: `iters` rounds of
    * assign-to-nearest (broadcast centroids, map-side max_by argmax) then
    * element-wise mean per cluster. The mean is computed by posexplode →
    * per-(cluster, dim) avg → reassemble — two map-side-combinable
    * aggregations; NO collect_list of whole vectors in one buffer, so the
    * largest aggregation state is one double per (cluster, dim) no matter
    * how many vectors a cluster holds. Empty clusters keep their previous
    * centroid (left join + coalesce), so nlist never shrinks. */
  /** Cap for the quantizer-training TINY TIER (`spark.graft
    * .kmeansDriverCap`, default 65536 vectors; 0 disables): training
    * corpora are bounded SAMPLES by design (quality saturates at a few
    * hundred vectors per centroid — see [[ivfCentroids]]), so when the
    * sample fits the cap, Lloyd runs in the DRIVER over the collected
    * sample — the FAISS discipline (quantizers train in memory, the
    * corpus-scale work is assignment/encode, which stays distributed).
    * At sf0.1 this turns ~10 tiny scheduler-bound Spark jobs per build
    * into one collect; on a cluster the collected sample is ≤ cap·dims
    * floats. The distributed Lloyd below remains the fallback for
    * over-cap samples or exotic input types. */
  private def kmeansDriverCap(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.kmeansDriverCap")
      .map(_.toInt).getOrElse(65536)

  private def isFloatArray(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }

  private def vdot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def vnorm(a: Array[Float]): Double = math.sqrt(vdot(a, a))

  private[pipeline] def lloydRefine(corpus: DataFrame, seeds: DataFrame,
                                    iters: Int, cId: String, cVec: String): DataFrame = {
    val spark = corpus.sparkSession
    val base = Dedup.widen(corpus)
      .select(col(cId), col(cVec), norm(col(cVec)).as("__cn"))
      .pin()
    val dims = base.select(size(col(cVec)).as("d")).take(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    // eager-release discipline: `base` is OUR pin — every exit path must
    // unpin it, or the blocks sit in executor storage until the
    // ContextCleaner happens to run
    if (iters == 0 || dims == 0) { base.unpin(); return seeds }
    val cap = kmeansDriverCap(spark)
    if (cap > 0 && isFloatArray(base.schema(cVec).dataType) &&
        base.count() <= cap) {
      val refined = driverLloyd(spark, base, seeds, iters, cId, cVec, dims)
      base.unpin()
      return refined
    }
    // distributed fallback. Element-wise means via dims-wide per-dim SUM
    // slots in ONE map-side-combinable aggregation (the doc-embedding
    // pattern): aggregation state stays one double per (cluster, dim) —
    // same bound a posexplode route has — but the shuffle carries
    // cluster-count rows instead of rows×dims, one shuffle per round
    var cents = seeds
    (0 until iters).foreach { _ =>
      val nearest = base.crossJoin(broadcast(cents))
        .withColumn("cdist",
          cosinePre(dot(col(cVec), col("centroid")), col("__cn"), col("__kn")))
        .groupBy(col(cId))
        .agg(max_by(col("centroid_id"),
            struct(col("cdist"), (-col("centroid_id")).as("nid"))).as("centroid_id"),
          first(col(cVec)).as(cVec))
      val sums = (0 until dims).map(i =>
        sum(element_at(col(cVec), i + 1)).as(s"__s$i"))
      val means = nearest
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("__n"), sums: _*)
        .select(col("centroid_id"), array((0 until dims).map(i =>
          (col(s"__s$i") / col("__n")).cast("float")): _*).as("centroid"))
        .withColumn("__kn", norm(col("centroid")))
      val next = cents.select(col("centroid_id"),
          col("centroid").as("__prev"), col("__kn").as("__pn"))
        .join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("centroid"), col("__prev")).as("centroid"),
          coalesce(col("__kn"), col("__pn")).as("__kn"))
        .pin()
      // the eager pin above materialized from the previous round's cents;
      // release that round's blocks now (never the caller's seeds)
      if (cents ne seeds) cents.unpin()
      cents = next
    }
    base.unpin()
    cents
  }

  /** Tiny-tier Lloyd: the SAME rules as the distributed loop (cosine
    * assignment with the cosinePre zero guard, ties to the smallest
    * centroid id, double-accumulated means cast to float, empty clusters
    * keep their previous centroid), run over the collected sample sorted
    * by id — deterministic across runs and partitionings. */
  private def driverLloyd(spark: org.apache.spark.sql.SparkSession,
                          base: DataFrame, seeds: DataFrame, iters: Int,
                          cId: String, cVec: String, dims: Int): DataFrame = {
    def idLt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: java.lang.Number, y: java.lang.Number) =>
        x.doubleValue() < y.doubleValue()
      case (x, y) => String.valueOf(x) < String.valueOf(y)
    }
    val seedRows = seeds.collect()
    val ids: Array[Any] = seedRows.map(_.get(0))
    var cents: Array[Array[Float]] =
      seedRows.map(_.getSeq[Float](1).toArray)
    val vecs = base.orderBy(col(cId)).select(col(cVec)).collect()
      .map(_.getSeq[Float](0).toArray)
    (0 until iters).foreach { _ =>
      val kn = cents.map(vnorm)
      val sums = Array.fill(cents.length)(new Array[Double](dims))
      val cnt = new Array[Long](cents.length)
      vecs.foreach { v =>
        val vn = vnorm(v)
        // best starts at 0, not -1: a NaN-poisoned vector (every compare
        // false) then lands in cluster 0 instead of indexing cnt(-1)
        var best = 0; var bd = Double.NegativeInfinity
        var j = 0
        while (j < cents.length) {
          val d = if (vn * kn(j) == 0.0) 0.0 else vdot(v, cents(j)) / (vn * kn(j))
          if (d > bd || (d == bd && idLt(ids(j), ids(best)))) {
            best = j; bd = d
          }
          j += 1
        }
        cnt(best) += 1
        var i = 0
        while (i < dims) { sums(best)(i) += v(i); i += 1 }
      }
      cents = cents.indices.map { j =>
        if (cnt(j) == 0L) cents(j)
        else Array.tabulate(dims)(i => (sums(j)(i) / cnt(j)).toFloat)
      }.toArray
    }
    val rows = ids.zip(cents).toSeq.map { case (id, c) =>
      org.apache.spark.sql.Row(id, c.toSeq, vnorm(c)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), seeds.schema)
  }

  // ------------------------------------------------- int8 scalar quantization

  /** Per-vector int8 scalar quantization: q_i = round(x_i / scale) with
    * scale = max|x| / 127 — the standard memory/bandwidth lever for
    * billion-vector search (4× smaller than float32; at 100 TB of
    * embeddings the quantized corpus is what stays cache- and
    * shuffle-resident, the float originals are only touched to rescore a
    * few candidates). Returns struct(q: array<tinyint>, scale: float);
    * all-zero vectors get scale 0 and an all-zero q. */
  def quantizeI8(vec: Column): Column =
    TextAnalysis.bind(array_max(transform(vec, x => abs(x))) / 127.0) { s =>
      struct(
        transform(vec, x =>
          when(s === 0.0, lit(0)).otherwise(round(x / s)).cast("byte")).as("q"),
        s.cast("float").as("scale"))
    }

  /** Approximate dot product of two quantized vectors:
    * (Σ qa_i·qb_i) · scale_a · scale_b — integer multiply-adds over byte
    * arrays; the int accumulator is exact (dim·127² ≪ 2³¹). Fused native
    * expression ([[graft.functions.I8Dot]], r19): the combinator form ran
    * two interpreted higher-order passes per pair AND demoted its
    * operator out of whole-stage codegen. Exact int sum — value
    * unchanged. */
  def dotI8(a: Column, b: Column): Column =
    graft.functions.I8Dot(a.getField("q"), b.getField("q"))
      .cast("double") * a.getField("scale") * b.getField("scale")

  // ------------------------------------------------- product quantization

  /** The full ADC sum Σ_i lut[i·nCodes + (code_i & 0xff)] as ONE fused
    * codegen'd pass ([[graft.functions.AdcLutSum]], r19). `codes` is
    * ordered by sub_id (pqEncode's sort) and the flattened per-query
    * `__lut` array by (sub_id, UNSIGNED code), so hit i lives at
    * i·nCodes + (code_i & 0xff). Codes are stored as SIGNED bytes — at
    * the production codes=256 setting, codes 128..255 read back as
    * negatives, so both this index and [[lutFlat]]'s sort key mask to the
    * unsigned value. Replaces an `aggregate(transform(codes, element_at
    * (__lut, …)), 0.0, _+_)` combinator, which ran two interpreted
    * higher-order passes and an intermediate array per (corpus row ×
    * query) AND demoted its operator out of whole-stage codegen.
    * Index-order left-fold → bit-identical doubles (PipelineSpec keeps
    * that combinator inline as the differential reference). */
  private def adcSum(nCodes: Int): Column =
    graft.functions.AdcLutSum(col("codes"), col("__lut"), nCodes)

  /** Flatten a per-(sub_id, code) LUT to the per-query array [[adcSum]]
    * indexes: ordered by (sub_id, unsigned code). */
  private def lutFlat: Column =
    transform(sort_array(collect_list(struct(col("sub_id"),
        col("code").cast("int").bitwiseAND(lit(255)).as("ucode"),
        col("lutdot")))),
      x => x.getField("lutdot"))

  /** Fused codegen'd squared L2 ([[graft.functions.FloatVecL2Sq]], r19) —
    * the inner loop of PQ training and encoding (one call per
    * subvector × code). Same left-fold double accumulation as the
    * combinator form it replaces (`KernelReference.l2sq` in the tests,
    * the differential oracle) → bit-identical distances. PQ codebooks are
    * trained in L2 space over raw subvectors — the standard formulation. */
  private def l2sq(a: Column, b: Column): Column =
    graft.functions.FloatVecL2Sq(a, b)

  /** Train a product-quantization codebook: the vector is cut into `m`
    * subvectors and each subspace gets its own `codes`-entry k-means
    * codebook (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011). Returns (sub_id, code: tinyint, centroid).
    *
    * All `m` subspaces train JOINTLY in one plan: the corpus explodes once
    * into (vec_id, sub_id, subvec) rows and every Lloyd round is a single
    * broadcast-join + two map-side-combinable aggregations over all
    * subspaces at once — m separate k-means jobs would scan the corpus
    * m× and serialize on the driver. Seeds are the subvectors of the
    * `codes` vectors with the smallest id hash (deterministic, balanced in
    * expectation); empty codes keep their previous centroid. */
  def pqTrain(corpus: DataFrame, m: Int = 8, codes: Int = 16,
              lloydIters: Int = 2,
              cId: String = "vec_id", cVec: String = "embedding",
              trainFraction: Double = 1.0): DataFrame = {
    // codebooks train on a deterministic hash-sample (see ivfCentroids) —
    // the Lloyd rounds scan the sample, pqEncode scans the full corpus
    require(codes >= 2 && codes <= 256,
      s"pqTrain: codes=$codes out of [2,256] — codes are one BYTE each")
    val train = trainCorpus(corpus, cId, trainFraction)
    val subDim = size(col(cVec)) / m
    val subRows = Dedup.widen(train).select(col(cId),
        explode(sequence(lit(0), lit(m - 1))).as("sub_id"), col(cVec))
      .select(col(cId), col("sub_id"),
        slice(col(cVec), col("sub_id") * subDim + 1, subDim).as("subvec"))
      .pin()
    // seed codebook: `codes` hash-sampled vectors; dense code ids 0..codes-1
    // come from a row_number over codes·m rows — driver-scale, not data-scale
    val seedIds = train.orderBy(xxhash64(col(cId)), col(cId)).limit(codes)
      .select(col(cId).as("__seed_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("sub_id").orderBy("__seed_id")
    var cb = subRows.join(broadcast(seedIds), col(cId) === col("__seed_id"))
      .select(col("sub_id"), col("__seed_id"), col("subvec").as("centroid"))
      // two's-complement wrap BEFORE the byte cast: dense codes 128..255
      // must land as negative bytes, not throw under ANSI
      .withColumn("__rn", row_number().over(w) - 1)
      .withColumn("code",
        when(col("__rn") < 128, col("__rn")).otherwise(col("__rn") - 256)
          .cast("byte"))
      .drop("__rn")
      .select(col("sub_id"), col("code"), col("centroid"))
    val sd = subRows.select(size(col("subvec")).as("d")).take(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    if (sd == 0 || lloydIters == 0) return cb
    val spark = corpus.sparkSession
    // tiny tier (see kmeansDriverCap): the training sample is bounded by
    // design — refine the per-subspace codebooks in the driver. The tier
    // gate counts the PINNED subRows (÷ m), never the raw train lineage
    val cap = kmeansDriverCap(spark)
    if (cap > 0 &&
        isFloatArray(subRows.schema("subvec").dataType) &&
        subRows.count() / m <= cap) {
      val out = driverPqLloyd(spark, subRows, cb, lloydIters, cId, sd)
      subRows.unpin() // the tiny tier collected the sample; the pin is dead
      return out
    }
    // distributed fallback: element-wise means via subDim-wide per-dim
    // SUM slots, one shuffle per round (see lloydRefine)
    (0 until lloydIters).foreach { _ =>
      val nearest = subRows.join(broadcast(cb), Seq("sub_id"))
        .withColumn("d", l2sq(col("subvec"), col("centroid")))
        .groupBy(col(cId), col("sub_id"))
        .agg(max_by(col("code"), struct((-col("d")).as("nd"),
            (-col("code").cast("int").bitwiseAND(lit(255))).as("nc")))
            .as("code"),
          first(col("subvec")).as("subvec"))
      val sums = (0 until sd).map(i =>
        sum(element_at(col("subvec"), i + 1)).as(s"__s$i"))
      val means = nearest
        .groupBy(col("sub_id"), col("code"))
        .agg(count(lit(1)).as("__n"), sums: _*)
        .select(col("sub_id"), col("code"), array((0 until sd).map(i =>
          (col(s"__s$i") / col("__n")).cast("float")): _*).as("centroid"))
      val prev = cb
      cb = cb.select(col("sub_id"), col("code"), col("centroid").as("__prev"))
        .join(means, Seq("sub_id", "code"), "left")
        .select(col("sub_id"), col("code"),
          coalesce(col("centroid"), col("__prev")).as("centroid"))
        .pin()
      prev.unpin() // superseded round (round 1's prev is the unpinned seed
                   // plan — unpin is a safe no-op there)
    }
    subRows.unpin() // final codebook pin is the result; the sample is dead
    cb
  }

  /** Tiny-tier per-subspace Lloyd (same rules as the distributed loop:
    * l2 assignment with ties to the smallest code, double-accumulated
    * means cast to float, empty codes keep their previous centroid),
    * over the collected sample sorted by (sub_id, id). */
  private def driverPqLloyd(spark: org.apache.spark.sql.SparkSession,
                            subRows: DataFrame, cbSeed: DataFrame,
                            iters: Int, cId: String, sd: Int): DataFrame = {
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      s
    }
    // codes are SIGNED bytes holding unsigned values 0..nCodes-1: order by
    // the unsigned value so array position == code (idx.toByte round-trips)
    val seedRows = cbSeed.select(col("sub_id"), col("code"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getByte(1), r.getSeq[Float](2).toArray))
      .sortBy(t => (t._1, t._2 & 0xff))
    val bySub = subRows.orderBy(col("sub_id"), col(cId))
      .select(col("sub_id"), col("subvec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // cents(sub) = codes in ascending code order
    var cents: Map[Int, Array[Array[Float]]] = seedRows.groupBy(_._1)
      .view.mapValues(_.sortBy(_._2 & 0xff).map(_._3)).toMap
    (0 until iters).foreach { _ =>
      cents = cents.map { case (sub, cs) =>
        val vs = bySub.getOrElse(sub, Array.empty[Array[Float]])
        val sums = Array.fill(cs.length)(new Array[Double](sd))
        val cnt = new Array[Long](cs.length)
        vs.foreach { v =>
          var best = 0; var bd = Double.MaxValue
          var j = 0
          while (j < cs.length) {
            val d = l2(v, cs(j))
            if (d < bd) { best = j; bd = d } // ties keep the smaller code
            j += 1
          }
          cnt(best) += 1
          var i = 0
          while (i < sd) { sums(best)(i) += v(i); i += 1 }
        }
        sub -> cs.indices.map { j =>
          if (cnt(j) == 0L) cs(j)
          else Array.tabulate(sd)(i => (sums(j)(i) / cnt(j)).toFloat)
        }.toArray
      }
    }
    val rows = cents.toSeq.sortBy(_._1).flatMap { case (sub, cs) =>
      cs.zipWithIndex.map { case (c, code) =>
        org.apache.spark.sql.Row(sub, code.toByte, c.toSeq) }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sub_id",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.ByteType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false),
          nullable = false))))
  }

  /** Encode the corpus against a trained codebook: each vector becomes `m`
    * one-byte codes (nearest centroid per subspace) plus its float norm —
    * a 64-dim float32 vector (256 B) compresses to 8 B + 4 B, the
    * representation that stays shuffle/cache-resident at billion-vector
    * scale. Returns (cId, codes: array<tinyint>, __cn); `carry` columns of
    * the input (e.g. an IVF cell id) ride through the aggregations
    * unchanged — they must be functionally determined by cId. */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, m: Int = 8,
               cId: String = "vec_id", cVec: String = "embedding",
               carry: Seq[String] = Nil): DataFrame = {
    val subDim = size(col(cVec)) / m
    Dedup.widen(corpus).select(col(cId) +: col(cVec) +:
        norm(col(cVec)).as("__cn") +:
        explode(sequence(lit(0), lit(m - 1))).as("sub_id") +: carry.map(col): _*)
      .select(col(cId) +: col("__cn") +: col("sub_id") +:
        slice(col(cVec), col("sub_id") * subDim + 1, subDim).as("subvec") +:
        carry.map(col): _*)
      .join(broadcast(codebook), Seq("sub_id"))
      .withColumn("d", l2sq(col("subvec"), col("centroid")))
      .groupBy(col(cId), col("sub_id"))
      .agg(max_by(col("code"), struct((-col("d")).as("nd"),
            (-col("code").cast("int").bitwiseAND(lit(255))).as("nc")))
          .as("code"),
        first(col("__cn")).as("__cn") +: carry.map(c => first(col(c)).as(c)): _*)
      .groupBy(col(cId))
      .agg(transform(sort_array(collect_list(struct(col("sub_id"), col("code")))),
        x => x.getField("code")).as("codes"),
        first(col("__cn")).as("__cn") +: carry.map(c => first(col(c)).as(c)): _*)
  }

  /** PQ kNN with asymmetric distance computation (ADC) and exact rescore:
    * each query precomputes one dot-product lookup table per subspace
    * (`m`·`codes` entries — tiny, broadcast), the encoded corpus is scored
    * by summing table hits per code (integer-indexed adds over the 8-byte
    * representation — never touching the float vectors), the top
    * `overFetch`·k candidates per query are rescored with the exact float
    * dot. One corpus scan over the compressed form + a candidate-sized
    * exact pass: the PQ analogue of [[quantizedKnn]], 8× smaller still. */
  def pqKnn(queries: DataFrame, corpus: DataFrame, k: Int,
            m: Int = 8, codes: Int = 16, overFetch: Int = 32,
            lloydIters: Int = 2,
            qId: String = "q_id", qVec: String = "q_vec",
            cId: String = "vec_id", cVec: String = "embedding",
            trainFraction: Double = 1.0): DataFrame = {
    val cb = pqTrain(corpus, m, codes, lloydIters, cId, cVec, trainFraction)
    // EFFECTIVE per-subspace code count: the trained codebook has
    // min(codes, |train sample|) dense codes per sub — the ADC index
    // stride must match IT, not the requested parameter, or a small
    // corpus mis-indexes the flattened LUT (cb is tiny; count is free)
    val nCodes = (cb.count() / m).toInt
    val enc = pqEncode(corpus, cb, m, cId, cVec)
    val subDim = size(col(qVec)) / m
    // per-query LUT: dot(q_sub, centroid) for every (sub_id, code)
    val lut = queries.select(col(qId), col(qVec), norm(col(qVec)).as("__qn"),
        explode(sequence(lit(0), lit(m - 1))).as("sub_id"))
      .select(col(qId), col("__qn"), col("sub_id"),
        slice(col(qVec), col("sub_id") * subDim + 1, subDim).as("qsub"))
      .join(broadcast(cb), Seq("sub_id"))
      .select(col(qId), col("__qn"), col("sub_id"), col("code"),
        dot(col("qsub"), col("centroid")).as("lutdot"))
    // ADC: IN-ROW lookup-table sum — each query's m·codes LUT flattens to
    // one broadcast array indexed by sub_id·codes+code, so scoring is a
    // single narrow pass over the m-byte representation (no explode, no
    // re-aggregation shuffle, fixed summation order = deterministic)
    val lutArr = lut.groupBy(col(qId))
      .agg(first(col("__qn")).as("__qn"), lutFlat.as("__lut"))
    val approx = enc.crossJoin(broadcast(lutArr))
      .select(col(qId), col(cId),
        (adcSum(nCodes) /
          (col("__qn") * col("__cn"))).as("cosine"))
    val cand = topK(approx, k * overFetch, qId, cId).select(col(qId), col(cId))
    val c = Dedup.widen(corpus).select(col(cId), col(cVec), norm(col(cVec)).as("__cn"))
    val q = queries.select(col(qId), col(qVec), norm(col(qVec)).as("__qn"))
    val rescored = cand
      .join(c, cId)
      .join(broadcast(q), qId)
      .select(col(qId), col(cId),
        round(cosinePre(dot(col(qVec), col(cVec)), col("__qn"), col("__cn")), 6)
          .as("cosine"))
    topK(rescored, k, qId, cId)
  }

  /** IVF-PQ composite ANN — the standard billion-vector index layout
    * (Jégou et al., TPAMI 2011 §V "IVFADC"; the same composition FAISS
    * ships as IndexIVFPQ): corpus vectors are bucketed into `nlist`
    * inverted lists (IVF coarse quantizer) and each vector's RESIDUAL
    * against its cell centroid is product-quantized to `m` one-byte codes
    * (residuals are smaller than raw vectors, so the same code budget
    * quantizes them with less error). A query probes only its `nprobe`
    * nearest cells and scores candidates by asymmetric distance:
    *
    *   dot(q, x) ≈ dot(q, centroid_cell)  +  Σ_sub LUT[sub, code_sub]
    *
    * — the centroid term is exact and computed once per (query, cell), the
    * residual term is a broadcast lookup-table sum over the 8-byte codes.
    * The top `overFetch`·k candidates rescore with the exact float dot.
    *
    * Why this is the 100 TB shape: the per-query scan representation is
    * m bytes + a cell id per vector AND only nprobe/nlist of the corpus is
    * touched (pqKnn compresses but still scans every code; ivfKnn bounds
    * the scan but scores full floats). Index build (assignment, residual
    * codebook, encode) is a one-time artifact — pinned here, written to
    * storage in a real deployment. */
  /** A trained IVF-PQ index: coarse `centroids` (centroid_id, centroid,
    * __kn), per-subspace residual `codebooks` (sub_id, code, centroid),
    * and the encoded corpus `codes` (cId, codes, centroid_id, __ocn).
    * Building is the one-time corpus-scale artifact; searching touches
    * nprobe/nlist of the m-byte codes. At 100 TB the index is built once,
    * persisted with [[saveIvfPq]], appended to with [[ivfPqAppend]], and
    * served from [[loadIvfPq]] — the codebook is NOT retrained per run. */
  final case class IvfPqIndex(centroids: DataFrame, codebooks: DataFrame,
                              codes: DataFrame, m: Int, nCodes: Int,
                              cId: String)

  /** Build the IVF-PQ artifact: coarse quantizer, residual PQ codebooks,
    * encoded corpus. */
  def ivfPqBuild(corpus: DataFrame, nlist: Int = 16, m: Int = 8,
                 codes: Int = 16, lloydIters: Int = 2,
                 cId: String = "vec_id", cVec: String = "embedding",
                 trainFraction: Double = 1.0): IvfPqIndex = {
    val centroids = ivfCentroids(corpus, nlist, lloydIters, cId, cVec, trainFraction)
    val resid = residuals(corpus, centroids, cId, cVec).pin()
    val cb = pqTrain(resid, m, codes, lloydIters, cId, "__rvec", trainFraction)
    val enc = pqEncode(resid, cb, m, cId, "__rvec",
        carry = Seq("centroid_id", "__ocn"))
      .drop("__cn") // residual norm — cosine uses the carried original norm
    // nCodes records the EFFECTIVE dense per-subspace code count (the
    // sample may be smaller than `codes`) — it is the ADC index stride
    IvfPqIndex(centroids, cb, enc, m, (cb.count() / m).toInt, cId)
  }

  /** residual r = x − centroid(cell); the ORIGINAL norm rides along for
    * cosine (the residual's own norm is meaningless to the metric). */
  private def residuals(vecs: DataFrame, centroids: DataFrame,
                        cId: String, cVec: String): DataFrame =
    assignToCentroids(vecs, centroids, 1, cId, cVec)
      .join(broadcast(centroids), Seq("centroid_id"))
      .select(col(cId), col("centroid_id"), col("__cn").as("__ocn"),
        zip_with(col(cVec), col("centroid"), (x, c) => x - c).as("__rvec"))

  /** Encode NEW vectors against an EXISTING index (coarse assignment +
    * residual encode with the frozen codebooks) and append their codes —
    * the incremental-ingest path: a daily embedding batch joins the
    * serving index without touching the trained quantizers, and the
    * append's cost scales with the BATCH, not the corpus. (Rebuild when
    * drift accumulates — [[graft.pipeline.Profile.driftReport]] over the
    * vector metadata is the trigger.) */
  def ivfPqAppend(index: IvfPqIndex, newVecs: DataFrame,
                  cVec: String = "embedding"): IvfPqIndex = {
    val resid = residuals(newVecs, index.centroids, index.cId, cVec)
    val enc = pqEncode(resid, index.codebooks, index.m, index.cId, "__rvec",
        carry = Seq("centroid_id", "__ocn"))
      .drop("__cn")
    index.copy(codes = index.codes.unionByName(enc))
  }

  /** Persist an index: three parquet tables + a tiny JSON meta file.
    * The encoded corpus is PARTITIONED BY ITS IVF CELL: the probe join
    * (`codes ⋈ broadcast(probed)` on centroid_id) then dynamically prunes
    * the scan to the probed cells' directories — at a billion codes a
    * query batch reads nprobe/nlist of the index from storage instead of
    * all of it. This is how IVF shards at scale; PipelineSpec pins the
    * `dynamicpruning` partition filter in the loaded index's search plan.
    *
    * REBUILD-OVERWRITE HAS NO READER GRACE — the same contract as
    * [[graft.sources.BucketedStore.write]]: centroids, codebooks and
    * codes are replaced in place (gen reset to 0; superseded
    * `codes_gen-*` dirs reclaimed once the fresh meta commits), so an
    * index loaded just before the rebuild may lose its files mid-probe.
    * [[vacuumIvfPq]]'s `keepPrior` grace window applies to the APPEND/
    * COMPACT lifecycle only, where old generations stay readable through
    * the flip. To rebuild under live serving, save to a fresh path and
    * switch readers over, or rebuild in the serving maintenance window. */
  /** Re-cluster codes by cell so the partitioned write emits exactly one
    * file per cell — the cell-store sibling of
    * [[graft.sources.BucketedStore.clusterByKeys]] (here partition DIRS,
    * not bucket files, so plain hash-repartition by the cell id is the
    * whole invariant). Shared by [[saveIvfPq]] (corpus-sized, once),
    * [[appendIvfPq]] (delta-sized) and [[compactIvfPq]] (fold). */
  private def clusterByCell(df: DataFrame): DataFrame =
    df.repartition(org.apache.spark.sql.functions.col("centroid_id"))

  def saveIvfPq(index: IvfPqIndex, path: String): Unit = {
    val spark = index.centroids.sparkSession
    graft.sources.WriterLease.withLease(spark, path, "saveIvfPq") {
      index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
      index.codebooks.write.mode("overwrite").parquet(s"$path/codebooks")
      // re-cluster by cell before the partitioned write (the same narrow
      // m-byte-codes exchange compactIvfPq pays): a raw partitionBy from a
      // wide frame writes a file per (task × cell) — the index would be
      // BORN needing its first compaction, and every probe's cell scan
      // would open task-count files instead of one
      clusterByCell(index.codes)
        .write.mode("overwrite")
        .partitionBy("centroid_id").parquet(s"$path/codes")
      // fence before the meta write makes the index loadable: three
      // corpus-sized writes can outlive the lease TTL
      graft.sources.WriterLease.renew(spark, path, "saveIvfPq")
      val meta = s"""{"m":${index.m},"nCodes":${index.nCodes},""" +
        s""""cId":${graft.types.Json.str(index.cId)}}"""
      // atomic tmp+rename through the dir's own Hadoop FS (s3a://,
      // hdfs://, file://): the meta later carries the exactly-once
      // lastBatch watermark, so a torn write must be impossible
      graft.sources.BucketedStore.writeMeta(spark, path, "meta.json", meta)
      // only now — with the fresh index fully durable and the meta
      // pointing at flat gen 0 — are a previous index's codes_gen-* dirs
      // provably dead; deleting them BEFORE the writes would destroy the
      // live generation of a healthy index if this rebuild crashed
      // mid-save (the meta would still point at the deleted dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(path)).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith("codes_gen-"))
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Encode NEW vectors against a PERSISTED index's frozen quantizers and
    * append their codes into the cell-partitioned store on disk — the
    * daily-ingest counterpart of [[ivfPqAppend]]: cost scales with the
    * BATCH (coarse-assign + residual-encode it, write its partition
    * files), the existing codes are never read or rewritten, and the next
    * [[loadIvfPq]] serves the union. */
  def appendIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                  newVecs: DataFrame, cVec: String = "embedding"): Unit =
    graft.sources.WriterLease.withLease(spark, path, "appendIvfPq") {
      val node = graft.sources.BucketedStore.readMeta(spark, path, "meta.json")
      val idx = loadIvfPq(spark, path, node)
      val resid = residuals(newVecs, idx.centroids, idx.cId, cVec)
      pqEncode(resid, idx.codebooks, idx.m, idx.cId, "__rvec",
          carry = Seq("centroid_id", "__ocn"))
        .drop("__cn")
        // delta-sized cell re-cluster (clusterByCell): bounds each append
        // to ONE file per touched cell (a wide batch would otherwise land
        // a file per task × cell and blow the maintain budget)
        .transform(clusterByCell)
        .write.mode("append").partitionBy("centroid_id")
        .parquet(s"$path/${codesDirName(codesGenOf(node))}")
    }

  /** [[appendIvfPq]] with foreachBatch's at-least-once delivery made
    * EXACTLY-ONCE on the serving index — the ANN counterpart of
    * [[graft.streaming.DocStream.appendIndexBatch]]: the highest appended
    * batchId rides in the meta under the writer lease, a replayed batch
    * is a no-op, and the one insert-done/meta-not crash window leaves
    * duplicate code rows for a single batch, which [[ivfPqSearch]]'s
    * candidate dedup renders invisible in results. Returns whether the
    * append ran. */
  def appendIvfPqBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                       newVecs: DataFrame, batchId: Long,
                       cVec: String = "embedding"): Boolean =
    graft.sources.WriterLease.withLease(spark, path, "appendIvfPqBatch") {
      val node = graft.sources.BucketedStore.readMeta(spark, path, "meta.json")
      val last = if (node.has("lastBatch")) node.get("lastBatch").asLong() else -1L
      if (batchId <= last) false
      else {
        appendIvfPq(spark, path, newVecs, cVec)
        // fence before committing visibility (see DocStream
        // .appendIndexBatch): a lease TTL-broken during the encode+write
        // must abort loud, leaving only search-dedup-absorbed orphan rows
        graft.sources.WriterLease.renew(spark, path, "appendIvfPqBatch")
        val obj = node.deepCopy[com.fasterxml.jackson.databind.JsonNode]()
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        obj.put("lastBatch", batchId)
        graft.sources.BucketedStore.writeMeta(spark, path, "meta.json",
          obj.toString)
        true
      }
    }

  /** Streaming maintenance face of the persisted serving index: a stream
    * of new vectors is coarse-assigned and residual-encoded against the
    * FROZEN quantizers and lands as cell-partition appends under the
    * [[appendIvfPqBatch]] batchId watermark — the trained centroids and
    * codebooks are never touched, each batch costs O(batch), a restart
    * replays the in-flight batch harmlessly, and the next probe serves
    * the union. (Rebuild on drift — same contract as [[ivfPqAppend]].) */
  def startIvfPqAppendStream(stream: DataFrame, path: String,
                             cVec: String = "embedding",
                             trigger: org.apache.spark.sql.streaming.Trigger =
                               org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
                             maintainEvery: Int = 0,
                             maxFilesPerCell: Int = 4):
      org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // pins made while encoding this batch (residuals' centroid join
        // is broadcast — no pins today, but the ledger keeps a future
        // pinning change from leaking per-batch blocks forever)
        val led = graft.rel.Checkpoint.openLedger()
        try {
          appendIvfPqBatch(batch.sparkSession, path, batch, batchId, cVec)
          // in-stream upkeep: fold the cell store when fragmentation
          // crossed the budget, vacuum with the default grace window
          // (keepPrior=1 — a server still probing the superseded
          // generation keeps its files until the next cycle)
          if (maintainEvery > 0 && batchId > 0 &&
              batchId % maintainEvery == 0)
            maintainIvfPq(batch.sparkSession, path, maxFilesPerCell)
          ()
        } finally graft.rel.Checkpoint.drainLedger(led)
      }
      .start()

  /** The codes store's CURRENT generation directory — `codes` for a
    * freshly saved index (generation 0), `codes_gen-N` after
    * [[compactIvfPq]] folds (same generation-swap discipline as
    * [[graft.sources.BucketedStore]]: the fold lands beside the live
    * generation and one meta flip adopts it; superseded generations stay
    * immutable for attached readers until [[vacuumIvfPq]]). */
  private def codesGenOf(node: com.fasterxml.jackson.databind.JsonNode): Int =
    if (node.has("codesGen")) node.get("codesGen").asInt() else 0
  private def codesDirName(gen: Int): String =
    if (gen == 0) "codes" else s"codes_gen-$gen"

  /** Load a persisted index. */
  def loadIvfPq(spark: org.apache.spark.sql.SparkSession,
                path: String): IvfPqIndex =
    loadIvfPq(spark, path,
      graft.sources.BucketedStore.readMeta(spark, path, "meta.json"))

  /** [[loadIvfPq]] with the meta already in hand — the per-batch append
    * path reads it once for the watermark and passes it through instead
    * of re-opening meta.json (an extra round trip per micro-batch on an
    * object store). */
  private def loadIvfPq(spark: org.apache.spark.sql.SparkSession,
      path: String,
      node: com.fasterxml.jackson.databind.JsonNode): IvfPqIndex = {
    IvfPqIndex(
      graft.sources.Sources.parquet(spark, s"$path/centroids"),
      graft.sources.Sources.parquet(spark, s"$path/codebooks"),
      graft.sources.Sources.parquet(spark,
        s"$path/${codesDirName(codesGenOf(node))}"),
      node.get("m").asInt(), node.get("nCodes").asInt(),
      node.get("cId").asText())
  }

  /** Per-cell fragmentation + storage health of a persisted index's codes
    * store — one recursive file listing, no data read. Every
    * [[appendIvfPqBatch]] adds up to one file per touched cell, and a
    * probe opens all of a probed cell's files: `maxFilesPerCell` is the
    * serving-latency driver [[maintainIvfPq]] folds back down.
    * Superseded counts exactly what [[vacuumIvfPq]] at the same
    * `keepPrior` would reclaim (shared floor arithmetic) — generations
    * inside the grace window are live readers' snapshots, not
    * reclaimable storage. */
  final case class IvfPqStats(codesGen: Int, files: Long, bytes: Long,
                              cells: Int, maxFilesPerCell: Int,
                              supersededGens: Int, supersededBytes: Long)

  def ivfPqStats(spark: org.apache.spark.sql.SparkSession,
                 path: String, keepPrior: Int = 1): IvfPqStats = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    val node = graft.sources.BucketedStore.readMeta(spark, path, "meta.json")
    val gen = codesGenOf(node)
    val cur = s"$path/${codesDirName(gen)}"
    var files = 0L; var bytes = 0L; var cells = 0; var maxPerCell = 0
    if (fs.exists(hp(cur))) fs.listStatus(hp(cur)).foreach { cell =>
      if (cell.isDirectory && cell.getPath.getName.startsWith("centroid_id=")) {
        cells += 1
        var n = 0
        fs.listStatus(cell.getPath).foreach { f =>
          if (f.isFile && f.getPath.getName.startsWith("part-")) {
            n += 1; files += 1; bytes += f.getLen
          }
        }
        maxPerCell = math.max(maxPerCell, n)
      }
    }
    var supGens = 0; var supBytes = 0L
    val floor = gen - keepPrior
    fs.listStatus(hp(path)).foreach { st =>
      val n = st.getPath.getName
      val isGenDir = st.isDirectory &&
        (n == "codes" || n.startsWith("codes_gen-"))
      val g = if (n == "codes") 0
              else if (n.startsWith("codes_gen-"))
                n.stripPrefix("codes_gen-").toInt
              else -1
      if (isGenDir && g != gen && (g < floor || g > gen)) {
        supGens += 1
        supBytes += fs.getContentSummary(st.getPath).getLength
      }
    }
    IvfPqStats(gen, files, bytes, cells, maxPerCell, supGens, supBytes)
  }

  /** Fold the codes store into a fresh generation with exactly ONE file
    * per cell — the periodic upkeep a streaming-appended serving index
    * needs (each batch appends up to one small file per touched cell;
    * unbounded file count is unbounded probe latency). One narrow
    * exchange of the CODES table only — the m-byte quantized rows, a few
    * percent of the raw vectors — never the corpus; centroids, codebooks
    * and the exactly-once lastBatch watermark are untouched. Same
    * generation-swap safety as BucketedStore.compact: served readers that
    * captured the old generation's listing keep reading it, the meta flip
    * is renew-fenced, a pre-flip crash leaves an invisible orphan for
    * [[vacuumIvfPq]]. */
  def compactIvfPq(spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit =
    graft.sources.WriterLease.withLease(spark, path, "compactIvfPq") {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val node = graft.sources.BucketedStore.readMeta(spark, path, "meta.json")
      val gen = codesGenOf(node)
      val cur = new org.apache.hadoop.fs.Path(s"$path/${codesDirName(gen)}")
      // an empty store (cold start) has nothing to fold
      if (fs.exists(cur) && fs.listStatus(cur)
          .exists(_.getPath.getName.startsWith("centroid_id="))) {
        val next = new org.apache.hadoop.fs.Path(s"$path/${codesDirName(gen + 1)}")
        if (fs.exists(next)) fs.delete(next, true) // crashed prior attempt
        // clusterByCell: each cell lands whole in one task, so the
        // partitioned write emits exactly one file per cell
        clusterByCell(spark.read.parquet(cur.toString))
          .write.mode("overwrite").partitionBy("centroid_id")
          .parquet(next.toString)
        graft.sources.WriterLease.renew(spark, path, "compactIvfPq")
        val obj = node.deepCopy[com.fasterxml.jackson.databind.JsonNode]()
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        obj.put("codesGen", gen + 1)
        graft.sources.BucketedStore.writeMeta(spark, path, "meta.json",
          obj.toString)
      }
    }

  /** Reclaim superseded codes generations past the `keepPrior` grace
    * window, plus orphans above the current generation (crashed pre-flip
    * compactions). Takes the writer lease; never touches the current
    * generation. */
  def vacuumIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                  keepPrior: Int = 1): Unit =
    graft.sources.WriterLease.withLease(spark, path, "vacuumIvfPq") {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val node = graft.sources.BucketedStore.readMeta(spark, path, "meta.json")
      val gen = codesGenOf(node)
      val floor = gen - keepPrior
      fs.listStatus(new org.apache.hadoop.fs.Path(path)).foreach { st =>
        val n = st.getPath.getName
        val g = if (st.isDirectory && n == "codes") 0
                else if (st.isDirectory && n.startsWith("codes_gen-"))
                  n.stripPrefix("codes_gen-").toInt
                else -1
        if (g >= 0 && g != gen && (g < floor || g > gen))
          fs.delete(st.getPath, true)
      }
    }

  /** Policy-driven upkeep for the serving index: fold when any cell's
    * file count exceeds `maxFilesPerCell`, then vacuum past the grace
    * window — the steady-state call after a run of streamed appends.
    * Cheap when healthy (one file listing). Returns whether it folded. */
  def maintainIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                    maxFilesPerCell: Int = 4, keepPrior: Int = 1): Boolean =
    graft.sources.WriterLease.withLease(spark, path, "maintainIvfPq") {
      val fold =
        ivfPqStats(spark, path, keepPrior).maxFilesPerCell > maxFilesPerCell
      if (fold) compactIvfPq(spark, path)
      vacuumIvfPq(spark, path, keepPrior)
      fold
    }

  def ivfPqKnn(queries: DataFrame, corpus: DataFrame, k: Int,
               nlist: Int = 16, nprobe: Int = 4, m: Int = 8, codes: Int = 16,
               overFetch: Int = 32, lloydIters: Int = 2,
               qId: String = "q_id", qVec: String = "q_vec",
               cId: String = "vec_id", cVec: String = "embedding",
               trainFraction: Double = 1.0): DataFrame = {
    val index = ivfPqBuild(corpus, nlist, m, codes, lloydIters, cId, cVec,
      trainFraction)
    ivfPqSearch(queries, index, corpus, k, nprobe, overFetch,
      qId, qVec, cVec)
  }

  /** Search an IVF-PQ index. `corpus` supplies the raw vectors for the
    * exact rescore of the surviving candidates (at scale: the same
    * parquet the index was built from — only overFetch·k rows per query
    * are fetched from it). */
  def ivfPqSearch(queries: DataFrame, index: IvfPqIndex, corpus: DataFrame,
                  k: Int, nprobe: Int = 4, overFetch: Int = 32,
                  qId: String = "q_id", qVec: String = "q_vec",
                  cVec: String = "embedding"): DataFrame = {
    val centroids = index.centroids
    val cb = index.codebooks
    val enc = index.codes
    val m = index.m
    val cId = index.cId
    // per-query probes keep the RAW dot(q, centroid): it is the exact
    // centroid term of the ADC sum, not just a ranking key
    val probePack = struct((-col("qcdist")).as("nd"),
      struct(col("centroid_id"), col("qcdot")).as("c"))
    val probed = queries.select(col(qId), col(qVec), norm(col(qVec)).as("__qn"))
      .crossJoin(broadcast(centroids))
      .withColumn("qcdot", dot(col(qVec), col("centroid")))
      .withColumn("qcdist", cosinePre(col("qcdot"), col("__qn"), col("__kn")))
      .groupBy(col(qId))
      .agg(first(col("__qn")).as("__qn"),
        slice(sort_array(collect_list(probePack)), 1, nprobe).as("probes"))
      .select(col(qId), col("__qn"), explode(col("probes")).as("p"))
      .select(col(qId), col("__qn"),
        col("p.c.centroid_id").as("centroid_id"), col("p.c.qcdot").as("qcdot"))
    // per-query LUT over the residual codebook: m·codes entries, broadcast
    val subDim = size(col(qVec)) / m
    val lut = queries.select(col(qId),
        explode(sequence(lit(0), lit(m - 1))).as("sub_id"), col(qVec))
      .select(col(qId), col("sub_id"),
        slice(col(qVec), col("sub_id") * subDim + 1, subDim).as("qsub"))
      .join(broadcast(cb), Seq("sub_id"))
      .select(col(qId), col("sub_id"), col("code"),
        dot(col("qsub"), col("centroid")).as("lutdot"))
    // per-query flattened LUT (ordered by sub_id, code): ADC becomes an
    // IN-ROW array-lookup sum over the m-byte codes — no explode, no
    // re-aggregation shuffle, fixed summation order = deterministic
    val lutArr = lut.groupBy(col(qId)).agg(lutFlat.as("__lut"))
    // ADC over probed cells only: the join on centroid_id bounds the scan.
    // probed and lutArr broadcast SEPARATELY — pre-joining them would ship
    // nprobe copies of every query's m·nCodes LUT in one broadcast
    val approx = enc.join(broadcast(probed), Seq("centroid_id"))
      .join(broadcast(lutArr), Seq(qId))
      .select(col(qId), col(cId),
        cosinePre(col("qcdot") + adcSum(index.nCodes),
          col("__qn"), col("__ocn")).as("cosine"))
    // candidate-level dedup BEFORE the ADC top-k: a clean index makes
    // this a no-op (one code row per vector), but an index holding
    // duplicate code rows for an id — the [[appendIvfPqBatch]]
    // insert-done/meta-not crash window — must not let duplicates occupy
    // slots inside the k·overFetch cut (each duplicated id would halve
    // its effective overFetch and evict distinct candidates). Duplicate
    // rows carry the SAME code bytes, hence the same ADC cosine, so
    // dropping them here is exact — replayed appends are fully invisible
    val cand = topK(approx.dropDuplicates(qId, cId), k * overFetch, qId, cId)
      .select(col(qId), col(cId))
    // exact rescore of the surviving candidates
    val c = Dedup.widen(corpus).select(col(cId), col(cVec), norm(col(cVec)).as("__cn"))
    val q = queries.select(col(qId), col(qVec), norm(col(qVec)).as("__qn"))
    val rescored = cand
      .join(c, cId)
      .join(broadcast(q), qId)
      .select(col(qId), col(cId),
        round(cosinePre(dot(col(qVec), col(cVec)), col("__qn"), col("__cn")), 6)
          .as("cosine"))
    topK(rescored, k, qId, cId)
  }

  /** Quantized kNN with exact rescoring: score the whole corpus with the
    * int8 approximate dot (cheap pass over the SMALL representation), keep
    * `overFetch`·k candidates per query, then rescore ONLY those with the
    * exact float dot and keep the true top-k of the candidate set. Same
    * two-phase top-k as everywhere else — no windows, map-side partial
    * aggregation both phases. Recall < 1 only when quantization error
    * reorders a true top-k neighbour out of the top overFetch·k — rare,
    * and the overFetch knob buys it back. */
  def quantizedKnn(queries: DataFrame, corpus: DataFrame, k: Int,
                   overFetch: Int = 4,
                   qId: String = "q_id", qVec: String = "q_vec",
                   cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val c = Dedup.widen(corpus)
      .select(col(cId), col(cVec),
        quantizeI8(col(cVec)).as("__cq"), norm(col(cVec)).as("__cn"))
    val q = queries.select(col(qId), col(qVec),
      quantizeI8(col(qVec)).as("__qq"), norm(col(qVec)).as("__qn"))
    // phase A: approximate candidates from the quantized representation —
    // ranked by approximate COSINE (normalized by the true float norms,
    // precomputed once per vector) so the candidate order matches the
    // exact metric it stands in for
    val approx = c.select(col(cId), col("__cq"), col("__cn"))
      .crossJoin(broadcast(q.select(col(qId), col("__qq"), col("__qn"))))
      .select(col(qId), col(cId),
        cosinePre(dotI8(col("__qq"), col("__cq")), col("__qn"), col("__cn"))
          .as("cosine"))
    val cand = topK(approx, k * overFetch, qId, cId).select(col(qId), col(cId))
    // phase B: exact rescore of the few surviving candidates
    val rescored = cand
      .join(c.select(col(cId), col(cVec), norm(col(cVec)).as("__cn")), cId)
      .join(broadcast(q.select(col(qId), col(qVec), col("__qn"))), qId)
      .select(col(qId), col(cId),
        round(cosinePre(dot(col(qVec), col(cVec)), col("__qn"), col("__cn")), 6)
          .as("cosine"))
    topK(rescored, k, qId, cId)
  }
}
