package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Bpe, Cluster, Coreset, Dedup, Sampling, Similarity, TextAnalysis}

/** One-off scale check for the dedup family (VERDICT r3 task 8): replicate
  * the sf0.1 corpus N× with shifted ids (a LOAD multiplier — correctness
  * stays gated on the real driver data) and confirm the hot-bucket salting
  * and banding costs amortize: per-row cost must not grow with corpus
  * size. Prints one JSON line per operator with total seconds at 1× and N×.
  */
object BenchScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = args.headOption.map(_.toInt).getOrElse(4)
    val spark = Spark.local()

    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
    // same producer-drift guard as the gated queries
    val emb1 = graft.sources.Sources.embeddingToFloat(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
    val maxDoc = docs1.agg(max("doc_id")).head.getLong(0) + 1
    val maxVec = emb1.agg(max("vec_id")).head.getLong(0) + 1
    def scaleDocs(n: Int): DataFrame =
      (0 until n).map(i => docs1.withColumn("doc_id", col("doc_id") + lit(i * maxDoc)))
        .reduce(_ unionByName _)
    def scaleEmb(n: Int): DataFrame =
      (0 until n).map(i => emb1.withColumn("vec_id", col("vec_id") + lit(i * maxVec)))
        .reduce(_ unionByName _)

    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); val n = f; val s = (System.nanoTime() - t0) / 1e9
      require(n >= 0); s
    }
    // optional comma-separated op filter (iteration aid): run only these
    val only: Set[String] = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    def run(name: String, at1: => Long, atN: => Long): Unit = {
      if (only.nonEmpty && !only(name)) return
      val s1 = time(at1); val sN = time(atN)
      // per_row: cost per input row at N× relative to 1× — the amortization
      // gate (≤ ~1.3 means banding/salting absorbed the extra load; >> 1
      // means some bucket or buffer densified superlinearly)
      println(s"""{"op":"$name","sec_1x":${f"$s1%.2f"},"sec_${mult}x":${f"$sN%.2f"},"ratio":${f"${sN / s1}%.2f"},"per_row":${f"${sN / (mult * s1)}%.2f"},"mult":$mult}""")
    }

    def docsFiltered(df: DataFrame) = df.where(length(col("text")) >= 5)
    run("dedup_minhash",
      Dedup.minhashPairs(docsFiltered(docs1), threshold = 0.5).count(),
      Dedup.minhashPairs(docsFiltered(scaleDocs(mult)), threshold = 0.5).count())
    run("dedup_simhash",
      Dedup.simhashPairs(docs1, maxDist = 3).count(),
      Dedup.simhashPairs(scaleDocs(mult), maxDist = 3).count())
    run("dedup_ngram",
      Dedup.ngramJaccardPairs(docs1).count(),
      Dedup.ngramJaccardPairs(scaleDocs(mult)).count())
    run("dedup_embed",
      Dedup.embeddingPairs(emb1).count(),
      Dedup.embeddingPairs(scaleEmb(mult)).count())
    def cluster(df: DataFrame): Long =
      Cluster.assign(Dedup.minhashPairs(docsFiltered(df), threshold = 0.5)
        .select("id_a", "id_b")).count()
    run("dedup_cluster", cluster(docs1), cluster(scaleDocs(mult)))
    run("tfidf",
      TextAnalysis.tfidf(docs1).count(),
      TextAnalysis.tfidf(scaleDocs(mult)).count())
    run("sample_strat",
      Sampling.stratifiedHashSample(docs1, col("source"), col("doc_id"),
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)).count(),
      Sampling.stratifiedHashSample(scaleDocs(mult), col("source"), col("doc_id"),
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)).count())
    run("semdedup",
      Dedup.semanticDedup(emb1).count(),
      Dedup.semanticDedup(scaleEmb(mult)).count())
    run("pack",
      graft.pipeline.Pack.packGreedy(docs1, budget = 256, buckets = 64).count(),
      graft.pipeline.Pack.packGreedy(scaleDocs(mult), budget = 256, buckets = 64).count())
    // eval suite FIXED while the corpus scales (benchmarks don't grow with
    // training data) — measures the doc-side cost, which is the 100 TB axis
    val evalFixed = graft.pipeline.Decontaminate.evalSnippets(docs1).localCheckpoint()
    def fuzzy(df: DataFrame): Long =
      graft.pipeline.Decontaminate.fuzzyContaminated(df, evalFixed).count()
    run("decontam_fuzzy", fuzzy(docs1), fuzzy(scaleDocs(mult)))
    run("lm_score",
      TextAnalysis.lmScore(docs1).count(),
      TextAnalysis.lmScore(scaleDocs(mult)).count())
    // N-fold replication makes every window a cross-doc duplicate — the
    // worst-case load for the fp-grouped count (maximal dup set)
    run("dup_spans",
      Dedup.dupSpanReport(docs1).count(),
      Dedup.dupSpanReport(scaleDocs(mult)).count())
    def band(df: DataFrame): Long = {
      val (lo, hi) = graft.pipeline.Profile.quantileBand(df, "n_chars", 0.05, 0.95)
      df.where(col("n_chars").between(lo, hi)).count()
    }
    run("length_band", band(docs1), band(scaleDocs(mult)))
    def pq(df: DataFrame): Long = {
      val q = df.orderBy("vec_id").limit(5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.pqKnn(q, df, k = 10).count()
    }
    run("knn_pq", pq(emb1), pq(scaleEmb(mult)))
    def ivfpq(df: DataFrame): Long = {
      val q = df.orderBy("vec_id").limit(5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.ivfPqKnn(q, df, k = 10).count()
    }
    run("knn_ivfpq", ivfpq(emb1), ivfpq(scaleEmb(mult)))
    // serving-index upkeep: save, fragment the cell store with three
    // batch appends (one small file per touched cell each — the streaming
    // ingest shape), then maintainIvfPq folds to one file per cell and
    // vacuums. Cost is the read+rewrite of the m-byte CODES only (one
    // narrow exchange), so the honest expectation is sublinear in corpus.
    def ivfpqDir(tag: String) = s"/tmp/graft_scale_ivfpq_$tag"
    def ivfpqFragment(df: DataFrame, tag: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(ivfpqDir(tag))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val idx = Similarity.ivfPqBuild(df, nlist = 16, trainFraction = 0.25)
      Similarity.saveIvfPq(idx, p.toString)
      import graft.rel.Checkpoint.PinOps
      idx.centroids.unpinAll(); idx.codebooks.unpinAll(); idx.codes.unpinAll()
      val delta = df.limit(2000)
      (0 until 3).foreach(i => Similarity.appendIvfPqBatch(spark, p.toString,
        delta.withColumn("vec_id", col("vec_id") + lit((i + 1) * 100000000L)),
        batchId = i.toLong))
    }
    def ivfpqMaintain(tag: String): Long = {
      require(Similarity.maintainIvfPq(spark, ivfpqDir(tag),
        maxFilesPerCell = 1, keepPrior = 0), s"maintain($tag) skipped the fold")
      1L
    }
    if (only.isEmpty || only("knn_serve_maintain")) {
      ivfpqFragment(emb1, "1x"); ivfpqFragment(scaleEmb(mult), "nx")
    }
    run("knn_serve_maintain", ivfpqMaintain("1x"), ivfpqMaintain("nx"))
    // image near-dup: one PNG rendered per doc from its text bytes, so the
    // N× corpus plants N identical images per original — MAXIMAL dup
    // density, the worst-case load for the dHash pigeonhole blocking
    // (quadratic TRUE pair growth, like the ngram row above)
    val imgSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("img",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    def renderImgs(df: DataFrame): DataFrame = {
      val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
        org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(imgSchema))
      df.select(col("doc_id"), substring(col("text"), 1, 256).as("t"))
        .mapPartitions { it =>
          it.map { r =>
            val bytes = r.getString(1).getBytes("UTF-8")
            val img = new java.awt.image.BufferedImage(32, 32,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var i = 0
            while (i < 32 * 32) {
              val l = if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xff
              img.setRGB(i % 32, i / 32, (l << 16) | (l << 8) | l)
              i += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            org.apache.spark.sql.Row(r.getLong(0), bos.toByteArray)
          }
        }(enc)
    }
    def imgDedup(df: DataFrame): Long = {
      val assets = graft.pipeline.Multimodal.toAssets(
        renderImgs(df), "doc_id", "img", "image", "bench")
      graft.pipeline.Multimodal.imageNearDup(assets, maxDist = 4).count()
    }
    run("image_dedup", imgDedup(docs1), imgDedup(scaleDocs(mult)))
    // content-defined chunk dedup: replication makes every chunk an N-way
    // duplicate — maximal owner-election load; the min() combines map-side
    run("cdc_dedup",
      graft.pipeline.Dedup.cdcDedup(docs1).count(),
      graft.pipeline.Dedup.cdcDedup(scaleDocs(mult)).count())
    // incremental CDC probe with a FIXED delta against a growing history:
    // at scale the question is whether ingest cost tracks the DELTA, not
    // the corpus — ratio ≈ mult here would mean history leaks into the
    // probe; the distinct-hash index keeps it near-flat (the N× history
    // holds the same distinct chunks, so even the index side stays put)
    val delta = docs1.limit(500).localCheckpoint()
    def probe(history: DataFrame): Long = {
      val idx = graft.streaming.DocStream.buildChunkIndex(history)
      graft.streaming.DocStream.chunkDupFraction(delta, idx).count()
    }
    run("incr_cdc_probe", probe(docs1), probe(scaleDocs(mult)))
    // BPE training: replication multiplies WEIGHTS, not the vocabulary —
    // the Heaps'-law collapse means every merge round sees IDENTICAL work
    // and only the single corpus word-count pass scales with load, so
    // per_row must drop far below 1
    def bpe(df: DataFrame): Long =
      Bpe.train(Bpe.wordVocab(df, col("text")), nMerges = 6)._1.size.toLong
    run("bpe_train", bpe(docs1), bpe(scaleDocs(mult)))
    // k-center: k narrow running-min passes + k distributed top-1s —
    // strictly linear in rows, no pairwise anything
    def kcenter(df: DataFrame): Long =
      Coreset.kCenter(df, "vec_id", "embedding", k = 8)._1.size.toLong
    run("kcenter", kcenter(emb1), kcenter(scaleEmb(mult)))
    // Z-order write arrangement: the narrow key map + ONE range exchange +
    // partition-local sort, measured through a real parquet write
    def zwrite(df: DataFrame, path: String): Long = {
      graft.sources.Layout.zorderArrange(df,
        least(floor(length(col("text")) / 64).cast("long"), lit(255L)),
        least(col("n_chars"), lit(4095L)), bits = 12, numFiles = 32)
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path).count()
    }
    run("zorder_write", zwrite(docs1, "/tmp/graft_zw1"),
      zwrite(scaleDocs(mult), "/tmp/graft_zwN"))
    // adaptive quality floor: histogram aggregate (distinct-value
    // cardinality) + broadcast threshold join — replication densifies the
    // histogram counts without growing it
    def floor40(df: DataFrame): Long =
      Sampling.adaptiveFloor(
        df.select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("q")),
        col("source"), col("q"), 40, 100).count()
    run("quality_floor", floor40(docs1), floor40(scaleDocs(mult)))
    // HTML extraction: pure narrow regexp map + explode — strictly linear
    def html(df: DataFrame): Long =
      TextAnalysis.htmlMainText(
        df.select(col("doc_id"),
          concat(lit("<body><h1>T</h1><p>"), col("text"),
            lit("</p><ul><li><a href=\"/x\">nav</a></li></ul></body>"))
            .as("h")), col("h")).count()
    run("html_extract", html(docs1), html(scaleDocs(mult)))
    // full PII scrub: one codegen'd regexp chain over the scan
    run("scrub_pii",
      docs1.select(TextAnalysis.scrubAll(col("text"))).count(),
      scaleDocs(mult).select(TextAnalysis.scrubAll(col("text"))).count())
    // PSI drift: bucket-cardinality aggregates only — replication
    // densifies counts without growing the aggregate
    def drift(df: DataFrame): Long =
      graft.pipeline.Profile.driftReport(df,
        df.where(col("doc_id") % 3 =!= 0), Seq(
          "len" -> least(floor(length(col("text")) / 200).cast("long"), lit(9L)),
          "lang" -> col("lang"), "source" -> col("source"))).count()
    run("drift_report", drift(docs1), drift(scaleDocs(mult)))
    // PageRank: N disjoint copies of the trade graph (prefixed node ids)
    // — 16x nodes AND edges through the same k iterations; per-iteration
    // work is one join + one aggregation, so per-row must stay flat
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("s"),
        concat(lit("c"), col("o_custkey")).as("c"))
    def prEdges(n: Int): DataFrame =
      (0 until n).map(i => pairs.select(
        concat(lit(i + "_"), col("s")).as("src"),
        concat(lit(i + "_"), col("c")).as("dst")))
        .reduce(_ unionByName _)
    def pr(e: DataFrame): Long =
      graft.rel.Graph.pageRank(
        e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))),
        iters = 3).count()
    run("pagerank", pr(prEdges(1)), pr(prEdges(mult)))
    // PageRank SHUFFLED-FALLBACK regime (r19): broadcastBytes=1 forces the
    // 100 TB regime — edge and node layouts re-homed into bucketed scratch
    // tables, per-iteration joins Exchange-free and Sort-free on those
    // sides, only the node-sized rank vector moving. N disjoint copies of
    // the same graph through the same 3 iterations: per-row must stay flat
    // (the one-time bucketing write is linear; per-iteration work is one
    // node-sized exchange + one narrow aggregation).
    def prFb(e: DataFrame): Long = {
      spark.conf.set("spark.graft.graph.broadcastBytes", "1")
      try pr(e)
      finally spark.conf.unset("spark.graft.graph.broadcastBytes")
    }
    run("pagerank_fallback", prFb(prEdges(1)), prFb(prEdges(mult)))
    // connected components, DISTRIBUTED tier (r19): pointer-doubling
    // min-label loop over the per-user event successor chains (path
    // graphs — maximal diameter), driverEdgeCap=0 keeps the driver
    // union-find shortcut out. Replication adds DISJOINT chains (shifted
    // event and user ids): same number of doubling rounds, N× the edge
    // layout — per-round work is one co-located bucketed join + label
    // aggregates, so per-row must stay flat.
    val ev1 = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"))
    val maxEv = ev1.agg(max("event_id")).head.getLong(0) + 1
    val maxUser = ev1.agg(max("user_id")).head.getLong(0) + 1
    def scaleEv(n: Int): DataFrame =
      (0 until n).map(i => ev1.select(
        (col("event_id") + lit(i * maxEv)).as("event_id"),
        (col("user_id") + lit(i * maxUser)).as("user_id")))
        .reduce(_ unionByName _)
    def ccDist(ev: DataFrame): Long = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      val pairs = ev.withColumn("dst", lead(col("event_id"), 1).over(w))
        .where(col("dst") > col("event_id"))
        .select(col("event_id"), col("dst"))
      Cluster.connectedComponents(pairs, "event_id", "dst",
        driverEdgeCap = 0).count()
    }
    run("cc_dist", ccDist(scaleEv(1)), ccDist(scaleEv(mult)))
    // span removal: replication makes EVERY window a cross-doc duplicate,
    // so the drop-position explode (the ×spanTokens stage that normally
    // touches only the dup mass) sees its absolute worst case — the whole
    // corpus is dup mass; owner election itself stays map-side combinable
    run("span_rebuild",
      Dedup.spanRebuild(docs1).count(),
      Dedup.spanRebuild(scaleDocs(mult)).count())
    // BM25 with a FIXED probe set against a growing corpus (queries don't
    // grow with training data): the broadcast query-term filter must keep
    // scoring candidate-sized — only tf building scales with rows
    val probes = spark.range(1).select(lit(1L).as("query_id"),
        lit("spark hash join").as("qtext"))
      .unionByName(spark.range(1).select(lit(2L).as("query_id"),
        lit("window agg stream").as("qtext")))
    run("bm25",
      graft.pipeline.Retrieval.bm25(docs1, probes, k = 10).count(),
      graft.pipeline.Retrieval.bm25(scaleDocs(mult), probes, k = 10).count())
    // KN scoring: same two-table-join shape as lm_score; replication
    // multiplies counts, not the vocabulary, so the model tables are fixed
    run("kn_score",
      TextAnalysis.knScore(docs1).count(),
      TextAnalysis.knScore(scaleDocs(mult)).count())
    // DSIR with a FIXED target against a growing raw corpus: both bucket
    // models are ≤ B rows regardless of load; only the gram explode and
    // the (doc, bucket) count scale
    val dsirTarget = docs1.where(col("lang") === "fr").localCheckpoint()
    run("dsir",
      graft.pipeline.Selection.dsirWeights(docs1, dsirTarget).count(),
      graft.pipeline.Selection.dsirWeights(scaleDocs(mult), dsirTarget).count())
    // classifier training, FIXED 3 iterations: per iteration one gradient
    // aggregation + one loss pass over the feature frame — the model and
    // job count are load-invariant, only the scanned rows grow
    def clf(df: DataFrame): Long =
      graft.pipeline.Classifier.trainLogistic(df,
        col("text").contains("spark"), iters = 3)._2.size.toLong
    run("clf_train", clf(docs1), clf(scaleDocs(mult)))
    // PR curve: every (threshold × counter) in ONE aggregate over one scan
    def prc(df: DataFrame): Long =
      graft.pipeline.Profile.prCurve(df,
        least(col("n_chars").cast("double") / 500.0, lit(1.0)),
        col("text").contains("spark"), Seq(0.2, 0.4, 0.6, 0.8)).count()
    run("pr_curve", prc(docs1), prc(scaleDocs(mult)))
    // doc embeddings: one ±1 sign VECTOR per gram + dims map-side sum
    // slots — the shuffle carries dims-wide partials, never grams×dims
    // rows; strictly linear, no pairwise stage anywhere
    run("doc_embed",
      graft.pipeline.Embed.docEmbed(docs1).count(),
      graft.pipeline.Embed.docEmbed(scaleDocs(mult)).count())
    // the wide-vector shape where the old exploded formulation would
    // shuffle 64× the gram stream — per_row must hold at dims=64 too
    run("doc_embed_d64",
      graft.pipeline.Embed.docEmbed(docs1, dims = 64).count(),
      graft.pipeline.Embed.docEmbed(scaleDocs(mult), dims = 64).count())
    // streaming-uniqueness monitor, batch face: the per-ingest cost is ONE
    // aggregate (counters + an HLL state) over the batch — load multiplies
    // the scanned rows, the driver state stays 2 longs + one sketch
    def uniqMon(df: DataFrame): Long = {
      import graft.pipeline.Contract._
      val mon = new graft.streaming.ContractStream.Monitor(
        Seq(Unique(Seq("doc_id")), NotNull("text")))
      mon.ingest(df)
      mon.report().size.toLong
    }
    run("stream_uniq_ingest", uniqMon(docs1), uniqMon(scaleDocs(mult)))
    // co-bucketed relvar join: the write pays the one-time shuffle, the
    // join+agg replays Exchange-free — per-row cost must stay flat as the
    // bucketed tables grow
    def bktJoin(df: DataFrame, tag: String): Long = {
      val cat = new graft.catalog.Catalog(spark)
      val docs = df.select(col("doc_id"), col("source"), col("n_chars"))
      cat.defineBucketed(s"sc_docs_$tag", graft.rel.Rel.distinct(docs),
        Seq("doc_id"), 8)
      cat.defineBucketed(s"sc_meta_$tag", graft.rel.Rel.distinct(
        docs.select(col("doc_id"), col("n_chars").as("len"))), Seq("doc_id"), 8)
      val a = cat.relvar(s"sc_docs_$tag").df
      val b = cat.relvar(s"sc_meta_$tag").df
      val n = a.hint("merge").join(b, "doc_id").groupBy("source")
        .agg(sum("len")).count()
      cat.close() // result materialized — drop this run's physical tables
      n
    }
    run("bucketed_join", bktJoin(docs1, "1x"), bktJoin(scaleDocs(mult), "nx"))
    // persisted near-dup index: the SAVE pays the one-time bucketed write
    // (linear in history, like any ingest); PROBING a fixed delta against
    // the stored layout is a co-located scan of the band index — linear in
    // history, zero shuffle on the history side, and never a superlinear
    // candidate blow-up (per_row must stay ≤ ~1)
    val ndiDelta = docsFiltered(docs1).limit(300).localCheckpoint()
    def ndiDir(tag: String) = s"/tmp/graft_scale_ndi_$tag"
    def ndiSave(df: DataFrame, tag: String): Long = {
      val p = new org.apache.hadoop.fs.Path(ndiDir(tag))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val idx = graft.streaming.DocStream.buildIndex(docsFiltered(df))
      graft.streaming.DocStream.saveIndex(idx, ndiDir(tag), buckets = 8)
      import graft.rel.Checkpoint.PinOps
      idx.bandIndex.unpin(); idx.grams.unpinAll()
      1L
    }
    def ndiProbe(tag: String): Long =
      graft.streaming.DocStream.matchAgainst(ndiDelta,
        graft.streaming.DocStream.loadIndex(spark, ndiDir(tag))).count()
    run("index_persist_save", ndiSave(docs1, "1x"), ndiSave(scaleDocs(mult), "nx"))
    run("index_persist_probe", ndiProbe("1x"), ndiProbe("nx"))
    // generation compaction: fragment each layout with a few delta appends
    // (the shape that motivates compaction — file COUNT, not volume), then
    // fold + vacuum. The fold is a PER-BUCKET FILE MERGE (bucketed scan →
    // bucketed write, zero exchange), so the cost is the parquet
    // read+rewrite of the generation with NO shuffle — measured 1.88× at
    // 16× history (per_row 0.12); the pre-merge repartition-based fold
    // re-paid the bucketing shuffle of the whole history every compaction.
    def ndiFragment(tag: String): Unit = (1 to 3).foreach { i =>
      graft.streaming.DocStream.appendIndex(spark, ndiDir(tag),
        ndiDelta.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
    }
    def ndiCompact(tag: String): Long = {
      graft.streaming.DocStream.compactIndex(spark, ndiDir(tag))
      graft.streaming.DocStream.vacuumIndex(spark, ndiDir(tag), keepPrior = 0)
      1L
    }
    if (only.isEmpty || only("index_compact_vacuum")) {
      ndiFragment("1x"); ndiFragment("nx")
    }
    run("index_compact_vacuum", ndiCompact("1x"), ndiCompact("nx"))
    // Catalog layout-mutation chain under retention (round 17): six
    // generation-swapped rewrites (alternating predicate delete and
    // in-place update) on a bucketed relvar with keepVersions=2. Each
    // rewrite reads only the CURRENT generation through a pinned bucketed
    // scan (deletes exchange nothing; updates pay only the set-semantics
    // dedup), and the per-mutation retention vacuum holds the on-disk
    // generation count at the window regardless of chain length — so the
    // chain's cost tracks data volume (per_row ~1), never mutation-count ×
    // corpus, and disk stays O(window · relvar) instead of O(chain).
    def catChain(df: DataFrame): Long = {
      spark.conf.set("spark.graft.catalog.keepVersions", "2")
      val cat = new graft.catalog.Catalog(spark)
      try {
        cat.defineBucketed("mchain", graft.rel.Rel.distinct(
          df.select("doc_id", "source", "n_chars")), Seq("doc_id"), 32)
        (0 until 3).foreach { i =>
          cat.deleteWhere("mchain", col("doc_id") % 97 === i)
          cat.updateWhere("mchain", col("n_chars") > 500 + i,
            "n_chars" -> (col("n_chars") + 1))
        }
        cat.relvar("mchain").count()
      } finally {
        cat.close(); spark.conf.unset("spark.graft.catalog.keepVersions")
      }
    }
    run("catalog_mutation_chain", catChain(docs1), catChain(scaleDocs(mult)))
    // deliberately hot-keyed join (~20% of rows on ONE key, incompressible
    // text payload) under AQE skew handling: the skew split carves the hot
    // partition into parallel pieces, so per-row cost must stay flat as
    // the corpus grows instead of serializing on the one hot reducer.
    // Thresholds lowered to the test corpus's sizes — production data
    // crosses the defaults on its own.
    def skewJoin(df: DataFrame): Long = {
      val li = df.select(when(col("doc_id") % 5 === 0, lit(1L))
          .otherwise(col("doc_id")).as("k"), col("text"))
      val dim = df.select(col("doc_id").as("k"), col("n_chars"))
      li.hint("merge").join(dim, "k")
        .select(col("k"), length(col("text")) + col("n_chars")).count()
    }
    val skewConfs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128k")
    skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    run("skew_join", skewJoin(docs1), skewJoin(scaleDocs(mult)))
    skewConfs.foreach { case (k, _) => spark.conf.unset(k) }
    spark.stop()
  }
}
