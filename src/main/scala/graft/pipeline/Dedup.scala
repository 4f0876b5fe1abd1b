package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.rel.Checkpoint.PinOps

/** Deduplication family for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every variant is shuffle-bounded by GROUP BY / JOIN on a
  * compact key (hash, band signature, bit-prefix bucket) — never an
  * all-pairs comparison. Candidate generation is blocked (LSH bands /
  * hamming prefixes / norm buckets) so the quadratic verify step only runs
  * within buckets, which stay small under any reasonable similarity
  * threshold. All expression work is `functions._` (codegen'd); the only
  * shuffles are the ones the algorithm inherently needs.
  */
object Dedup {

  /** Widen the partitioning of a CPU-heavy per-row stage when the input has
    * fewer splits than cores. A small parquet file arrives as ONE partition
    * and serializes the whole shingle/signature build onto one task; the
    * repartition shuffle (raw text) costs far less than the lost
    * parallelism. At real scale the input has ≥ cores splits already and
    * this is a no-op — no shuffle is added. */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Exact dedup: keep the lowest-id row per normalized-text fingerprint.
    * One hash-shuffle; at 100 TB this is a plain groupBy on a 128-bit key.
    * No widen(): the single aggregation IS the whole query — a pre-shuffle
    * of raw text to gain map-side parallelism costs more than the md5 it
    * parallelizes (the round-2 bench regression). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Deterministic MinHash signature over PRE-HASHED shingles (array of
    * 64-bit longs): k permutations h_i(x) = (a_i*x + b_i) mod p (public
    * construction, Broder '97). Coefficients come from a fixed seed so
    * results are reproducible across runs and engines. */
  def minhashSignature(hashedShingles: Column, numHashes: Int = 64, seed: Long = 42L): Column =
    graft.functions.MinHashSig(hashedShingles, numHashes, seed)

  /** Banded-LSH candidate pairs with an in-join signature-estimate filter.
    *
    * The signature df MUST be materialized (the callers localCheckpoint it):
    * it feeds both join sides, and as a live expression it would be
    * recomputed — shingle build included — once per branch.
    *
    * Pipeline: explode each signature into (band, bandHash) keys → self-join
    * on the band key (rows are id + 64-long signature, no gram payloads) →
    * estimate Jaccard as the signature agreement fraction and drop pairs
    * below threshold−margin BEFORE deduplicating. On a self-similar corpus
    * banding alone passes orders of magnitude more candidates than true
    * pairs; the estimate is O(numHashes) per collision and kills the
    * background, so the dropDuplicates shuffle and the exact verify only
    * see survivors. margin 0.15 ≈ 2.6σ of the estimator at s=0.7: false
    * negatives ≲1% right AT the threshold, negligible above. */
  /** Hot-bucket hardening for the LSH self-joins: count bucket populations
    * (map-side-combinable; only OVERSIZED buckets survive the filter, so
    * the result is tiny and broadcasts) and grid-salt buckets above `cap`
    * into g = ceil(n/cap) groups. Each row's group is gx = hash(id) mod g;
    * the probe leg keys on (__i = own gx, __j = 0..g-1 exploded), the
    * build leg on (__i = 0..g-1 exploded, __j = own gx) — every pair
    * still meets EXACTLY once, at (gx_a, gx_b), but no reducer handles
    * more than ~cap² candidate pairs, so a degenerate self-similar corpus
    * (one giant bucket) spreads over g² tasks instead of dying in one.
    * Normal buckets get g = 1 → zero inflation. AQE's skew-split only
    * repartitions sort-merge joins after the fact; this bounds the key
    * itself, for any join strategy. */
  private def oversizedBuckets(built: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    built.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > cap)
      .select(keys.map(col) :+
        ceil(col("__bn").cast("double") / cap).cast("int").as("__g"): _*)

  private def withResplit(df: DataFrame, big: DataFrame, keys: Seq[String]): DataFrame =
    df.join(broadcast(big), keys, "left")
      .withColumn("__g", coalesce(col("__g"), lit(1)))

  private def saltOwn(idCol: Column): Column =
    pmod(xxhash64(idCol), col("__g").cast("long")).cast("int")

  private def saltAll: Column = explode(sequence(lit(0), col("__g") - 1))

  private def bandedCandidateIds(sig: DataFrame, bands: Int, rows: Int,
                                 numHashes: Int, threshold: Double,
                                 margin: Double = 0.15,
                                 bucketCap: Int = 2048): DataFrame = {
    val banded = sig.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * lit(rows) + 1, lit(rows)), b)))
        .as(Seq("band", "bh")))
    val keys = Seq("band", "bh")
    val split = withResplit(banded, oversizedBuckets(banded, keys, bucketCap), keys)
    val a = split.select(col("band"), col("bh"), col("id").as("id_a"),
      col("sig").as("sig_a"), saltOwn(col("id")).as("__i"), saltAll.as("__j"))
    val b = split.select(col("band"), col("bh"), col("id").as("id_b"),
      col("sig").as("sig_b"), saltAll.as("__i"), saltOwn(col("id")).as("__j"))
    // sig_agree (r19): the fused codegen'd agreement count replaces the
    // two interpreted HOF passes per banding collision (same int, same
    // cast/divide — PipelineSpec pins the differential)
    a.join(b, Seq("band", "bh", "__i", "__j")).filter(col("id_a") < col("id_b"))
      .filter((graft.functions.SigAgree(col("sig_a"), col("sig_b"))
        .cast("double") / numHashes) >= threshold - margin)
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
  }

  /** Exact-Jaccard verification of (estimate-filtered) candidate pairs:
    * join the gram arrays back once per side. */
  private def verifyJaccard(cands: DataFrame, grams: DataFrame,
                            threshold: Double): DataFrame = {
    val ga = grams.select(col("id").as("id_a"), col("g").as("g_a"))
    val gb = grams.select(col("id").as("id_b"), col("g").as("g_b"))
    cands.join(ga, "id_a").join(gb, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("g_a"), col("g_b"))).cast("double") /
         size(array_union(col("g_a"), col("g_b"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash LSH near-dup pairs: band the signature, generate deduplicated
    * candidate id pairs, then verify each ONCE with the true shingle
    * Jaccard. `bands` × `rowsPerBand` = signature length;
    * P(candidate) = 1-(1-s^r)^b — 16 bands × 4 rows targets s ≈ 0.5+.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.
    */
  def minhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5,
                   shingleK: Int = 3, margin: Double = 0.15,
                   bucketCap: Int = 2048): DataFrame = {
    val rows = numHashes / bands
    // grams and signatures feed multiple plan branches (band join sides,
    // verify sides) — materialize each ONCE; as live expressions they would
    // be recomputed per branch. Linear in corpus size, local to executors.
    val grams = widen(docs)
      .select(col(idCol).as("id"), TextAnalysis.hashedShingles(col(textCol), shingleK).as("g"))
      .filter(size(col("g")) > 0)
      .pin()
    val sig = grams.select(col("id"), minhashSignature(col("g"), numHashes).as("sig"))
      .pin()
    verifyJaccard(bandedCandidateIds(sig, bands, rows, numHashes, threshold,
        margin, bucketCap),
      grams, threshold)
  }

  /** 64-bit SimHash (Charikar '02): sum signed bit contributions of token
    * hashes, take the sign vector. Pure column expressions; the token-hash
    * array is let-bound (tokenization+hashing once per row), and all 64
    * bit counters accumulate in ONE pass over the hashes (a 64-long vote
    * array folded per token) instead of 64 separate aggregates. */
  def simhash(text: Column): Column =
    graft.functions.SimHash64(
      transform(filter(split(lower(trim(text)), "[^a-z0-9]+"),
        t => length(t) > 0), t => xxhash64(t)))

  /** SimHash near-dup pairs with hamming distance ≤ maxDist. Blocking:
    * split the 64-bit hash into (maxDist+1) chunks — by pigeonhole, any
    * pair within maxDist agrees on at least one full chunk, so joining on
    * (chunk index, chunk value) finds all such pairs without all-pairs. */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   maxDist: Int = 3, bucketCap: Int = 8192): DataFrame = {
    // feeds both self-join sides — materialize the 64-bit hashes once
    val withHash = widen(docs).select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
      .pin()
    hammingPairs(withHash, maxDist, bucketCap)
  }

  /** Hamming-distance ≤ maxDist pairs over ANY precomputed 64-bit
    * signature frame `(id, sh)` — the pigeonhole blocking behind
    * [[simhashPairs]], reusable by other 64-bit perceptual signatures
    * (e.g. image dHash, [[Multimodal.imageNearDup]]). Complete by the
    * pigeonhole argument, exact by the bit_count(xor) verify; hot buckets
    * grid-salt via the shared resplit machinery. */
  def hammingPairs(withHash: DataFrame, maxDist: Int = 3,
                   bucketCap: Int = 8192): DataFrame = {
    val chunks = maxDist + 1
    val bitsPer = 64 / chunks
    // let-bind sh: inlined by CollapseProject it would recompute the whole
    // simhash once per chunk
    val banded = withHash.select(col("id"), col("sh"),
      posexplode(TextAnalysis.bind(col("sh")) { sh =>
        array((0 until chunks).map { c =>
          shiftrightunsigned(sh, c * bitsPer).bitwiseAND(lit((1L << bitsPer) - 1))
        }: _*)
      }).as(Seq("chunk", "cv")))
    val keys = Seq("chunk", "cv")
    val split = withResplit(banded, oversizedBuckets(banded, keys, bucketCap), keys)
    val a = split.select(col("chunk"), col("cv"), col("id").as("id_a"),
      col("sh").as("sh_a"), saltOwn(col("id")).as("__i"), saltAll.as("__j"))
    val b = split.select(col("chunk"), col("cv"), col("id").as("id_b"),
      col("sh").as("sh_b"), saltAll.as("__i"), saltOwn(col("id")).as("__j"))
    a.join(b, Seq("chunk", "cv", "__i", "__j")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
  }

  /** n-gram Jaccard dedup: EXACT Jaccard over character n-grams, with
    * banded-minhash blocking (same machinery as [[minhashPairs]], run over
    * char n-gram hashes instead of word shingles). At threshold 0.7 the
    * 16×4 banding has recall 1-(1-0.7^4)^16 ≈ 0.99 — versus the single-
    * bucket array_min blocking this replaces, whose recall tops out near
    * the Jaccard value itself AND whose one-hot-bucket-per-common-n-gram
    * skew is quadratic at scale. Precision is exact (every emitted pair is
    * verified against the full gram sets). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", n: Int = 5,
                        threshold: Double = 0.7, numHashes: Int = 64,
                        bands: Int = 16, margin: Double = 0.15,
                        bucketCap: Int = 2048): DataFrame = {
    val rows = numHashes / bands
    val grams = widen(docs).select(col(idCol).as("id"),
        TextAnalysis.hashedCharNgrams(col(textCol), n).as("g"))
      .filter(size(col("g")) > 0)
      .pin()
    val sig = grams.select(col("id"), minhashSignature(col("g"), numHashes).as("sig"))
      .pin()
    verifyJaccard(bandedCandidateIds(sig, bands, rows, numHashes, threshold,
        margin, bucketCap),
      grams, threshold)
  }

  /** EXACT n-gram Jaccard pairs by all-pairs comparison — the O(n²)
    * ground-truth baseline for [[ngramJaccardPairs]]. Only for bounded
    * subsets (recall measurement, differential oracles); the LSH variant is
    * the scale path. */
  def ngramJaccardPairsExact(docs: DataFrame, idCol: String = "doc_id",
                             textCol: String = "text", n: Int = 5,
                             threshold: Double = 0.5): DataFrame = {
    val grams = widen(docs).select(col(idCol).as("id"),
        TextAnalysis.hashedCharNgrams(col(textCol), n).as("g"))
      .filter(size(col("g")) > 0)
      .pin()
    val a = grams.select(col("id").as("id_a"), col("g").as("g_a"))
    val b = grams.select(col("id").as("id_b"), col("g").as("g_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("g_a"), col("g_b"))).cast("double") /
              size(array_union(col("g_a"), col("g_b"))).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT embedding-cosine pairs by all-pairs comparison — ground-truth
    * baseline for [[embeddingPairs]]; bounded subsets only. */
  def embeddingPairsExact(emb: DataFrame, idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          threshold: Double = 0.4): DataFrame = {
    val e = widen(emb).select(col(idCol).as("id"), col(vecCol).as("v"),
        Similarity.norm(col(vecCol)).as("n"))
      .pin()
    val a = e.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a"))
    val b = e.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosinePre(Similarity.dot(col("v_a"), col("v_b")),
          col("n_a"), col("n_b")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-cosine near-dup: pairs with cosine ≥ threshold, blocked by
    * random-hyperplane LSH signature (sign bits). One side multi-probes its
    * 1-bit-flipped neighbour buckets, so pairs within hamming distance 1 of
    * signature are found too — recall at moderate thresholds without
    * widening the shuffle by more than (planes+1)×.
    *
    * `tables` adds classic LSH amplification: `planes*tables` sign bits are
    * computed in ONE fused pass ([[Similarity.hyperplaneSig]]) and banded
    * into `tables` independent `planes`-bit hash tables; a pair is a
    * candidate if it collides in ANY table (after multi-probe), so recall
    * amplifies as 1-(1-p_table)^tables at a cost of ≤ tables× candidate
    * inflation — the knob to turn when the target threshold is a weak
    * similarity (hyperplane collision odds decay with arccos). */
  def embeddingPairs(emb: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding", threshold: Double = 0.4,
                     planes: Int = 4, seed: Long = 7L, tables: Int = 1,
                     bucketCap: Int = 2048): DataFrame = {
    val sig = Similarity.hyperplaneSig(col(vecCol), planes * tables, seed)
    // norm precomputed per VECTOR (once), not per candidate pair — the
    // pair-verify then needs a single O(dim) dot product
    // feeds both self-join sides — materialize signature + norm once
    val e = widen(emb).select(col(idCol).as("id"), col(vecCol).as("v"), sig.as("sig"),
      Similarity.norm(col(vecCol)).as("n"))
      .pin()
    // per-table band values: bits [t*planes, (t+1)*planes) of the signature
    // (sig let-bound: inlined it would recompute the signature per table)
    val mask = lit((1L << planes) - 1)
    def bands(sigc: Column): Column = TextAnalysis.bind(sigc) { sg =>
      array((0 until tables).map(t =>
        shiftrightunsigned(sg, t * planes).bitwiseAND(mask)): _*)
    }
    val probes = array((lit(0L) +: (0 until planes).map(p => shiftleft(lit(1L), p))): _*)
    // bucket populations measured on the UNPROBED build side; the probe
    // side looks up its probed (t, b) keys against the same oversized map,
    // so probes into a hot bucket are salted too
    val bandedB = e.select(col("id"), col("v"), col("n"),
      posexplode(bands(col("sig"))).as(Seq("t", "b")))
    val big = oversizedBuckets(bandedB, Seq("t", "b"), bucketCap)
    val probed = e.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a"),
        posexplode(bands(col("sig"))).as(Seq("t", "b0")))
      .select(col("id_a"), col("v_a"), col("n_a"), col("t"),
        explode(TextAnalysis.bind(col("b0")) { b0 =>
          transform(probes, m => b0.bitwiseXOR(m))
        }).as("b"))
    val a = withResplit(probed, big, Seq("t", "b"))
      .select(col("t"), col("b"), col("id_a"), col("v_a"), col("n_a"),
        saltOwn(col("id_a")).as("__i"), saltAll.as("__j"))
    val b = withResplit(bandedB, big, Seq("t", "b"))
      .select(col("t"), col("b"), col("id").as("id_b"), col("v").as("v_b"),
        col("n").as("n_b"), saltAll.as("__i"), saltOwn(col("id")).as("__j"))
    a.join(b, Seq("t", "b", "__i", "__j")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosinePre(Similarity.dot(col("v_a"), col("v_b")),
          col("n_a"), col("n_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with IVF k-means centroids, generate
    * candidate pairs only WITHIN clusters, and drop every vector that has
    * a lower-id neighbour with cosine ≥ threshold. The cluster bound is
    * what makes the O(n²) "find semantic duplicates" pass linear-ish at
    * billion-vector scale: pair generation is a self-join on centroid_id
    * (hot clusters grid-salted exactly like the LSH buckets), never
    * all-pairs. `probe` > 1 multi-assigns each vector to its `probe`
    * nearest clusters — the recall lever for pairs that straddle a
    * cluster boundary, at ≤ probe× candidate inflation.
    *
    * Returns one row per input vector: (idCol, rep_id, kept) where
    * rep_id is the lowest-id near-duplicate that caused a drop (NULL for
    * kept vectors). Approximate by design (a cross-cluster pair under
    * every probe assignment is missed); every DROP is exact-verified by
    * construction — the emitted pair's true cosine cleared the threshold. */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.4, nlist: Int = 16,
                    lloydIters: Int = 2, probe: Int = 4, bucketCap: Int = 2048,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val cents = Similarity.ivfCentroids(emb, nlist, lloydIters, idCol, vecCol)
    // feeds both self-join sides — materialize once
    val assigned = Similarity.assignToCentroids(emb, cents, probe, idCol, vecCol)
      .pin()
    val keys = Seq("centroid_id")
    val split = withResplit(assigned, oversizedBuckets(assigned, keys, bucketCap), keys)
    val a = split.select(col("centroid_id"), col(idCol).as("id_a"),
      col(vecCol).as("v_a"), col("__cn").as("n_a"),
      saltOwn(col(idCol)).as("__i"), saltAll.as("__j"))
    val b = split.select(col("centroid_id"), col(idCol).as("id_b"),
      col(vecCol).as("v_b"), col("__cn").as("n_b"),
      saltAll.as("__i"), saltOwn(col(idCol)).as("__j"))
    val pairs = a.join(b, Seq("centroid_id", "__i", "__j"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosinePre(Similarity.dot(col("v_a"), col("v_b")),
          col("n_a"), col("n_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      // multi-assignment can surface the same pair in up to probe clusters
      .dropDuplicates("id_a", "id_b")
    val drops = pairs.groupBy(col("id_b")).agg(min(col("id_a")).as("rep_id"))
    emb.select(col(idCol))
      .join(drops.select(col("id_b").as(idCol), col("rep_id")), Seq(idCol), "left")
      .select(col(idCol), col("rep_id"), col("rep_id").isNull.as("kept"))
  }

  /** Chunk-level dedup (C4's "line-level" pass, generalized to fixed
    * `chunkTokens`-token chunks for corpora without line structure): every
    * document splits into non-overlapping chunks, each chunk fingerprints,
    * and only the globally FIRST occurrence — lowest (doc_id, chunk_idx) —
    * of each distinct chunk is `kept`. Downstream, a doc rebuilds from its
    * kept chunks, removing boilerplate repeated across the corpus.
    *
    * Scale shape: one `groupBy(fp)` with map-side partial `min` (a
    * hyper-common chunk — the 100 TB boilerplate case — collapses to one
    * row per map task before the shuffle), then an fp equi-join of the
    * owner table back to the chunk stream; that probe side's skew is AQE
    * skew-join territory, never a window over a hot fingerprint partition.
    * Output: (doc_id, chunk_idx 1-based, chunk, kept). */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 10,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ck = lit(chunkTokens)
    val chunkArr = TextAnalysis.bind(split(lower(trim(col(textCol))), "\\s+")) { ts =>
      transform(
        sequence(lit(1), ceil(size(ts).cast("double") / chunkTokens).cast("int")),
        i => array_join(slice(ts, (i - 1) * ck + 1, ck), " "))
    }
    val chunks = docs
      .select(col(idCol), posexplode(chunkArr).as(Seq("__i", "chunk")))
      .select(col(idCol), (col("__i") + 1).as("chunk_idx"), col("chunk"),
        md5(col("chunk")).as("__fp"))
    // owner election as min(struct(doc_id, chunk_idx)) — lexicographic on
    // the REAL key (the dropArrays discipline): ids of any orderable type
    // work and no packed-arithmetic ceiling exists (the previous
    // doc_id·10⁶+idx packing let a >10⁶-chunk document overflow into a
    // neighboring doc's range)
    val owners = chunks.groupBy("__fp")
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("__first"))
    chunks.join(owners, "__fp")
      .select(col(idCol), col("chunk_idx"), col("chunk"),
        (struct(col(idCol), col("chunk_idx")) === col("__first")).as("kept"))
  }

  /** Content-defined chunk hashes ([[graft.functions.GearChunks]]) —
    * defaults sized for the sandbox corpus (48–550-char docs): expected
    * chunk ≈ 16+2⁵ chars. A 100 TB web corpus wants minLen/avg/max more
    * like 64/2⁶/1024. */
  def cdcChunks(text: Column, minLen: Int = 16, avgBits: Int = 5,
                maxLen: Int = 128): Column =
    graft.functions.GearChunks(text, minLen, avgBits, maxLen)

  /** Content-defined chunk dedup: [[chunkDedup]]'s global first-occurrence
    * rule over Gear/FastCDC boundaries instead of fixed token windows —
    * robust to INSERTIONS: one added word shifts every subsequent fixed
    * chunk, but content-defined boundaries re-synchronize within about one
    * chunk, so the rest of the edited copy still deduplicates against the
    * original. Same scale shape as [[chunkDedup]]: map-side-combinable
    * `min` owner election per chunk hash, then an equi-join of the slim
    * owner table back to the chunk stream (AQE handles hot-hash skew).
    * Output: (doc_id, pos 0-based char offset, len, hash, kept). */
  def cdcDedup(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", minLen: Int = 16, avgBits: Int = 5,
               maxLen: Int = 128): DataFrame = {
    val chunks = docs.select(col(idCol),
        posexplode(cdcChunks(col(textCol), minLen, avgBits, maxLen))
          .as(Seq("__i", "c")))
      .select(col(idCol), col("__i"), col("c.pos").as("pos"),
        col("c.len").as("len"), col("c.hash").as("hash"))
    // struct owner election on the real (doc_id, chunk-index) key — see
    // chunkDedup: no packed ceiling, any orderable id type
    val owners = chunks.groupBy("hash")
      .agg(min(struct(col(idCol), col("__i"))).as("__first"))
    chunks.join(owners, "hash")
      .select(col(idCol), col("pos"), col("len"), col("hash"),
        (struct(col(idCol), col("__i")) === col("__first")).as("kept"))
  }

  /** INTRA-document repetition removal: within each document, only the
    * first occurrence of a repeated `chunkTokens`-token chunk is kept —
    * the "same paragraph pasted five times" cleanup that runs BEFORE
    * cross-corpus dedup. Unlike [[chunkDedup]] (global first occurrence —
    * one corpus-wide shuffle), this is per-document state only: a pure
    * narrow map over the scan (the first-occurrence test is
    * `array_position` against the doc's own chunk array), ZERO shuffles at
    * any scale. Output: (doc_id, chunk_idx 1-based, chunk, kept). */
  def intraDocDedup(docs: DataFrame, chunkTokens: Int = 10,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ck = lit(chunkTokens)
    val chunkArr = TextAnalysis.bind(split(lower(trim(col(textCol))), "\\s+")) { ts =>
      transform(
        sequence(lit(1), ceil(size(ts).cast("double") / chunkTokens).cast("int")),
        i => array_join(slice(ts, (i - 1) * ck + 1, ck), " "))
    }
    docs.select(col(idCol), chunkArr.as("__chunks"))
      .select(col(idCol), col("__chunks"),
        posexplode(col("__chunks")).as(Seq("__i", "chunk")))
      .select(col(idCol), (col("__i") + 1).as("chunk_idx"), col("chunk"),
        (array_position(col("__chunks"), col("chunk")) === col("__i") + 1)
          .as("kept"))
  }

  /** Cross-document duplicated-SPAN report: every `spanTokens`-token
    * sliding window (stride 1) of every document is fingerprinted, and
    * each document reports how many of its distinct windows also occur in
    * at least one OTHER document — the window-granular approximation of
    * exact-substring dedup (a span of ≥ spanTokens shared tokens always
    * contains a shared window, so `n_dup > 0` is a complete detector for
    * such spans; cf. the suffix-array ExactSubstr method of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better").
    * Unlike [[chunkDedup]] (stride = chunk size), the stride-1 windows
    * catch duplicated spans at ANY token offset.
    *
    * Scale shape: the window stream is a narrow explode of the scan
    * (carrying 32-hex md5 fingerprints, never the window text — swap in a
    * 64-bit hash expression to halve shuffle width at full scale), then
    * ONE distinct on (doc_id, fp), one fp-grouped count with map-side
    * partials (corpus-wide boilerplate collapses per map task), an fp
    * equi-join back onto the pair stream (AQE skew-join territory — never
    * a window), and a final doc_id-grouped rollup. No all-pairs stage at
    * any step. Output: (doc_id, n_win, n_dup, dup_frac) over docs with
    * ≥ spanTokens tokens; windows are counted distinct-per-doc. */
  /** Dropped-token positions per document, shared by [[spanRebuild]] and
    * [[spanRebuildBytes]]: stride-1 `st`-token window fingerprints over
    * the (doc_id, __t token-array) frame, owner election per fingerprint
    * as `min(struct(doc_id, win_idx))` — lexicographic on the REAL key,
    * so any orderable id type works and no packed-arithmetic ceiling
    * exists (a 10⁶⁺-token document cannot overflow into a neighboring
    * doc's range, which the previous `doc_id·10⁶+idx` packing allowed) —
    * then non-owner windows explode into covered token positions and roll
    * up to one sorted drop-array per doc: (doc_id, __drops). */
  private def dropArrays(toks: DataFrame, st: Int): DataFrame = {
    val wins = toks
      .where(size(col("__t")) >= st)
      .select(col("doc_id"),
        posexplode(graft.functions.WindowMd5Hex(col("__t"), st))
          .as(Seq("__j", "__fp")))
      .select(col("doc_id"), (col("__j") + 1).as("win_idx"), col("__fp"))
    val owners = wins.groupBy("__fp")
      .agg(min(struct(col("doc_id"), col("win_idx"))).as("__first"))
    wins.join(owners, "__fp")
      .where(struct(col("doc_id"), col("win_idx")) =!= col("__first"))
      .select(col("doc_id"),
        explode(sequence(col("win_idx"), col("win_idx") + (st - 1))).as("__p"))
      .distinct()
      .groupBy("doc_id").agg(sort_array(collect_set(col("__p"))).as("__drops"))
  }

  /** Cross-document duplicated-span REMOVAL — the transform behind
    * [[dupSpanReport]]'s detection (Lee et al. 2022's ExactSubstr dedup,
    * window-granular): every `spanTokens`-token stride-1 window
    * fingerprints; the globally FIRST occurrence of each fingerprint
    * (minimal (doc_id, win_idx) — struct ordering, so ids of any
    * orderable type work) is the owner; every token covered by a
    * NON-owner window is dropped, and each document's surviving tokens
    * reassemble in order. The first global occurrence of any duplicated
    * span survives intact; later copies lose exactly the duplicated token
    * range (plus window-granularity slop < spanTokens at the edges), not
    * the whole document — the precision argument of the paper versus
    * document-level dedup.
    *
    * Scale shape: windows are a narrow explode of the scan; owner election
    * is ONE map-side-combinable `min` per fingerprint; non-owner windows
    * (the DUP mass, not the corpus mass) explode ×spanTokens into covered
    * token positions, dedup, and roll up to ONE sorted drop-array per
    * document (bounded by the doc's own token count). The rebuild is then
    * a narrow higher-order-function map over the original scan — the full
    * token stream never shuffles. Reconstruction law: a document with no
    * duplicated windows rebuilds byte-identical to its normalized
    * (lowercased, whitespace-collapsed) text; [[spanRebuildBytes]] is the
    * original-byte-preserving variant.
    *
    * Output: (doc_id, n_tok, n_drop, clean_text) over non-empty docs. */
  def spanRebuild(docs: DataFrame, spanTokens: Int = 8,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val st = spanTokens
    val toks = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        split(lower(trim(col(textCol))), "\\s+").as("__t"))
    toks.join(dropArrays(toks, st), Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__t")).cast("long").as("n_tok"),
        when(col("__drops").isNull, lit(0)).otherwise(size(col("__drops")))
          .cast("long").as("n_drop"),
        array_join(filter(col("__t"),
          (_, i) => col("__drops").isNull ||
            !array_contains(col("__drops"), i + 1)), " ").as("clean_text"))
  }

  /** [[spanRebuild]] with ORIGINAL-byte splicing: the same window
    * fingerprints (over lowercased whitespace-split tokens) and the same
    * struct owner election decide which token positions drop, but the
    * rebuild keeps the document's own bytes — case, punctuation, and the
    * exact whitespace runs between surviving tokens — instead of the
    * normalized token stream.
    *
    * Mechanics: `regexp_extract_all(text, "\\S+|\\s+")` cuts the text into
    * ALTERNATING token/whitespace segments whose concatenation is the
    * original string byte-for-byte. Token segments map 1:1 (in order) onto
    * the normalized tokens the fingerprints use, so the drop positions
    * from [[spanRebuild]]'s election apply directly; a whitespace segment
    * is kept iff the token segment immediately before it survives (leading
    * whitespace always survives). Everything is narrow per-row
    * higher-order-function work over the scan — the segment stream never
    * shuffles.
    *
    * Reconstruction law (the byte-level strengthening of spanRebuild's):
    * a document with NO duplicated windows rebuilds BYTE-IDENTICAL to its
    * original text — tabs, newlines, trailing spaces and all.
    *
    * Output: (doc_id, n_tok, n_drop, clean_text) over non-blank docs. */
  def spanRebuildBytes(docs: DataFrame, spanTokens: Int = 8,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val st = spanTokens
    val base = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        regexp_extract_all(col(textCol), lit("\\S+|\\s+"), lit(0)).as("__segs"))
      .withColumn("__t",
        transform(filter(col("__segs"), s => s.rlike("^\\S")), s => lower(s)))
    val toks = base.select(col("doc_id"), col("__t"))
    // does the text START with a token (vs leading whitespace)? fixes the
    // parity of token/whitespace alternation below
    val firstIsTok = element_at(col("__segs"), 1).rlike("^\\S")
    // 0-based segment index → is-token flag and 1-based ordinals:
    //   firstIsTok : tokens at even i (ord i/2+1), ws at odd i follows
    //                token ord (i+1)/2
    //   !firstIsTok: ws at even i (i=0 leading, else follows token ord
    //                i/2), tokens at odd i (ord (i+1)/2)
    def tokOrd(i: Column): Column =
      when(firstIsTok, floor(i / 2) + 1).otherwise(floor((i + 1) / 2)).cast("int")
    def prevTokOrd(i: Column): Column =
      when(firstIsTok, floor((i + 1) / 2)).otherwise(floor(i / 2)).cast("int")
    val kept = filter(col("__segs"), (s, i) => {
      val isTok = (i % 2 === 0) === firstIsTok
      val checkOrd = when(isTok, tokOrd(i)).otherwise(prevTokOrd(i))
      col("__drops").isNull || checkOrd === 0 ||
        !array_contains(col("__drops"), checkOrd)
    })
    base.join(dropArrays(toks, st), Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__t")).cast("long").as("n_tok"),
        when(col("__drops").isNull, lit(0)).otherwise(size(col("__drops")))
          .cast("long").as("n_drop"),
        array_join(kept, "").as("clean_text"))
  }

  def dupSpanReport(docs: DataFrame, spanTokens: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pairs = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        split(lower(trim(col(textCol))), "\\s+").as("__t"))
      .where(size(col("__t")) >= spanTokens)
      .select(col("doc_id"),
        explode(graft.functions.WindowMd5Hex(col("__t"), spanTokens))
          .as("__fp"))
      .distinct()
    val perFp = pairs.groupBy("__fp").agg(count(lit(1)).as("__docs"))
    pairs.join(perFp, "__fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
        sum(when(col("__docs") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_win"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_win"), 6).as("dup_frac"))
  }
}
