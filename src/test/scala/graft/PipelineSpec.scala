package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis, Whiten}

/** Training-data pipeline operators: dedup family, similarity search,
  * text analysis, multimodal plumbing. Uses planted near-duplicates so
  * recall is testable deterministically. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away house"), // near-dup of 1
    (3L, "completely different text about spark distributed computation engines"),
    (4L, "the quick brown fox jumps over the lazy dog and runs far away home"), // exact dup of 1
    (5L, "der schnelle braune fuchs springt nicht über den faulen hund und das ist gut"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical normalized text") {
    val out = Dedup.exact(docs).collect()
    assert(out.length === 4) // 1&4 collapse
    val dupRow = out.find(_.getAs[Long]("doc_id") == 1L).get
    assert(dupRow.getAs[Long]("dup_count") === 2L)
  }

  test("native MinHashSig expression is bit-identical to the combinator formula") {
    // checkpoint the grams exactly like minhashPairs does — it also severs
    // the CodegenFallback shingle HOFs from the signature Project, so the
    // fused expression's stage is codegen-eligible
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextAnalysis.hashedShingles(col("text")).as("g"))
      .filter(size(col("g")) > 0)
      .localCheckpoint()
    val both = real.select(
      Dedup.minhashSignature(col("g")).as("fused"),
      KernelReference.minhashSignature(col("g")).as("ref"))
    assert(both.filter(!(col("fused") <=> col("ref"))).count() === 0)
    // and the fused path runs inside generated code, not CodegenFallback
    // (checked on a fused-only plan: the reference formula's higher-order
    // functions would force any shared Project out of codegen)
    val fusedOnly = real.select(Dedup.minhashSignature(col("g")).as("fused"))
    val cg = fusedOnly.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("minhash_sig") || cg.contains("MinHashSig"),
      s"fused expression not in generated code:\n${cg.take(1500)}")
  }

  test("minhash LSH finds planted near-dup pair") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc never pairs
  }

  test("simhash hamming pairs find near-dups, not unrelated docs") {
    val pairs = Dedup.simhashPairs(docs, maxDist = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard pairs: recall on planted near-dups at threshold 0.7") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup
    assert(pairs.contains((1L, 2L))) // planted near-dup (one word differs)
    assert(pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated never pairs
  }

  test("ngram LSH recall/precision vs exact ground truth (sf0.001)") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(length(col("text")) >= 5)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.ngramJaccardPairsExact(real, threshold = 0.7))
    val lsh = pairSet(Dedup.ngramJaccardPairs(real, threshold = 0.7))
    assert(lsh.subsetOf(exact)) // precision 1.0: every emitted pair is verified
    assert(exact.nonEmpty)
    assert(lsh.size.toDouble / exact.size >= 0.9) // banding recall ≈0.99 at 0.7
  }

  test("embedding LSH recall/precision vs exact ground truth (sf0.001)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.embeddingPairsExact(emb, threshold = 0.4))
    val lsh = pairSet(Dedup.embeddingPairs(emb, threshold = 0.4))
    assert(lsh.subsetOf(exact))
    assert(exact.nonEmpty)
    assert(lsh.size.toDouble / exact.size >= 0.5) // 4-plane 1-bit multiprobe LSH
  }

  test("hot-bucket grid salting is pair-complete (salted == unsalted pair sets)") {
    // a tiny bucketCap forces g > 1 on every real bucket — every pair must
    // still meet exactly once, so the pair set cannot change
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(length(col("text")) >= 5)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(Dedup.minhashPairs(real, threshold = 0.5, bucketCap = 3)) ===
      pairSet(Dedup.minhashPairs(real, threshold = 0.5)))
    assert(pairSet(Dedup.simhashPairs(real, maxDist = 3, bucketCap = 3)) ===
      pairSet(Dedup.simhashPairs(real, maxDist = 3)))
    assert(pairSet(Dedup.embeddingPairs(emb, threshold = 0.4, bucketCap = 3)) ===
      pairSet(Dedup.embeddingPairs(emb, threshold = 0.4)))
  }

  test("degenerate all-identical corpus: hot bucket resplits, bounded tasks, no cartesian") {
    // 300 identical docs → ONE bucket per band holding every doc. With
    // cap=50 the bucket grid-splits into 6×6 salt groups; output must be
    // the complete quadratic pair set (it IS the correct answer) and the
    // plan must stay a hash join on the salted key, never a cartesian.
    val n = 300
    val same = (1 to n).map(i => (i.toLong, "identical text repeated for the degenerate corpus case"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(same, threshold = 0.5, bucketCap = 50)
    val p = pairs.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(pairs.count() === n.toLong * (n - 1) / 2)
  }

  test("native shingle/ngram hashers are bit-identical to the combinator formulas") {
    val txt = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(txt.filter(!(
      TextAnalysis.hashedShingles(col("text")) <=>
        KernelReference.hashedShingles(col("text")))).count() === 0)
    assert(txt.filter(!(
      TextAnalysis.hashedCharNgrams(col("text")) <=>
        KernelReference.hashedCharNgrams(col("text")))).count() === 0)
    // degenerate inputs: shorter than k/n, empty string, multi-byte chars
    // (the r18 offset-walk rewrite must place windows on CHAR boundaries)
    val edge = Seq("", "ab", "one two", "   ", "héllo wörld",
      "日本語のテキストです", "mixed ascii と 日本語 and émoji 🎯🎯 tail",
      "🎯🎯🎯", "a🎯b🎯c").toDF("text")
    assert(edge.filter(!(
      TextAnalysis.hashedShingles(col("text")) <=>
        KernelReference.hashedShingles(col("text")))).count() === 0)
    assert(edge.filter(!(
      TextAnalysis.hashedCharNgrams(col("text")) <=>
        KernelReference.hashedCharNgrams(col("text")))).count() === 0)
  }

  test("repetition signals: mode count, tie-break, cap, and degenerate inputs " +
    "match hand-computed values (the definition the oracle replays)") {
    import spark.implicits._
    def sigs(texts: String*): Seq[(Double, Double)] = {
      val cols = TextAnalysis.repetitionSignals(col("text"))
      texts.toDF("text")
        .select(cols.map { case (n, c) => c.as(n) }: _*)
        .collect().toSeq.map(r => (r.getDouble(0), r.getDouble(1)))
    }
    val out = sigs(
      // "a b" x3 of 5 bigrams, len 3 -> 9/11; 3-grams "a b a","b a b"
      // both x2 -> (10+10)/11 > 1 -> capped
      "a b a b a b",
      // all bigrams unique (run 1): mode = lexicographically smallest
      // ("y y", 3 chars) over len("z z y y")=7
      "z z y y",
      // degenerate: empty, whitespace, single token
      "", "   ", "word")
    assert(math.abs(out(0)._1 - 9.0 / 11) < 1e-6, out(0).toString)
    assert(out(0)._2 === 1.0, out(0).toString)
    assert(math.abs(out(1)._1 - 3.0 / 7) < 1e-6, out(1).toString)
    assert(out(1)._2 === 0.0)
    assert(out.drop(2).forall(_ == (0.0, 0.0)), out.toString)
  }

  test("repetition signals: property differential vs a driver-side reference " +
    "over random small-vocab texts (mode, ties, dup accounting, cap)") {
    import spark.implicits._
    // driver-side reference: plain Scala group-counts of the same formula
    def ref(text: String): (Double, Double) = {
      val ts = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val normLen = ts.mkString(" ").length
      def grams(n: Int) =
        if (ts.length < n) Seq.empty else ts.sliding(n).map(_.mkString(" ")).toSeq
      def frac(num: Long): Double =
        if (normLen == 0) 0.0
        else BigDecimal(math.min(1.0, num.toDouble / normLen))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val c2 = grams(2).groupBy(identity).view.mapValues(_.size).toMap
      val top = if (c2.isEmpty) 0L
        else { val best = c2.toSeq.sortBy { case (g, k) => (-k, g) }.head
               best._2.toLong * best._1.length }
      val c3 = grams(3).groupBy(identity).view.mapValues(_.size).toMap
      val dup = c3.collect { case (g, k) if k > 1 => k.toLong * g.length }.sum
      (frac(top), frac(dup))
    }
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "ccc", "dd", "e")
    val texts = (0 until 40).map { _ =>
      (0 until rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    } :+ "" :+ "a" :+ "a a a a a a"
    val cols = TextAnalysis.repetitionSignals(col("text"))
    val got = texts.toDF("text")
      .select(col("text") +: cols.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    texts.foreach { t =>
      assert(got(t) === ref(t), s"mismatch for '$t': got ${got(t)}, ref ${ref(t)}")
    }
  }

  test("native vec_dot and simhash64 are bit-identical to the combinator formulas") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").as("a"))
    val shifted = emb.withColumn("b", reverse(col("a")))
    assert(shifted.filter(
      !(Similarity.dot(col("a"), col("b")) <=> KernelReference.dot(col("a"), col("b")))
    ).count() === 0)
    val txt = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(txt.filter(
      !(Dedup.simhash(col("text")) <=> KernelReference.simhash(col("text")))
    ).count() === 0)
    val sigs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert(sigs.filter(
      !(Similarity.hyperplaneSig(col("embedding")) <=>
        KernelReference.hyperplaneSig(col("embedding")))
    ).count() === 0)
  }

  test("r19 fused kernels (vec_l2sq, adc_lut_sum, i8_dot, sig_agree) are " +
    "bit-identical to the combinator formulas they replaced") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").as("a"))
      .withColumn("b", reverse(col("a")))
    // squared L2: same left-fold double accumulation
    assert(emb.filter(
      !(graft.functions.FloatVecL2Sq(col("a"), col("b")) <=>
        KernelReference.l2sq(col("a"), col("b")))).count() === 0)
    // int8 dot through the quantized struct
    val q = emb.select(Similarity.quantizeI8(col("a")).as("qa"),
      Similarity.quantizeI8(col("b")).as("qb"))
    assert(q.filter(
      !(Similarity.dotI8(col("qa"), col("qb")) <=>
        KernelReference.dotI8(col("qa"), col("qb")))).count() === 0)
    // ADC lookup-table sum: codes spanning the SIGNED byte range
    // (production codes=256 stores 128..255 as negatives), lut of
    // m·nCodes doubles; the combinator AdcLutSum replaced, index
    // i·nCodes + (code & 0xff)
    val nCodes = 4
    val adc = spark.range(0, 200).selectExpr(
      s"transform(sequence(0, 7), i -> cast((id * 7 + i * 3) % $nCodes + " +
        s"if((id + i) % 2 = 0, 124, -128) as byte)) as codes",
      s"transform(sequence(0, ${8 * 256 - 1}), i -> cast(i as double) / 7.0) as lut")
    val combinator = aggregate(
      transform(col("codes"), (c, i) =>
        element_at(col("lut"), i * 256 + c.cast("int").bitwiseAND(lit(255)) + 1)),
      lit(0.0), (a, x) => a + x)
    assert(adc.filter(
      !(graft.functions.AdcLutSum(col("codes"), col("lut"), 256) <=> combinator))
      .count() === 0)
    // signature agreement, including MISMATCHED lengths (zip_with pads the
    // tail with nulls, which the when().otherwise(0) counts as 0)
    val sigs = spark.range(0, 300).selectExpr(
      "transform(sequence(0, cast(id % 5 as int) + 2), i -> xxhash64(id, i) % 7) as sa",
      "transform(sequence(0, cast(id % 3 as int) + 3), i -> xxhash64(id + 1, i) % 7) as sb")
    val agreeRef = aggregate(zip_with(col("sa"), col("sb"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
    assert(sigs.filter(
      !(graft.functions.SigAgree(col("sa"), col("sb")) <=> agreeRef))
      .count() === 0)
  }

  test("adc_lut_sum returns NULL, never an out-of-bounds read, for a LUT " +
    "too short for the codes — generated and interpreted alike") {
    // nCodes = 4 and 3 codes need a 12-slot LUT; odd ids carry only 8, so
    // their third code indexes past the end. Built from range (not a local
    // relation) so the optimizer cannot fold the kernel away.
    val adc = spark.range(0, 40).selectExpr("id",
      "transform(sequence(0, 2), i -> cast((id + i) % 4 as byte)) as codes",
      "transform(sequence(0, if(id % 2 = 0, 11, 7)), " +
        "i -> cast(i + id * 16 as double)) as lut")
      .select(col("id"), graft.functions.AdcLutSum(col("codes"), col("lut"), 4).as("s"))
    def expected(id: Long): Option[Double] =
      if (id % 2 == 1) None
      else Some((0 until 3).foldLeft(0.0) { (acc, i) =>
        acc + (i * 4 + (id + i) % 4 + id * 16).toDouble })
    val modes = Seq(
      "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false"),
      "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    modes.foreach { case (mode, confs) =>
      val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val got = adc.collect().map(r =>
          r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
        (0L until 40L).foreach { id =>
          assert(got(id) === expected(id), s"$mode: id $id")
        }
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("cosine and dot on float arrays") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
                 (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val cos = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(cos(0) - 1.0) < 1e-9)
    assert(math.abs(cos(1)) < 1e-9)
    // ragged vectors are a data error: NULL, never a partial score
    val ragged = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f))).toDF("a", "b")
    assert(ragged.select(Similarity.dot(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("brute-force knn: self is nearest neighbour at cosine 1") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val knn = Similarity.bruteForceKnn(q, emb, k = 3)
    val top1 = knn.filter(col("rank") === 1)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top1.forall { case (a, b) => a == b })
  }

  test("lsh knn recall: self always found (same bucket by construction)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val knn = Similarity.lshKnn(q, emb, k = 3)
    val top1 = knn.filter(col("rank") === 1)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top1.forall { case (a, b) => a == b })
  }

  test("ivf knn recall: self always found (own list is always probed)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val knn = Similarity.ivfKnn(q, emb, k = 3)
    val top1 = knn.filter(col("rank") === 1)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top1.length === 3)
    assert(top1.forall { case (a, b) => a == b })
  }

  test("lmScore: hand-computed add-k bigram LM on a 2-doc corpus") {
    // doc1 = "a b a b", doc2 = "a b": c2={(a,b):3,(b,a):1}, c1={a:3,b:1}, V=2
    // P(b|a)=3.5/4, P(a|b)=1.5/2
    val d = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val lnAB = BigDecimal(math.log(3.5 / 4)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val lnBA = BigDecimal(math.log(1.5 / 2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val doc1 = ((lnAB * 2 + lnBA) / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(out(1L)._1 === 3L)
    assert(math.abs(out(1L)._2 - doc1.toDouble) < 1e-9)
    assert(out(2L) === ((1L, lnAB.toDouble)))
  }

  test("lmScore is partitioning-invariant (decimal log sums)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = TextAnalysis.lmScore(docs).collect().map(_.toSeq).toSet
    val b = TextAnalysis.lmScore(docs.repartition(17)).collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a === b)
  }

  test("intraDocDedup: first occurrence kept within a doc, repeats dropped") {
    val rep = ("alpha beta gamma delta eps zeta eta theta iota kappa " * 3).trim
    val d = Seq((1L, rep), (2L, "unique words only here now")).toDF("doc_id", "text")
    val out = Dedup.intraDocDedup(d, chunkTokens = 10).collect()
    val d1 = out.filter(_.getLong(0) == 1L).sortBy(_.getAs[Int]("chunk_idx"))
    assert(d1.length === 3)
    assert(d1.head.getAs[Boolean]("kept"))
    assert(d1.tail.forall(!_.getAs[Boolean]("kept")))
    assert(out.filter(_.getLong(0) == 2L).forall(_.getAs[Boolean]("kept")))
  }

  test("semantic dedup: planted duplicate vectors dropped, sound reps, " +
    "recall vs exact pairs ≥ 0.8 (sf0.001)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Dedup.semanticDedup(emb, threshold = 0.4).collect()
    assert(out.length === emb.count())
    val dropped = out.filter(!_.getAs[Boolean]("kept"))
      .map(r => (r.getAs[Long]("rep_id"), r.getAs[Long]("vec_id"))).toSet
    assert(dropped.nonEmpty)
    // every kept row has a null rep
    assert(out.filter(_.getAs[Boolean]("kept")).forall(_.isNullAt(1)))
    val exact = Dedup.embeddingPairsExact(emb, threshold = 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // soundness: every (rep, dropped) pair is a true near-dup pair
    assert(dropped.subsetOf(exact))
    // recall: most vectors with a lower-id exact near-dup get dropped
    val should = exact.map(_._2).toSet
    val hit = should.count(v => dropped.exists(_._2 == v))
    assert(hit.toDouble / should.size >= 0.8,
      s"recall ${hit.toDouble / should.size}")
  }

  test("semantic dedup: self-duplicates collapse to the lowest id") {
    // three identical vectors + two distinct ones
    val v = Array.tabulate(8)(i => i.toFloat)
    val w = Array.tabulate(8)(i => (10f - i))
    val u = Array.tabulate(8)(i => if (i % 2 == 0) 1f else -1f)
    val emb = Seq((1L, v), (2L, v), (3L, v), (4L, w), (5L, u))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, threshold = 0.99, nlist = 2, probe = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Boolean]("kept"), if (r.isNullAt(1)) -1L else r.getAs[Long]("rep_id")))
      .toMap
    assert(out(1L) === ((true, -1L)))
    assert(out(2L) === ((false, 1L)))
    assert(out(3L) === ((false, 1L)))
    assert(out(4L)._1 && out(5L)._1)
  }

  test("pq encode: 8 one-byte codes per vector, codes dense in [0, 16)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqTrain(emb, m = 8, codes = 16, lloydIters = 1)
    val enc = Similarity.pqEncode(emb, cb, m = 8)
    // the stored representation really is 8 tinyints (+ one float norm)
    val codesType = enc.schema("codes").dataType
    assert(codesType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, false) ||
      codesType.simpleString.startsWith("array<tinyint>"))
    val rows = enc.collect()
    assert(rows.length === emb.count())
    assert(rows.forall { r =>
      val cs = r.getSeq[Byte](r.fieldIndex("codes"))
      cs.length == 8 && cs.forall(c => c >= 0 && c < 16)
    })
  }

  test("pq with full-byte codebooks (codes > 127): signed-byte codes index " +
    "the ADC LUT correctly in BOTH training tiers") {
    import spark.implicits._
    // 300 deterministic 16-dim vectors: enough to seed 256 codes per
    // subspace — the production codes=256 setting where codes 128..255
    // read back as NEGATIVE bytes (the regression this test pins: the
    // in-row ADC index and the LUT/codebook sort must use the unsigned
    // value, or scores are garbage and recall collapses)
    val rnd = new scala.util.Random(42)
    val emb = (0L until 300L)
      .map(i => (i, Array.fill(16)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val brute = Similarity.bruteForceKnn(q, emb, k = 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(res: org.apache.spark.sql.DataFrame): Double = {
      val s = res.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      s.count(brute.contains).toDouble / brute.size
    }
    // driver tiny tier (default cap): 256 codes per 4-dim subspace over
    // 300 vectors is near-exact — recall must be high, not collapsed
    val pqDriver = Similarity.pqKnn(q, emb, k = 5, m = 4, codes = 256,
      overFetch = 8, lloydIters = 1)
    assert(recall(pqDriver) >= 0.8, "driver-tier full-byte PQ recall collapsed")
    // distributed tier (cap=0): same contract through the fallback Lloyd
    spark.conf.set("spark.graft.kmeansDriverCap", "0")
    try {
      val pqDist = Similarity.pqKnn(q, emb, k = 5, m = 4, codes = 256,
        overFetch = 8, lloydIters = 1)
      assert(recall(pqDist) >= 0.8, "distributed-tier full-byte PQ recall collapsed")
    } finally spark.conf.unset("spark.graft.kmeansDriverCap")
  }

  test("pq with a training sample SMALLER than the codebook: the effective " +
    "code count drives the ADC stride (no mis-indexed LUT)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 8 vectors but codes=16: the trained codebook has 8 dense codes per
    // subspace — indexing by the requested 16 would read past (or out of)
    // the flattened LUT
    val emb = (0L until 8L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val res = Similarity.pqKnn(q, emb, k = 3, m = 2, codes = 16,
      overFetch = 4, lloydIters = 1)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // every query finds ITSELF (8 codes over 8 vectors is lossless enough)
    assert(Set((0L, 0L), (1L, 1L)).subsetOf(res.toSet), res.toSeq.toString)
    // ivfPqKnn through the same small-sample path
    val ivf = Similarity.ivfPqKnn(q, emb, k = 3, nlist = 2, nprobe = 2,
      m = 2, codes = 16, lloydIters = 1)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(Set((0L, 0L), (1L, 1L)).subsetOf(ivf.toSet), ivf.toSeq.toString)
    // codes beyond one byte fail FAST, not by aliasing duplicate code ids
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(emb, m = 2, codes = 300)
    }
  }

  test("pq knn (ADC + rescore): recall vs brute force ≥ 0.8, self found") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val brute = Similarity.bruteForceKnn(q, emb, k = 10)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqKnn(q, emb, k = 10)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq.count(brute.contains).toDouble / brute.size >= 0.8)
    assert((0L until 5L).forall(i => pq.contains((i, i)))) // self in top-k
  }

  test("ivf-pq knn (residual ADC, probed cells): recall within probed-cell " +
      "bound, self found") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val brute = Similarity.bruteForceKnn(q, emb, k = 10)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing every cell isolates the PQ approximation: with the coarse
    // bound removed, residual codes + 32x overfetch + exact rescore must
    // recover nearly all of the true top-k (same bar as plain pqKnn)
    val full = Similarity.ivfPqKnn(q, emb, k = 10, nlist = 8, nprobe = 8)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.count(brute.contains).toDouble / brute.size >= 0.8)
    assert((0L until 5L).forall(i => full.contains((i, i)))) // self in top-k
    // partial probing may only shrink the candidate set (pure subset of the
    // probed cells) — recall degrades gracefully, never corrupts ranks
    val part = Similarity.ivfPqKnn(q, emb, k = 10, nlist = 8, nprobe = 4)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(part.count(brute.contains).toDouble / brute.size >= 0.4)
    assert((0L until 5L).forall(i => part.contains((i, i)))) // own cell always probed
  }

  test("gear CDC chunking: exact tiling, length bounds, insertion re-sync, " +
      "edited copy dedups against the original") {
    import spark.implicits._
    // aperiodic seeded text: short-period content can phase-lock into
    // maxLen-stride cuts and never re-sync (it also compresses to nothing
    // — low-entropy spam is the deflate filter's job, not CDC's)
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(200)(
      Seq.fill(3 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString)
      .mkString(" ")
    val edited = "INSERTED WORDS AT THE FRONT. " + base
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val byDoc = df.select(col("doc_id"), Dedup.cdcChunks(col("text")).as("c"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(c =>
          (c.getInt(0), c.getInt(1), c.getLong(2)))).toMap
    // tiling + bounds per doc
    Seq(base -> byDoc(1L), edited -> byDoc(2L)).foreach { case (text, cs) =>
      assert(cs.head._1 === 0)
      cs.sliding(2).foreach {
        case Seq((p1, l1, _), (p2, _, _)) => assert(p2 === p1 + l1)
        case _ => ()
      }
      assert(cs.last._1 + cs.last._2 === text.length)
      cs.init.foreach { case (_, l, _) => assert(l >= 16 && l <= 128) }
      assert(cs.last._2 <= 128)
      // deterministic: hash is a pure function of the slice
      cs.foreach { case (p, l, h) =>
        var fnv = 0xcbf29ce484222325L
        text.substring(p, p + l).foreach { ch => fnv ^= ch; fnv *= 0x100000001b3L }
        assert(h === fnv)
      }
    }
    // insertion re-sync: the shifted copy shares most chunk hashes
    val h1 = byDoc(1L).map(_._3).toSet
    val h2 = byDoc(2L).map(_._3).toSet
    assert(h2.count(h1.contains) >= h1.size / 2,
      s"re-sync failed: ${h2.count(h1.contains)} of ${h1.size} shared")
    // cdcDedup: most of the edited copy deduplicates against the original
    val dd = Dedup.cdcDedup(df)
    val kept = dd.filter(col("doc_id") === 2 && col("kept")).count().toDouble
    val total = dd.filter(col("doc_id") === 2).count().toDouble
    assert(kept / total <= 0.5, s"edited copy kept $kept of $total chunks")
  }

  test("PCA whitening: correlated synthetic data whitens to identity covariance") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // strongly correlated 4-dim data: dim1 tracks dim0, dim2 anti-tracks it
    val data = Seq.fill(500) {
      val a = rnd.nextGaussian()
      Array(a.toFloat, (a + rnd.nextGaussian() * 0.1).toFloat,
        (-a + rnd.nextGaussian() * 0.1).toFloat, (rnd.nextGaussian() * 2).toFloat)
    }.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = data.toDF("vec_id", "embedding")
    val m = Whiten.fit(df, k = 4)
    assert(m.eigenvalues.toSeq === m.eigenvalues.sortBy(-_).toSeq)
    val w = Whiten(df, m).select(col("white")).collect()
      .map(_.getSeq[Float](0).toArray)
    val n = w.length
    val mean = Array.tabulate(4)(j => w.map(_(j).toDouble).sum / n)
    for (i <- 0 until 4; j <- i until 4) {
      val c = w.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / (n - 1)
      if (i == j) assert(math.abs(c - 1.0) < 0.1, s"var($i)=$c")
      else assert(math.abs(c) < 0.1, s"cov($i,$j)=$c")
    }
  }

  test("chunk-level incremental dedup: a new doc quoting a historical " +
      "paragraph is caught, novel docs stay clean") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def txt(nWords: Int) = Seq.fill(nWords)(
      Seq.fill(3 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString)
      .mkString(" ")
    val histA = txt(120); val histB = txt(120)
    val idx = graft.streaming.DocStream.buildChunkIndex(
      Seq((1L, histA), (2L, histB)).toDF("doc_id", "text"))
    val novel = txt(100)
    val quoting = txt(40) + " " + histA.substring(100, 500) + " " + txt(40)
    val rep = graft.streaming.DocStream.chunkDupFraction(
      Seq((10L, novel), (11L, quoting)).toDF("doc_id", "text"), idx)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rep(10L) === 0.0, s"novel doc flagged: ${rep(10L)}")
    assert(rep(11L) >= 0.25, s"quoted paragraph missed: ${rep(11L)}")
  }

  test("canonicalizeUrl: case/port/fragment/tracker variants collapse to one key") {
    import spark.implicits._
    val cases = Seq(
      ("HTTPS://Example.COM:443/Products/View#x", "https://example.com/Products/View"),
      ("https://example.com/p?utm_source=a&b=1&gclid=z", "https://example.com/p?b=1"),
      ("https://example.com/p?utm_source=a", "https://example.com/p"),
      ("http://Host.com:80/", "http://host.com"),
      ("http://host.com/UPPER/Path?Q=Mixed", "http://host.com/UPPER/Path?Q=Mixed"),
      ("https://h.io/view?id=1&utm_campaign=x&z=2", "https://h.io/view?id=1&z=2"),
      ("relative/path no scheme", "relative/path no scheme"))
    val out = cases.map(_._1).toDF("url")
      .select(col("url"), TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(out(in) === want, s"for $in") }
  }

  test("index sizing guidance: nlist tracks 4*sqrt(n), train sample ~256/centroid") {
    assert(Similarity.suggestNlist(2000) === math.max(16, (4 * math.sqrt(2000)).toInt))
    assert(Similarity.suggestNlist(1000000000L) > 100000) // ~126k at 1e9
    assert(Similarity.suggestNlist(10) === 16)            // floor: sandbox scale
    val f = Similarity.suggestTrainFraction(1000000000L, 126000)
    assert(f > 0.0 && f < 0.1) // a billion-vector corpus trains on a sample
    assert(Similarity.suggestTrainFraction(1000, 16) === 1.0) // tiny corpus: all
  }

  test("two-phase top-k matches exact ranking (brute force, rank ordering)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val knn = Similarity.bruteForceKnn(q, emb, k = 5).collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(knn.length === 5)
    val cosines = knn.map(_.getAs[Double]("cosine"))
    assert(cosines.sameElements(cosines.sorted.reverse)) // descending
    assert(knn.head.getAs[Long]("vec_id") === 0L)        // self first
  }

  test("text analysis columns") {
    val r = docs.select(
      TextAnalysis.tokenCount(col("text")).as("nt"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.qualityScore(col("text")).as("q")).collect()
    assert(r(0).getAs[Int]("nt") === 14)
    assert(r(0).getAs[String]("lang") === "en")
    assert(r(4).getAs[String]("lang") === "de")
    assert(r(0).getAs[String]("fp") === r(3).getAs[String]("fp"))
    assert(r(0).getAs[Double]("q") > 0.0 && r(0).getAs[Double]("q") <= 1.0)
  }

  test("multimodal: asset wrap + stub decode + resize plan, deterministic") {
    val assets = Multimodal.toAssets(docs, "doc_id", "text", "image", "test")
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType.simpleString)).toSeq
    assert(shape(assets.schema) === shape(Multimodal.assetSchema))
    val decoded = Multimodal.decode(assets)
    val planned = Multimodal.resizePlan(decoded, maxSide = 256).collect()
    assert(planned.length === 5)
    planned.foreach { r =>
      assert(r.getAs[Int]("target_width") <= 256 && r.getAs[Int]("target_height") <= 256)
      assert(r.getAs[Seq[Float]]("feature").length === 8)
    }
    // determinism: same text → same decode
    val d = decoded.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d(1L) === d(4L))
  }

  test("multimodal: REAL image decode through the distributed pipeline (JDK ImageIO)") {
    import spark.implicits._
    // a 40×20 solid-color PNG rendered in-memory: decode must return the
    // true dims and a mean-color feature matching the paint color
    val img = new java.awt.image.BufferedImage(40, 20,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val gfx = img.createGraphics()
    gfx.setColor(new java.awt.Color(200, 100, 50)); gfx.fillRect(0, 0, 40, 20); gfx.dispose()
    val png = { val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", b); b.toByteArray }
    val bmp = { val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", b); b.toByteArray }
    assert(Multimodal.isImage(png) && Multimodal.isImage(bmp))
    val assets = Multimodal.toAssets(
      Seq((1L, png), (2L, bmp)).toDF("id", "bytes"), "id", "bytes", "image", "test")
    val rows = Multimodal.decode(assets).collect()
      .map(r => r.getLong(0) -> r).toMap
    Seq(1L, 2L).foreach { id =>
      val r = rows(id)
      assert(r.getInt(1) === 40 && r.getInt(2) === 20 && r.getInt(3) === 3)
      val f = r.getSeq[Float](4)
      assert(math.abs(f(0) - 200 / 255.0) < 0.02, s"meanR ${f(0)}") // mean R
      assert(math.abs(f(1) - 100 / 255.0) < 0.02) // mean G
      assert(math.abs(f(2) - 50 / 255.0) < 0.02)  // mean B
      assert(math.abs(f(5) - 2.0f) < 1e-4)        // aspect 40/20
    }
  }

  test("image near-dup: dHash + pigeonhole blocking pairs perturbed and " +
      "resized copies, not distinct images") {
    import spark.implicits._
    def png(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val l = math.max(0, math.min(255, f(x, y)))
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
      }
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", b); b.toByteArray
    }
    // smooth low-frequency luma pattern: cell means stable under resize
    def base(w: Int, h: Int)(x: Int, y: Int): Int =
      (128 + 100 * math.sin(2 * math.Pi * x / w) *
        math.cos(2 * math.Pi * y / h)).toInt
    val b0 = png(144, 128, base(144, 128))                            // original
    val b1 = png(144, 128, (x, y) => base(144, 128)(x, y) + 3)        // re-exposed copy
    val b2 = png(72, 64, base(72, 64))                                // downscaled copy
    val b3 = png(144, 128, (x, y) => 255 - base(144, 128)(x, y))      // inverted: distinct
    val assets = Multimodal.toAssets(
      Seq((0L, b0), (1L, b1), (2L, b2), (3L, b3)).toDF("id", "bytes"),
      "id", "bytes", "image", "test")
    val pairs = Multimodal.imageNearDup(assets, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"perturbed copy not paired: $pairs")
    assert(pairs.contains((0L, 2L)), s"resized copy not paired: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"distinct image falsely paired: $pairs")
    // the hash itself: inverted pattern flips every gradient sign
    val h0 = Multimodal.dHash64(b0).get
    val h3 = Multimodal.dHash64(b3).get
    assert(java.lang.Long.bitCount(h0 ^ h3) > 32)
  }

  test("normalizeText: NFC composes decomposed accents, dedup collapses " +
      "encoding variants") {
    import spark.implicits._
    val variants = Seq(
      (1L, "Caf\u00e9  du   Marche\u0301"), // precomposed + decomposed + messy ws
      (2L, "cafe\u0301 du marche\u0301"),   // fully decomposed
      (3L, "CAF\u00c9 DU MARCH\u00c9"),     // upper precomposed
      (4L, "totally different"))
      .toDF("doc_id", "text")
    val out = variants
      .select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === out(2L) && out(2L) === out(3L))
    assert(out(1L) === "caf\u00e9 du march\u00e9")
    // exact dedup over normalized text: the three encoding variants are ONE doc
    assert(Dedup.exact(variants.withColumn("text",
      TextAnalysis.normalizeText(col("text")))).count() === 2)
    // and the SQL surface (GraftExtensions) exposes the same expression
    assert(spark.sql("SELECT nfc_normalize('e\u0301') = '\u00e9' AS ok")
      .head.getBoolean(0))
  }

  test("audio near-dup: energy-envelope aHash pairs attenuated and " +
      "resampled copies, not a distinct clip") {
    import spark.implicits._
    def wav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.indices.foreach(i => bb.putShort(i * 2, samples(i)))
      val out = new java.io.ByteArrayOutputStream()
      val hdr = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      hdr.put("RIFF".getBytes); hdr.putInt(36 + data.length); hdr.put("WAVE".getBytes)
      hdr.put("fmt ".getBytes); hdr.putInt(16); hdr.putShort(1); hdr.putShort(1)
      hdr.putInt(sampleRate); hdr.putInt(sampleRate * 2); hdr.putShort(2); hdr.putShort(16)
      hdr.put("data".getBytes); hdr.putInt(data.length)
      out.write(hdr.array()); out.write(data); out.toByteArray
    }
    // 1 s clip: 440 Hz carrier under a 3-hump envelope; the ENVELOPE is
    // the perceptual identity the hash must capture
    def clip(rate: Int, gain: Double, phase: Double): Array[Byte] =
      wav(rate, Array.tabulate(rate) { i =>
        val t = i.toDouble / rate
        val env = math.abs(math.sin(2 * math.Pi * 3 * t + phase))
        (gain * env * 20000 * math.sin(2 * math.Pi * 440 * i / rate)).toShort
      })
    val a0 = clip(8000, 1.0, 0)
    val a1 = clip(8000, 0.4, 0)           // attenuated copy: same gradient signs
    val a2 = clip(4000, 1.0, 0)           // resampled copy: same envelope shape
    val a3 = clip(8000, 1.0, math.Pi / 2) // shifted envelope: distinct clip
    val assets = Multimodal.toAssets(
      Seq((0L, a0), (1L, a1), (2L, a2), (3L, a3)).toDF("id", "bytes"),
      "id", "bytes", "audio", "test")
    val pairs = Multimodal.audioNearDup(assets, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"attenuated copy not paired: $pairs")
    assert(pairs.contains((0L, 2L)), s"resampled copy not paired: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"distinct clip falsely paired: $pairs")
    // gain invariance is exact: scaling cannot flip an energy gradient
    assert(Multimodal.aHash64(a0).get === Multimodal.aHash64(a1).get)
  }

  test("multimodal: REAL WAV PCM decode (RIFF chunk walk)") {
    // 1s of 16-bit mono PCM at 8 kHz: silence in the first half, a
    // full-scale square wave in the second → segment RMS ≈ 0 then ≈ 1
    val sampleRate = 8000; val frames = 8000
    val data = new Array[Byte](frames * 2)
    val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until frames).foreach { i =>
      val s: Short = if (i < frames / 2) 0
        else if ((i / 8) % 2 == 0) 32767 else -32768
      bb.putShort(i * 2, s)
    }
    val out = new java.io.ByteArrayOutputStream()
    val hdr = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.put("RIFF".getBytes); hdr.putInt(36 + data.length); hdr.put("WAVE".getBytes)
    hdr.put("fmt ".getBytes); hdr.putInt(16); hdr.putShort(1); hdr.putShort(1)
    hdr.putInt(sampleRate); hdr.putInt(sampleRate * 2); hdr.putShort(2); hdr.putShort(16)
    hdr.put("data".getBytes); hdr.putInt(data.length)
    out.write(hdr.array()); out.write(data)
    val wav = out.toByteArray
    assert(Multimodal.isWav(wav))
    val Some((w, h, ch, f)) = Multimodal.wavDecode(wav)
    assert(w === frames && h === 1 && ch === 1)
    assert(f.take(4).forall(_ < 0.01), s"silent half ${f.toSeq}")
    assert(f.drop(4).forall(_ > 0.9), s"loud half ${f.toSeq}")
  }

  test("multimodal: REAL video decode through the VideoDecoder seam (MJPEG-in-AVI)") {
    import spark.implicits._
    // a 3-frame MJPEG AVI built in memory: JPEG frames via the JDK's own
    // writer, wrapped in a RIFF 'AVI ' container with a LIST('movi') of
    // '00dc' chunks — the container format the pure-JVM decoder handles
    def jpegFrame(r: Int, g: Int, b: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gfx = img.createGraphics()
      gfx.setColor(new java.awt.Color(r, g, b)); gfx.fillRect(0, 0, 32, 24); gfx.dispose()
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", o); o.toByteArray
    }
    val frames = Seq(jpegFrame(255, 0, 0), jpegFrame(255, 0, 0), jpegFrame(255, 0, 0))
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      val h = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      h.put(id.getBytes("US-ASCII")); h.putInt(body.length)
      o.write(h.array()); o.write(body)
      if (body.length % 2 == 1) o.write(0) // RIFF word alignment
      o.toByteArray
    }
    val movi = {
      val o = new java.io.ByteArrayOutputStream()
      o.write("movi".getBytes("US-ASCII"))
      frames.foreach(f => o.write(chunk("00dc", f)))
      o.toByteArray
    }
    val avi = {
      val o = new java.io.ByteArrayOutputStream()
      val body = chunk("LIST", movi)
      val h = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      h.put("RIFF".getBytes("US-ASCII")); h.putInt(4 + body.length)
      h.put("AVI ".getBytes("US-ASCII"))
      o.write(h.array()); o.write(body)
      o.toByteArray
    }
    // direct decode: true dims, channel count, frame count, red feature
    val Some(info) = Multimodal.MjpegAviDecoder.decode(avi)
    assert(info.width === 32 && info.height === 24 && info.channels === 3)
    assert(info.nFrames === 3)
    assert(math.abs(info.feature(0) - 1.0) < 0.05, s"meanR ${info.feature(0)}")
    assert(info.feature(2) < 0.1, s"meanB ${info.feature(2)}")
    // through the distributed decode stage: the MJPEG decoder is the
    // DEFAULT video path now — real dims come back without opting in;
    // the stub seam still works when explicitly selected
    val assets = Multimodal.toAssets(
      Seq((7L, avi)).toDF("id", "bytes"), "id", "bytes", "video", "test")
    val real = Multimodal.decode(assets).collect()(0)
    assert(real.getInt(1) === 32 && real.getInt(2) === 24 && real.getInt(3) === 3)
    val stubbed = Multimodal.decode(assets, Multimodal.StubVideoDecoder).collect()(0)
    assert(stubbed.getInt(1) !== 32, "explicit stub must stay deterministic-fake")
    // the video perceptual hash IS the first frame's dHash — and the
    // text→AVI renderer is deterministic: equal inputs, equal hashes
    assert(Multimodal.vHash64(avi) === Multimodal.dHash64(frames.head))
    val avis = Multimodal.renderTextAvis(
      Seq((1L, "same text"), (2L, "same text"), (3L, "different")).toDF("id", "p"),
      "id", "p")
    val hs = Multimodal.videoHashes(Multimodal.toAssets(avis, "asset_id", "avi", "video", "t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) === hs(2L), "equal prefixes must hash identically")
    assert(hs.size === 3)
  }

  test("multimodal: REAL video decode of Photo-JPEG in QuickTime/MOV " +
    "(atom walk through stsd/stsz/stsc/stco); compressed codecs fall through") {
    import spark.implicits._
    def jpegFrame(r: Int, g: Int, b: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(40, 30,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gfx = img.createGraphics()
      gfx.setColor(new java.awt.Color(r, g, b)); gfx.fillRect(0, 0, 40, 30); gfx.dispose()
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", o); o.toByteArray
    }
    // minimal classic QuickTime: ftyp + mdat(JPEG samples) + moov with the
    // four stbl tables the decoder resolves samples through
    def atom(typ: String, body: Array[Byte]*): Array[Byte] = {
      val len = 8 + body.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len); bb.put(typ.getBytes("ISO-8859-1")); body.foreach(bb.put)
      bb.array()
    }
    def be(ints: Int*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(ints.length * 4)
      ints.foreach(bb.putInt); bb.array()
    }
    def buildMov(format: String, frames: Seq[Array[Byte]]): Array[Byte] = {
      val ftyp = atom("ftyp", "qt  ".getBytes("ISO-8859-1"), be(0),
        "qt  ".getBytes("ISO-8859-1"))
      val mdat = atom("mdat", frames.flatten.toArray)
      val firstSample = ftyp.length + 8 // absolute offset of mdat body
      val stsdEntry = {
        val bb = java.nio.ByteBuffer.allocate(16)
        bb.putInt(16); bb.put(format.getBytes("ISO-8859-1"))
        bb.put(new Array[Byte](6)); bb.putShort(1) // reserved + dataRefIdx
        bb.array()
      }
      val stbl = atom("stbl",
        atom("stsd", be(0, 1), stsdEntry),
        atom("stsz", be(0, 0, frames.length) ++ be(frames.map(_.length): _*)),
        atom("stsc", be(0, 1, 1, frames.length, 1)),
        atom("stco", be(0, 1, firstSample)))
      val moov = atom("moov", atom("trak", atom("mdia", atom("minf", stbl))))
      ftyp ++ mdat ++ moov
    }
    val frames = Seq(jpegFrame(0, 200, 0), jpegFrame(0, 200, 0), jpegFrame(0, 200, 0))
    val mov = buildMov("jpeg", frames)
    val Some(info) = Multimodal.MjpegMovDecoder.decode(mov)
    assert(info.width === 40 && info.height === 30 && info.channels === 3)
    assert(info.nFrames === 3)
    assert(info.feature(1) > 0.5 && info.feature(0) < 0.2,
      s"green feature wrong: ${info.feature.toSeq}")
    // the default seam now handles MOV without opting in
    val assets = Multimodal.toAssets(
      Seq((9L, mov)).toDF("id", "bytes"), "id", "bytes", "video", "test")
    val real = Multimodal.decode(assets).collect()(0)
    assert(real.getInt(1) === 40 && real.getInt(2) === 30 && real.getInt(3) === 3)
    // the video perceptual hash IS the first frame's dHash, same as AVI
    assert(Multimodal.vHash64(mov) === Multimodal.dHash64(frames.head))
    // a COMPRESSED codec in the same wrapper (avc1 = H.264) is not
    // decodable pure-JVM: the seam declines it and the deterministic stub
    // takes over — the documented bring-your-own-decoder fall-through
    val h264 = buildMov("avc1", frames)
    assert(Multimodal.MjpegMovDecoder.decode(h264).isEmpty)
    val stubbed = Multimodal.decode(Multimodal.toAssets(
      Seq((10L, h264)).toDF("id", "bytes"), "id", "bytes", "video", "test"))
      .collect()(0)
    assert(stubbed.getInt(1) !== 40, "compressed codec must fall to the stub")
  }

  test("multimodal: an EXTERNAL codec plugs into the VideoDecoder seam — " +
    "decode, vHash64 and near-dup all work through it unchanged") {
    import spark.implicits._
    // a raw-RGB container no built-in decoder knows: 'GRV0' magic, then
    // LE width/height/nFrames, then nFrames planes of w*h*3 RGB bytes —
    // the shape of a fixture-generator or FFmpeg-pipe output
    def rawVideo(w: Int, h: Int, frames: Seq[(Int, Int) => Int]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16 + frames.length * w * h * 3)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("GRV0".getBytes("US-ASCII")); bb.putInt(w); bb.putInt(h)
      bb.putInt(frames.length)
      frames.foreach { f =>
        for (y <- 0 until h; x <- 0 until w) {
          val l = f(x, y) & 0xff
          bb.put(l.toByte); bb.put(l.toByte); bb.put(l.toByte)
        }
      }
      bb.array()
    }
    object RawRgbDecoder extends Multimodal.VideoDecoder {
      private def parse(bytes: Array[Byte]): Option[(Int, Int, Int, java.nio.ByteBuffer)] = {
        if (bytes.length < 16 || new String(bytes, 0, 4, "US-ASCII") != "GRV0") return None
        val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.position(4)
        Some((bb.getInt, bb.getInt, bb.getInt, bb))
      }
      def decode(bytes: Array[Byte]): Option[Multimodal.VideoInfo] =
        parse(bytes).map { case (w, h, n, bb) =>
          // feature: mean r/g/b of frame 0 (enough for the seam proof)
          var r = 0L; var g = 0L; var b = 0L
          (0 until w * h).foreach { _ =>
            r += bb.get() & 0xff; g += bb.get() & 0xff; b += bb.get() & 0xff }
          val px = (w * h * 255).toFloat
          Some(Multimodal.VideoInfo(w, h, 3, n,
            Array(r / px, g / px, b / px, 0f, 0f, 0f, 0f, 0f))).get
        }
      override def firstFrame(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
        parse(bytes).map { case (w, h, _, bb) =>
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until h; x <- 0 until w) {
            val r = bb.get() & 0xff; val g = bb.get() & 0xff; val b = bb.get() & 0xff
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
          }
          img
        }
    }
    // two clips sharing a first frame (horizontal luma ramp), one reversed
    val ramp = (x: Int, _: Int) => x * 8
    val ramp2 = (x: Int, y: Int) => x * 8 + (y % 2)   // near-identical
    val anti = (x: Int, _: Int) => 255 - x * 8
    val v1 = rawVideo(32, 24, Seq(ramp, anti))
    val v2 = rawVideo(32, 24, Seq(ramp2, ramp2))
    val v3 = rawVideo(32, 24, Seq(anti, anti, anti))

    // the stock paths DECLINE this container (no crash, no fake hash)
    assert(Multimodal.vHash64(v1).isEmpty && Multimodal.MjpegAviDecoder.decode(v1).isEmpty)

    // plugged in: true dims/frames through the distributed decode stage
    val assets = Multimodal.toAssets(
      Seq((1L, v1), (2L, v2), (3L, v3)).toDF("id", "bytes"),
      "id", "bytes", "video", "t")
    val dec = Multimodal.decode(assets, RawRgbDecoder).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(dec(1L) === ((32, 24, 3)) && dec(3L) === ((32, 24, 3)))

    // perceptual hash + near-dup through the SAME plugin, machinery unchanged
    val h1 = Multimodal.vHash64(v1, RawRgbDecoder).get
    val h2 = Multimodal.vHash64(v2, RawRgbDecoder).get
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 4, "near-identical first frames")
    val pairs = Multimodal.videoNearDup(assets, maxDist = 4, video = RawRgbDecoder)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), s"expected only the planted pair: $pairs")
  }

  test("dupSpanReport: shared span found at ANY offset; disjoint docs report zero") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared"),               // span at offset 2
      (2L, s"$shared gamma delta epsilon zeta"), // same span at offset 0
      (3L, "entirely different words " + (1 to 10).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val r = Dedup.dupSpanReport(docs, spanTokens = 8)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r(1L) > 0 && r(2L) > 0, s"planted shared span missed: $r")
    assert(r(3L) == 0, s"false positive on disjoint doc: $r")
    // a 10-token shared span contains 3 shared 8-windows
    assert(r(1L) == 3 && r(2L) == 3, s"wrong shared-window count: $r")
  }

  test("docEmbed: near-duplicate texts at high cosine, unrelated texts apart; " +
    "vectors feed the ANN stack directly") {
    import graft.pipeline.Embed
    val vecs = Embed.docEmbed(docs, dims = 32)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val v = vecs.collect().map(r => r.getLong(0) ->
      r.getAs[scala.collection.Seq[Float]](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d // embeddings are L2-normalized already
    }
    assert(cos(v(1L), v(4L)) > 0.999, "exact dup texts must coincide")
    assert(cos(v(1L), v(2L)) > 0.8, "near-dup texts must stay close")
    assert(cos(v(1L), v(3L)) < cos(v(1L), v(2L)),
      "unrelated text must be farther than the near-dup")
    // drop-in for the ANN stack: self is nearest at cosine 1
    val q = vecs.where(col("vec_id") === 1L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val knn = graft.pipeline.Similarity.bruteForceKnn(q, vecs, k = 2)
      .orderBy("rank").collect()
    assert(knn(0).getAs[Long]("vec_id") === 1L ||
      knn(0).getAs[Long]("vec_id") === 4L) // its exact clone ties at 1.0
    assert(math.abs(knn(0).getAs[Double]("cosine") - 1.0) < 1e-5)
  }

  test("spanRebuild: first occurrence survives intact, later copy loses the span, " +
    "non-dup docs reconstruct byte-identical") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared"),               // FIRST global occurrence
      (2L, s"$shared gamma delta epsilon zeta"), // later copy — span dropped
      (3L, "entirely different words " + (1 to 10).map(i => s"other$i").mkString(" ")),
      (4L, "Short  Doc   With   Weird Spacing") // < 8 tokens: no windows
    ).toDF("doc_id", "text")
    val out = Dedup.spanRebuild(docs, spanTokens = 8)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    // reconstruction law: docs without duplicated windows rebuild to their
    // normalized (lowercased, whitespace-collapsed) text verbatim
    assert(out(1L) === ((12L, 0L, s"alpha beta $shared")))
    assert(out(3L)._2 === 0L &&
      out(3L)._3 === "entirely different words " + (1 to 10).map(i => s"other$i").mkString(" "))
    assert(out(4L) === ((5L, 0L, "short doc with weird spacing")))
    // the later copy drops exactly the covered token range: windows 1..3
    // (the shared 10 tokens) → tokens 1..10 dropped, tail survives
    assert(out(2L)._1 === 14L && out(2L)._2 === 10L)
    assert(out(2L)._3 === "gamma delta epsilon zeta", out(2L)._3)
  }

  test("bm25: tf/length saturation ranks correctly; ranks dense per query; " +
    "tie breaks by ascending doc id") {
    import spark.implicits._
    import graft.pipeline.Retrieval
    val docs = Seq(
      (1L, "apple banana"),
      (2L, "apple apple cherry"),
      (3L, "banana cherry date"),
      (4L, "apple banana")      // exact dup of 1 → same score, id tie-break
    ).toDF("doc_id", "text")
    val probes = Seq((10L, "apple")).toDF("query_id", "qtext")
    val got = Retrieval.bm25(docs, probes, k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // doc 2 has tf=2 (higher even after length normalization); docs 1 and
    // 4 are identical → identical score, ascending-id tie-break
    assert(got.map(_._1).toSeq === Seq(2L, 1L, 4L), got.mkString(", "))
    assert(got(1)._2 === got(2)._2)
    assert(got.map(_._3).toSeq === Seq(1, 2, 3))
    // hand check: N=4, avgdl=2.5, df(apple)=3 → idf=ln((4−3+0.5)/3.5+1)
    val idf = math.log((4.0 - 3 + 0.5) / (3 + 0.5) + 1.0)
    val w2 = BigDecimal(idf * (2 * (1.2 + 1.0)) /
        (2 + 1.2 * (0.25 + 0.75 * (3 / 2.5))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0)._2 === w2, s"got ${got(0)._2} want $w2")
  }

  test("knScore: hand-computed interpolated Kneser–Ney on 'a b a b'") {
    import spark.implicits._
    val out = TextAnalysis.knScore(Seq((1L, "a b a b")).toDF("doc_id", "text"))
      .collect()(0)
    // c2: (a,b)=2,(b,a)=1; c(a)=2 nf(a)=1; c(b)=1 nf(b)=1; Pcont=1/2 each;
    // P(b|a)=(1.25+0.375)/2=0.8125, P(a|b)=0.25+0.375=0.625
    // lps: ln(.8125)→-0.207639 ×2, ln(.625)→-0.470004; mean=-0.295094
    assert(out.getAs[Long]("n_bigrams") === 3L)
    assert(out.getAs[Double]("kn_score") === -0.295094, out.toString)
  }

  test("spanRebuild: intra-doc repeated span — second occurrence dropped by the " +
    "same global-first rule") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq((7L, s"$span middle filler words $span")).toDF("doc_id", "text")
    val out = Dedup.spanRebuild(docs, spanTokens = 8).collect()(0)
    // tokens: 8 span + 3 filler + 8 span = 19; second span occurrence
    // (positions 12..19) is a non-owner window → 8 tokens dropped
    assert(out.getLong(1) === 19L && out.getLong(2) === 8L)
    assert(out.getString(3) === s"$span middle filler words")
  }

  test("spanRebuild: a 1M+-window document cannot overflow into a neighbor's " +
    "election range (struct owner key has no packed-arithmetic ceiling)") {
    import spark.implicits._
    // doc 1 carries 1,000,010 unique tokens, THEN the shared 8-token span:
    // its shared window sits at win_idx > 10^6, which the old
    // doc_id*10^6+idx packing would order AFTER doc 2's window at idx 1 —
    // electing the wrong owner. struct(doc_id, win_idx) orders by the real
    // key, so doc 1 owns the span and survives intact.
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val big = (1 to 1000010).map(i => s"t$i").mkString(" ") + " " + shared
    val docs = Seq((1L, big), (2L, s"$shared " + (1 to 12).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.spanRebuild(docs, spanTokens = 8)
      .select("doc_id", "n_tok", "n_drop").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((1000018L, 0L)), s"owner doc lost tokens: ${out(1L)}")
    assert(out(2L) === ((20L, 8L)), s"later copy kept the span: ${out(2L)}")
  }

  test("spanRebuild: string doc ids elect the lexicographically first owner " +
    "(no numeric-id assumption)") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"q$i").mkString(" ")
    val docs = Seq(("urlB", s"$span bee words here tail"),
                   ("urlA", s"ant prefix $span")).toDF("doc_id", "text")
    val out = Dedup.spanRebuild(docs, spanTokens = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out("urlA") === ((0L, s"ant prefix $span")))
    assert(out("urlB") === ((8L, "bee words here tail")))
  }

  test("spanRebuildBytes: non-dup docs rebuild BYTE-identical (case, tabs, " +
    "newlines, leading/trailing runs); dup spans splice out with their " +
    "trailing whitespace") {
    import spark.implicits._
    val weird = "  Hello\tWorld\n two  three FOUR five\r\n six seven eight nine  "
    val docs = Seq(
      (1L, "alpha beta " + (1 to 8).map(i => s"v$i").mkString(" ")), // owner
      (2L, "  V1  V2\tV3 V4 V5 V6 V7 V8 gamma delta"), // dup span, odd bytes
      (3L, weird)                                       // no dups: identity
    ).toDF("doc_id", "text")
    val out = Dedup.spanRebuildBytes(docs, spanTokens = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(3L) === ((10L, 0L, weird)), s"byte identity broken: ${out(3L)}")
    assert(out(1L)._2 === 0L &&
      out(1L)._3 === "alpha beta " + (1 to 8).map(i => s"v$i").mkString(" "))
    // doc 2: the 8 dup tokens drop with each one's FOLLOWING whitespace;
    // the leading run (before any token) survives
    assert(out(2L) === ((10L, 8L, "  gamma delta")), s"splice wrong: ${out(2L)}")
  }

  test("BloomContains: zero false negatives; bloom decontamination equals the exact path") {
    import spark.implicits._
    val members = (1L to 1000L).map(_ * 7919L)
    val bf = members.toDF("h").stat.bloomFilter("h", 1000L, 0.001)
    val bytes = graft.functions.BloomContains.serialize(bf)
    val probed = (members ++ members.map(_ + 1L)).toDF("h")
      .select(col("h"), graft.functions.BloomContains(bytes, col("h")).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(members.forall(probed(_)), "bloom false negative")
    val fps = members.map(_ + 1L).count(probed(_))
    assert(fps <= 20, s"fp rate blew past the bound: $fps/1000")
    // end to end: bloom-prefiltered decontamination == exact path
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val snips = graft.pipeline.Decontaminate.evalSnippets(docs)
    val exact = graft.pipeline.Decontaminate.contaminated(docs, snips)
      .collect().map(_.toSeq).toSet
    val bloomed = graft.pipeline.Decontaminate.contaminatedBloom(docs, snips)
      .collect().map(_.toSeq).toSet
    assert(bloomed === exact && exact.nonEmpty)
  }

  test("deflate_ratio: repetition compresses, entropy doesn't; null/empty safe; SQL-exposed") {
    import spark.implicits._
    val docs = Seq(
      ("rep", "ab " * 300),
      ("nat", "the quick brown fox jumps over the lazy dog and keeps on running far"),
      ("hex", (1 to 10).map(i => s"row$i").mkString(" ")),
      ("empty", "")
    ).toDF("kind", "text")
      .select(col("kind"), graft.functions.DeflateRatio(col("text")).as("r"),
        graft.functions.DeflateRatio(md5(col("text"))).as("rh"))
      .collect().map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(docs("rep")._1 < 0.1, s"repetition not compressed: ${docs("rep")}")
    assert(docs("rep")._1 < docs("nat")._1 && docs("nat")._1 < docs("nat")._2,
      s"ordering violated: $docs")
    assert(docs("empty")._1 === 1.0)
    // short high-entropy strings pay the zlib header: ratio can exceed 1
    // (that excess IS the signal) but stays bounded
    assert(docs.values.forall { case (a, b) => a > 0 && a <= 1.2 && b <= 1.6 })
    // null propagates
    assert(Seq(Tuple1(Option.empty[String])).toDF("text")
      .select(graft.functions.DeflateRatio(col("text"))).head.isNullAt(0))
    // registered as a SQL function via GraftExtensions
    assert(spark.sql("SELECT deflate_ratio('aa aa aa aa aa aa aa aa')")
      .head.getDouble(0) < 1.0)
  }

  test("winnow: shared ≥(w+k−1)-token run guarantees a shared fingerprint; selection is sparse") {
    import spark.implicits._
    val run = (1 to 6).map(i => s"shared$i").mkString(" ") // w+k-1 = 6 tokens
    val docs = Seq(
      (1L, s"aa bb cc dd $run"),
      (2L, s"$run xx yy zz ww"),
      (3L, "totally unrelated content " + (1 to 12).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
        explode(TextAnalysis.winnow(col("text"))).as("fp"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet)
    assert((fps(1L) & fps(2L)).nonEmpty, "coverage guarantee violated")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    // sparsity: winnowing must select strictly fewer fps than grams exist
    val grams1 = docs.where(col("doc_id") === 1)
      .select(size(TextAnalysis.shingles(col("text")))).head.getInt(0)
    assert(fps(1L).size < grams1, s"${fps(1L).size} !< $grams1")
  }

  test("new ops degrade safely: null/empty text, empty corpus, single-value metric") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val weird = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, null),
        org.apache.spark.sql.Row(2L, ""),
        org.apache.spark.sql.Row(3L, "one two three four five six seven eight nine"))),
      schema)
    // null/empty text rows drop out of the span report; the real doc stays
    val spans = Dedup.dupSpanReport(weird, spanTokens = 8).collect()
    assert(spans.map(_.getLong(0)).toSet === Set(3L))
    // winnow: null/empty text yields NO fingerprint rows
    val fps = weird.select(col("doc_id"),
      explode(graft.pipeline.TextAnalysis.winnow(col("text"))).as("fp"))
      .collect().map(_.getLong(0)).toSet
    assert(fps === Set(3L), s"null/empty docs leaked fingerprints: $fps")
    // snapshot diff on disjoint id spaces: everything added or removed
    val v1 = Seq((1L, "a")).toDF("doc_id", "text")
    val v2 = Seq((2L, "b")).toDF("doc_id", "text")
    val d = graft.pipeline.Snapshot.diff(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "removed", 2L -> "added"))
    // single-value metric: both quantiles collapse to it
    val one = Seq.fill(10)(7L).toDF("v")
    assert(graft.pipeline.Profile.quantileBand(one, "v", 0.05, 0.95) === (7L, 7L))
  }

  test("quantileBand: exact type-1 ranks on a known histogram; guard fails loud") {
    import spark.implicits._
    // values 1..100 once each: p05 -> rank ceil(5)=5, p95 -> rank 95
    val df = (1 to 100).map(_.toLong).toDF("v")
    assert(graft.pipeline.Profile.quantileBand(df, "v", 0.05, 0.95) === (5L, 95L))
    // duplicates shift ranks but not the value-order selection: fifty 1s
    // then 51..100 → n=100; rank 5 falls inside the 1s run, rank 95 on 95
    val dup = (Seq.fill(50)(1L) ++ (51L to 100L)).toDF("v")
    assert(graft.pipeline.Profile.quantileBand(dup, "v", 0.05, 0.95) === (1L, 95L))
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Profile.quantileBand(df, "v", 0.05, 0.95, maxDistinct = 10)
    }
    assert(e.getMessage.contains("distinct values"), e.getMessage)
  }

  test("IVF-PQ index: save/load round trip and incremental append") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as float)) as embedding")
    val old = emb.where(col("vec_id") < 400)
    val idx = Similarity.ivfPqBuild(old, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Similarity.saveIvfPq(idx, dir)
    val loaded = Similarity.loadIvfPq(spark, dir)
    assert(loaded.m === idx.m && loaded.nCodes === idx.nCodes &&
      loaded.cId === idx.cId)
    assert(loaded.codes.count() === idx.codes.count())
    // the loaded index answers searches identically to the in-memory one
    val q = emb.orderBy("vec_id").limit(3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val a = Similarity.ivfPqSearch(q, idx, old, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Similarity.ivfPqSearch(q, loaded, old, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
    // the stored codes are partitioned by IVF cell and the probe join
    // DYNAMICALLY PRUNES the scan to the probed cells — at scale a query
    // batch reads nprobe/nlist of the index, not all of it
    val probePlan = Similarity.ivfPqSearch(q, loaded, old, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the codes scan:\n${probePlan.take(4000)}")
    // append a new batch against the FROZEN quantizers: the new ids are
    // immediately findable; a query for an appended vector returns itself
    val fresh = emb.where(col("vec_id") >= 400)
    val appended = Similarity.ivfPqAppend(loaded, fresh)
    assert(appended.codes.count() === emb.count())
    val qNew = fresh.orderBy("vec_id").limit(2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val hits = Similarity.ivfPqSearch(qNew, appended, emb, k = 3, nprobe = 8)
    val self = hits.where(col("q_id") === col("vec_id")).count()
    assert(self === 2L, "appended vectors must be their own nearest neighbor")
    // DISK append: encode the same fresh batch against the PERSISTED
    // quantizers — existing partition files are untouched, the reload
    // serves the union, appended ids are findable
    Similarity.appendIvfPq(spark, dir, fresh)
    val reloaded = Similarity.loadIvfPq(spark, dir)
    assert(reloaded.codes.count() === emb.count())
    val hits2 = Similarity.ivfPqSearch(qNew, reloaded, emb, k = 3, nprobe = 8)
    assert(hits2.where(col("q_id") === col("vec_id")).count() === 2L,
      "disk-appended vectors must be their own nearest neighbor")
  }

  test("IVF-PQ index is BORN de-fragmented: saving from a WIDE codes frame " +
    "lands one file per cell, and a wide append adds at most one file per " +
    "touched cell — neither needs a first compaction to serve cheaply") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as float)) as embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-born").toString
    // 16 input tasks × 8 cells would be up to 128 files unguarded
    val seed = emb.where(col("vec_id") < 400).repartition(16)
    Similarity.saveIvfPq(Similarity.ivfPqBuild(seed, nlist = 8), dir)
    val born = Similarity.ivfPqStats(spark, dir)
    assert(born.maxFilesPerCell === 1,
      s"saved index born fragmented: $born")
    val delta = emb.where(col("vec_id") >= 400).repartition(16)
    Similarity.appendIvfPq(spark, dir, delta)
    val after = Similarity.ivfPqStats(spark, dir)
    assert(after.maxFilesPerCell === 2,
      s"wide append re-fragmented (expected ≤1 new file/cell): $after")
    // the re-clustered store serves: an appended vector is its own top-1
    val probe = delta.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb
    val top = Similarity.ivfPqSearch(probe, Similarity.loadIvfPq(spark, dir),
      corpus, k = 1, nprobe = 8).collect()(0)
    assert(top.getAs[Long]("q_id") === top.getAs[Long]("vec_id"),
      "appended vector not served as its own nearest neighbor")
  }

  test("IVF-PQ maintenance: streamed appends fragment cells, maintainIvfPq " +
    "folds to one file per cell in a new generation, search results and " +
    "the exactly-once watermark survive, DPP still prunes the folded store") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as float)) as embedding")
    val seed = emb.where(col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-mnt").toString
    Similarity.saveIvfPq(Similarity.ivfPqBuild(seed, nlist = 8), dir)
    // three batch appends with fresh ids — up to one new file per touched
    // cell each, exactly the fragmentation a streaming ingest accumulates
    val delta = emb.where(col("vec_id") >= 400)
    (0 until 3).foreach { i =>
      assert(Similarity.appendIvfPqBatch(spark, dir,
        delta.withColumn("vec_id", col("vec_id") + lit(i * 10000L)),
        batchId = i.toLong))
    }
    val frag = Similarity.ivfPqStats(spark, dir)
    assert(frag.codesGen === 0 && frag.maxFilesPerCell > 1,
      s"test setup did not fragment: $frag")
    val preRows = Similarity.loadIvfPq(spark, dir).codes.count()
    val q = delta.orderBy("vec_id").limit(3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb.unionByName(
      (0 until 3).map(i => delta.withColumn("vec_id",
        col("vec_id") + lit(i * 10000L))).reduce(_ unionByName _)).distinct()
    def topk(): Set[(Long, Long)] =
      Similarity.ivfPqSearch(q, Similarity.loadIvfPq(spark, dir), corpus,
        k = 5, nprobe = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = topk()
    // over budget: fold + reclaim immediately (no readers in this test)
    assert(Similarity.maintainIvfPq(spark, dir,
      maxFilesPerCell = 1, keepPrior = 0), "maintain skipped the fold")
    val after = Similarity.ivfPqStats(spark, dir)
    assert(after.codesGen === 1, s"generation did not advance: $after")
    assert(after.maxFilesPerCell === 1, s"fold did not de-fragment: $after")
    assert(after.supersededGens === 0 && after.supersededBytes === 0L,
      s"vacuum(keepPrior=0) left superseded storage: $after")
    assert(Similarity.loadIvfPq(spark, dir).codes.count() === preRows,
      "fold changed the code row count")
    assert(topk() === before, "maintenance changed search results")
    // the probe still dynamically prunes to the probed cells' directories
    val plan = Similarity.ivfPqSearch(q, Similarity.loadIvfPq(spark, dir),
      corpus, k = 5, nprobe = 2).queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"DPP lost on the folded generation:\n${plan.take(3000)}")
    // the exactly-once watermark rode through the fold: a replay is a
    // disk no-op, the next batch id appends into the CURRENT generation
    assert(!Similarity.appendIvfPqBatch(spark, dir, delta, batchId = 2L),
      "replayed batchId ran after the fold — watermark lost")
    assert(Similarity.appendIvfPqBatch(spark, dir,
      delta.withColumn("vec_id", col("vec_id") + lit(50000L)), batchId = 3L))
    assert(Similarity.ivfPqStats(spark, dir).codesGen === 1)
    assert(Similarity.loadIvfPq(spark, dir).codes.count() > preRows,
      "post-fold append went to a dead generation")
    // healthy store: the next upkeep call is a no-op
    assert(!Similarity.maintainIvfPq(spark, dir, maxFilesPerCell = 4))
  }

  test("scrubAll masks IPs and phones; an in-URL IP masks as the URL") {
    import spark.implicits._
    val cases = Seq(
      "ping 10.0.0.1 now" -> "ping <IP> now",
      "see https://10.0.0.1/x then" -> "see <URL> then",
      "call 555-123-4567 or +14155552671" -> "call <PHONE> or <PHONE>",
      "version 1.2.3 stays, year 2024 stays" ->
        "version 1.2.3 stays, year 2024 stays",
      "mail a@b.co from 1.2.3.4" -> "mail <EMAIL> from <IP>")
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.scrubAll(col("t"))).as[String].collect().toSeq
    assert(got === cases.map(_._2))
  }

  test("htmlToText strips script/style/comments, decodes entities, keeps structure") {
    import spark.implicits._
    val html = "<html><head><style>p{a:1}</style>" +
      "<script>if (1 < 2) { alert(\"x\"); }</script></head>" +
      "<body><h1>Title</h1><p>one &amp; two &lt;three&gt;</p>" +
      "<!-- gone --><div>tail&nbsp;end</div></body></html>"
    val out = Seq(html).toDF("h")
      .select(TextAnalysis.htmlToText(col("h")).as("t"))
      .as[String].collect().head
    // the script's literal '<' must not survive as a bogus tag boundary
    assert(out === "Title\none & two <three>\ntail end")
  }

  test("htmlMainText drops link-dense nav lines, keeps prose; plan is narrow") {
    import spark.implicits._
    val html = "<body><p>real prose with several plain words here</p>" +
      "<ul><li><a href=\"/a\">home</a></li><li><a href=\"/b\">about us</a></li></ul>" +
      "<p>ok</p></body>"
    val df = graft.pipeline.TextAnalysis.htmlMainText(
      Seq((1L, html)).toDF("doc_id", "h"), col("h"))
    val rows = df.collect().map(r => (r.getAs[String]("line"),
      r.getAs[Double]("link_density"), r.getAs[Boolean]("kept")))
    val prose = rows.find(_._1.startsWith("real prose")).get
    assert(prose._2 === 0.0 && prose._3)
    val nav = rows.filter(r => r._1 == "home" || r._1 == "about us")
    assert(nav.nonEmpty && nav.forall(!_._3)) // pure-link lines dropped
    assert(rows.find(_._1 == "ok").exists(!_._3)) // too few tokens
    // extraction is a narrow map + explode: zero exchanges at any scale
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = graft.pipeline.TextAnalysis.htmlMainText(
      docs.select(col("doc_id"), col("text").as("h")), col("h"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"html extraction shuffles:\n$p")
  }
}
