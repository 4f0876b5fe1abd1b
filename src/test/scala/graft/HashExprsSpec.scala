package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Embed, Sampling, Selection}

/** Differential gates for the fused md5-derived hash expressions
  * (r18 optimization round): [[graft.functions.Md5Bucket]] and
  * [[graft.functions.SignedGramSums]] must be bit-identical to the
  * pre-fusion Column-combinator formulations they replaced — the same
  * md5 bytes, the same first-4-hex-chars arithmetic — on adversarial
  * and randomized inputs. The fused forms are what the DSIR/classifier/
  * embedding hot paths now evaluate; these pins are what lets the DuckDB
  * oracles keep replaying the original hex-string SQL. */
class HashExprsSpec extends SparkSpec {
  import spark.implicits._

  private val adversarial = Seq(
    "", " ", "a", "spark", "hash join", "ünïcödé", "日本語テキスト",
    "a|0", "with|pipe|chars", "0", "-17", "3.5", "x" * 500,
    "\u0000nul", "emoji 🎯 inside", "tab\tand\nnewline")

  private val rnd = new scala.util.Random(421)
  private def randWord(): String = {
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    (0 until (1 + rnd.nextInt(9))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
  }

  test("Md5Bucket === conv(substring(md5(s),1,4),16,10)%B on adversarial + " +
      "random strings, several bucket counts, including repeats (memo path)") {
    val strs = (adversarial ++ Seq.fill(3000)(randWord()) ++
      adversarial).toDF("s") // repeat the adversarial block: memo hits
    for (b <- Seq(2, 100, 512, 4096)) {
      val bad = strs.select(
          Sampling.hashBucketMemo(col("s"), b).as("fused"),
          Sampling.hashBucket(col("s"), b).as("ref"))
        .where(col("fused") =!= col("ref") ||
          col("fused").isNull =!= col("ref").isNull)
        .count()
      assert(bad === 0, s"buckets=$b")
    }
  }

  test("Md5Bucket null-in null-out and non-string key cast parity") {
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (null, null), (17L, "b"))
      .toDF("id", "s")
    val r = df.select(
      Sampling.hashBucketMemo(col("id"), 100).as("f_id"),
      Sampling.hashBucket(col("id"), 100).as("r_id"),
      Sampling.hashBucketMemo(col("s"), 100).as("f_s"),
      Sampling.hashBucket(col("s"), 100).as("r_s")).collect()
    r.foreach { row =>
      assert(row.isNullAt(0) === row.isNullAt(1))
      if (!row.isNullAt(0)) assert(row.getInt(0) === row.getInt(1))
      assert(row.isNullAt(2) === row.isNullAt(3))
      if (!row.isNullAt(2)) assert(row.getInt(2) === row.getInt(3))
    }
  }

  test("SignedGramSums === explode + per-dim sum of the md5-parity sign, " +
      "random token bags with repeated grams, dims 2/8/16") {
    val texts = (0 until 400).map { i =>
      (i.toLong,
        (0 until rnd.nextInt(30)).map(_ => randWord()).mkString(" "))
    }.toDF("doc_id", "text")
    for (dims <- Seq(2, 8, 16)) {
      val fused = texts.select(col("doc_id"),
          graft.functions.SignedGramSums(Embed.gramArray("text"), dims).as("cs"))
        .select(col("doc_id"), posexplode(col("cs")).as(Seq("dim", "c")))
      val g = Selection.grams(texts, "doc_id", "text")
      val ref = g.groupBy("doc_id")
        .agg(sum(Embed.sign(col("g"), 0)).as("c0"),
          (1 until dims).map(d => sum(Embed.sign(col("g"), d)).as(s"c$d")): _*)
        .select(col("doc_id"),
          posexplode(array((0 until dims).map(d => col(s"c$d")): _*))
            .as(Seq("dim", "c")))
      // fused covers gram-less docs with zero sums; align on the ref's docs
      val joined = fused.join(ref, Seq("doc_id", "dim"), "right")
      assert(joined.where(fused("c") =!= ref("c")).count() === 0)
      assert(ref.count() > 0)
    }
  }

  test("WindowMd5Hex === transform(sequence(1, max(size-k+1,1)), i => " +
      "md5(array_join(slice(toks,i,k), ' '))) — short/empty/clamped windows") {
    val texts = (Seq("", "a", "a b", "one two three four five six seven " +
      "eight nine", "repeat repeat repeat repeat repeat") ++
      Seq.fill(300)((0 until rnd.nextInt(25)).map(_ => randWord()).mkString(" ")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (k <- Seq(1, 3, 8)) {
      val toksCol = split(lower(trim(col("text"))), "\\s+")
      val fused = texts.select(col("doc_id"),
        graft.functions.WindowMd5Hex(toksCol, k).as("fps"))
      val ref = texts.select(col("doc_id"),
        transform(
          sequence(lit(1), greatest(size(toksCol) - (k - 1), lit(1))),
          i => md5(array_join(slice(toksCol, i, lit(k)), " "))).as("fps"))
      assert(fused.exceptAll(ref).count() === 0, s"k=$k")
      assert(ref.exceptAll(fused).count() === 0, s"k=$k")
    }
  }

  test("docEmbedLong after the in-row rewrite matches the exploded " +
      "formulation end to end (norms, rounding, gram-less doc drop)") {
    val texts = (Seq((1L, "alpha beta alpha"), (2L, ""), (3L, "  "),
      (4L, "gamma"), (5L, null.asInstanceOf[String])) ++
      (6L until 80L).map(i => (i, (0 until rnd.nextInt(12)).map(_ => randWord()).mkString(" ")))
    ).toDF("doc_id", "text")
    val dims = 8
    val now = Embed.docEmbedLong(texts, dims)
    // the pre-rewrite formulation, inline
    val g = Selection.grams(texts, "doc_id", "text")
    val comp = g.groupBy("doc_id")
      .agg(sum(Embed.sign(col("g"), 0)).as("c0"),
        (1 until dims).map(d => sum(Embed.sign(col("g"), d)).as(s"c$d")): _*)
      .select(col("doc_id"),
        array((0 until dims).map(d => col(s"c$d")): _*).as("cs"))
    val ref = comp.select(col("doc_id"),
        sqrt(aggregate(col("cs"), lit(0L), (a, x) => a + x * x).cast("double")).as("n"),
        posexplode(col("cs")).as(Seq("dim", "c")))
      .where(col("n") > 0.0)
      .select(col("doc_id"), col("dim").cast("int").as("dim"),
        round(col("c").cast("double") / col("n"), 6).as("v"))
    assert(now.exceptAll(ref).count() === 0)
    assert(ref.exceptAll(now).count() === 0)
    assert(ref.count() > 0)
  }
}
