package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Benchmark main: times every [[Queries.rows]] row at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line. Failures are LOUD: a crashing query is reported in
  * an "errors" map (and to stderr) instead of masquerading as a fast
  * timing. The JSON line is printed to stdout AND written to
  * bench_out.json so a log-prefixing runner (sbt [info]) can't make it
  * unparseable.
  *
  * SELF-ADJUDICATING against machine noise: `SPARK_GRAFT_BENCH_RUNS`
  * (default 3) back-to-back in-JVM sweeps; the reported per-query numbers
  * are MEDIANS across QUIET sweeps (totals within 1.5× of the quietest),
  * with min–max spread over all samples in a parallel "spread" map.
  * Contention triggers a REACTION, not just a flag: up to
  * `SPARK_GRAFT_BENCH_MAX_EXTRA` (default 2) replacement sweeps run until
  * `runs` quiet sweeps exist; "contended":true in the output means even
  * that failed — the medians are then over the quiet subset available
  * (never inflated by sweeps known to be loaded). "value" is the sum of
  * medians; "sweeps" holds every sweep's wall-clock and "quiet_sweeps"
  * the indices that fed the medians. */
object Bench {

  /** Real whole-stage-codegen warmup: compile-and-run the operator shapes
    * the suite actually uses (hash agg, broadcast + sort-merge join,
    * partitioned window, sort, expand) so the first timed query measures
    * the query, not the JVM's first codegen compile (`range(1000).sum`
    * warmed only the range scan; q1_agg was paying ~1 s of codegen and
    * memory-manager startup every run). Synthetic inputs — no table data
    * is cached, so per-query file-read costs stay honest. */
  private def warmCodegen(spark: SparkSession): Unit = {
    val a = spark.range(200000).selectExpr("id % 100 as k", "id as v",
      "cast(id as string) as s")
    val b = spark.range(100).selectExpr("id as k", "id * 2 as w")
    // hash aggregate + broadcast join + sort
    a.join(broadcast(b), "k").groupBy("k")
      .agg(sum("v").as("sv"), avg("w").as("aw"), count(lit(1)).as("c"))
      .orderBy("k").collect()
    // sort-merge join (broadcast disabled by size hint is overkill; a big
    // right side forces SMJ under the 10MB default threshold)
    val c = spark.range(200000).selectExpr("id as k", "id as u")
    a.join(c, "k").selectExpr("sum(v + u)").collect()
    // partitioned window + filter
    a.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
      .filter(col("rn") <= 3).selectExpr("count(*)").collect()
    // string-heavy expressions (regex/split paths used by text queries)
    a.selectExpr("sum(length(concat(s, '-', s)))", "count(distinct k)").collect()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // SPARK_GRAFT_BENCH_FILTER: comma-separated row names (exact match)
    // for single-query perf iteration; unset = the full suite. An unknown
    // name fails here, before the session starts.
    val only = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty))
    val names = only.fold(Queries.rows)(Queries.named(_))
      .map(r => r.name -> r.fn).sortBy(_._1)
    val spark = Spark.local()
    try {
      warmCodegen(spark)
      // metadata-only count of each table (parquet count() reads footers,
      // not data) — warms the session's shared FileStatusCache so queries
      // measure compute, not first-touch file listing
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings").foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }
    } catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }

    // per-query samples across sweeps, tagged with their sweep index; a
    // query that fails in one sweep is reported in errors but keeps the
    // samples from sweeps that succeeded
    val samples = scala.collection.mutable.LinkedHashMap(
      names.map { case (n, _) => n -> List.empty[(Int, Double)] }: _*)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val sweeps = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Each query runs against a CLEAN block store: pins (localCheckpoints)
    // that back a query's lazily-returned result are still registered when
    // the query's count() finishes, and 184 queries × several sweeps of
    // them in one JVM is exactly the storage-memory pressure that produced
    // the suite-context tails prior rounds had to adjudicate away. The
    // drain runs OUTSIDE the timed window — per-query cost stays honest,
    // and every query measures the engine, not its predecessors' residue.
    def runSweep(label: String): Unit = {
      val idx = sweeps.size
      val s0 = System.nanoTime()
      names.foreach { case (name, fn) =>
        try Spark.drainNewPins(spark) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          samples(name) = samples(name) :+ (idx -> (System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
            errors(name) = msg
            System.err.println(s"[bench] FAILED $name ($label): $msg")
        }
      }
      sweeps += (System.nanoTime() - s0) / 1e9
      System.err.println(f"[bench] $label: ${sweeps.last}%.1f s")
    }
    for (r <- 1 to runs) runSweep(s"sweep $r/$runs")

    // ---- contention ADJUDICATION, not just annotation: a sweep whose
    // total exceeds 1.5x the quietest sweep was measured on a loaded
    // machine (the r12 artifact: 247.9 then 393.0/401.4 s — neighbors
    // arrived mid-run and every multi-job query queued). React: re-run
    // whole sweeps (up to SPARK_GRAFT_BENCH_MAX_EXTRA, default 2) until
    // `runs` sweeps land within the quiet band, then report medians over
    // QUIET sweeps only. If the machine never quiets down, the medians
    // fall back to the quiet subset we have and contended stays true —
    // honest, but never inflated by sweeps we know were contended.
    // the band anchors to the quickest sweep WITH a full complement of
    // successful queries — a sweep whose total is artificially small
    // because queries failed early must not become the "quietest" and
    // reclassify genuinely healthy sweeps as loaded
    def quietIdx: Set[Int] = {
      val full = sweeps.indices.filter(i =>
        names.forall { case (n, _) => samples(n).exists(_._1 == i) })
      val pool = if (full.nonEmpty) full else sweeps.indices.toSeq
      val mn = pool.map(sweeps(_)).min
      sweeps.indices.filter(i => sweeps(i) <= mn * 1.5).toSet
    }
    val maxExtra = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_EXTRA", "2").toInt
    var extra = 0
    while (quietIdx.size < runs && extra < maxExtra) {
      extra += 1
      System.err.println(s"[bench] contended (quiet ${quietIdx.size}/${sweeps.size}) — extra sweep $extra/$maxExtra")
      runSweep(s"extra sweep $extra")
    }
    val quiet = quietIdx

    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // medians over quiet-sweep samples; spread stays over ALL samples so
    // the contended tail remains visible in the artifact. A query that
    // only ever succeeded in LOADED sweeps falls back to those samples —
    // and is NAMED in "loaded_medians" so the artifact never passes off a
    // loaded-machine number as a quiet one
    val loadedMedians = scala.collection.mutable.ArrayBuffer.empty[String]
    val timings = samples.collect { case (n, xs) if xs.nonEmpty =>
      val q = xs.collect { case (i, v) if quiet(i) => v }
      if (q.isEmpty) loadedMedians += n
      n -> median(if (q.nonEmpty) q else xs.map(_._2)) }
    val spread = samples.collect { case (n, xs) if xs.nonEmpty =>
      n -> (xs.map(_._2).min, xs.map(_._2).max) }
    val failed = names.map(_._1).filter(n => samples(n).isEmpty)

    // ---- suite-context tail AUTO-ADJUDICATION: a row whose in-suite
    // median breaches 1.5x its recorded anchor (tools/anchors.json,
    // regenerated from BASELINE.md by tools/mkanchors.py; override with
    // SPARK_GRAFT_ANCHORS) is re-measured ISOLATED — median of 5
    // back-to-back runs of that single query — and BOTH numbers land in
    // the artifact. This replaces the manual isolated re-measures that
    // suite-context tails (q_bm25, q_stream_join) needed in prior rounds:
    // the artifact itself now says whether a breach is the query or the
    // suite context around it. No anchors file = no adjudication.
    val anchorPath = sys.env.getOrElse("SPARK_GRAFT_ANCHORS", "tools/anchors.json")
    def loadAnchorMap(p: String): Map[String, Double] =
      try {
        val n = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(Files.readString(Paths.get(p)))
        val b = Map.newBuilder[String, Double]
        n.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asDouble())
        b.result()
      } catch { case _: Throwable => Map.empty }
    val anchors: Map[String, Double] = loadAnchorMap(anchorPath)
    // RAW (unfloored) medians, written by mkanchors.py beside the floored
    // anchors: lets a sub-floor row's large RELATIVE jump surface as an
    // informational tag (below) even while the floored ratio gate
    // rightly ignores it
    val rawAnchors: Map[String, Double] = loadAnchorMap(
      if (anchorPath.endsWith(".json"))
        anchorPath.stripSuffix(".json") + "_raw.json"
      else anchorPath + "_raw")
    // breach = 1.5x the anchor AND at least +0.5 s over it: sub-second
    // rows wobble past any ratio on scheduler noise alone (and at a
    // smaller SF than the anchors'), and no row that small is ever graded
    // weak — the absolute floor keeps the adjudication list to rows where
    // an isolated number actually settles something. Rows UNDER the
    // absolute floor still adjudicate on a relative-only trigger at
    // >= 1.75x (a tiny row that far over its anchor deserves an isolated
    // number too); the 1.5x–1.75x sub-floor band is instead TAGGED in the
    // artifact's "subfloor" map (name -> ratio) so every >1.5x row
    // self-explains — previously a 0.3 s row at 1.9x could sit
    // un-adjudicated as the artifact's headline worst ratio.
    // NOTE on floored anchors: mkanchors.py floors generated anchors at
    // 0.25 s (sub-noise rows), so for those rows the relative-only
    // trigger engages at 1.75 x 0.25 = ~0.44 s ABSOLUTE — a sub-noise
    // query regressing within the noise band (0.10 -> 0.30 s) stays
    // un-adjudicated BY DESIGN, and surfaces once it costs real time.
    val isolated = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val subfloor = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // INFORMATIONAL only (no gate): a row whose raw recorded median was
    // below the anchor floor but whose in-suite median jumped >= 3x the
    // raw value — invisible to the floored ratio gate until ~0.44 s
    // absolute, but worth a line in the artifact (name -> ratio vs raw)
    val subnoise = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    timings.foreach { case (n, med) =>
      for (a <- anchors.get(n); r <- rawAnchors.get(n)
           if r > 0 && r < a && med >= r * 3 && med <= a * 1.5)
        subnoise(n) = med / r
    }
    timings.foreach { case (n, med) =>
      anchors.get(n).filter(a => a > 0 && med > a * 1.5 &&
          med <= a + 0.5 && med < a * 1.75)
        .foreach(a => subfloor(n) = med / a)
      anchors.get(n).filter(a => a > 0 && med > a * 1.5 &&
          (med > a + 0.5 || med >= a * 1.75))
        .foreach { a =>
        System.err.println(
          f"[bench] $n in-suite $med%.2f s breaches 1.5x anchor $a%.2f s — isolated re-measure")
        val fn = names.find(_._1 == n).get._2
        val xs = (1 to 5).flatMap { _ =>
          Spark.drainNewPins(spark) {
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
            catch { case _: Throwable => None }
          }
        }.toList
        if (xs.nonEmpty) isolated(n) = median(xs)
      }
    }

    def jstr(s: String): String = graft.types.Json.str(s)
    def r4(v: Double): String = f"$v%.4f"
    val qs = timings.map { case (k, v) => s"${jstr(k)}:${r4(v)}" }.mkString("{", ",", "}")
    val sp = spread.map { case (k, (lo, hi)) => s"${jstr(k)}:[${r4(lo)},${r4(hi)}]" }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val sw = sweeps.map(r4).mkString("[", ",", "]")
    val total = timings.values.sum
    // contended = could NOT assemble `runs` quiet sweeps even after the
    // extra re-runs; the reported medians are still quiet-sweep-only, so a
    // true flag means "fewer samples than asked for", never "inflated"
    val contended = quiet.size < runs
    val quietList = quiet.toSeq.sorted.mkString("[", ",", "]")
    // stdout gets a COMPACT line (4dp timings, no per-query spread): a
    // runner that keeps only a tail window of stdout must still see the
    // whole line. The full record (spread, errors) goes to bench_out.json.
    val lm = loadedMedians.map(jstr).mkString("[", ",", "]")
    val iso = isolated.map { case (k, v) => s"${jstr(k)}:${r4(v)}" }
      .mkString("{", ",", "}")
    val sf2 = subfloor.map { case (k, v) => s"${jstr(k)}:${r4(v)}" }
      .mkString("{", ",", "}")
    val sn = subnoise.map { case (k, v) => s"${jstr(k)}:${r4(v)}" }
      .mkString("{", ",", "}")
    val core =
      s""""metric":"total","value":${r4(total)},"unit":"sec","queries":$qs,"sweeps":$sw,"quiet_sweeps":$quietList,"loaded_medians":$lm,"isolated":$iso,"subfloor":$sf2,"subnoise":$sn,"runs":$runs,"contended":$contended,"n_ok":${timings.size},"n_failed":${failed.size},"sf":${jstr(sfDir)}"""
    // a FILTERED iteration run must not clobber the committed full-sweep
    // artifact (bench_out.json is BASELINE.md's evidence record)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.nonEmpty) "bench_out.filtered.json" else "bench_out.json")
    Files.writeString(Paths.get(outPath),
      s"""{$core,"spread":$sp,"errors":$es}""" + "\n")
    // stdout stays EXACTLY one JSON line (the driver contract); a mirror
    // copy goes to stderr (r19, additive insurance): a runner that keeps
    // only a bounded tail window of stdout can truncate the 6 KB line
    // mid-way — the r17→r18 driver comparison died exactly this way
    // (PERF_r18 `prev_bench_ok:false`, the r17 line lost its head in a
    // 2 KB tail capture) — and a separately-captured stderr stream gives
    // one more complete copy, beside the byte-identical bench_out.json.
    println(s"{$core}")
    System.err.println(s"{$core}")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
