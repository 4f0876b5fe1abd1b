package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Queries
import BatchWorkload.Sample

/** One caller running named `Queries` rows in sequence, each materialized
  * in full (a `noop` write runs the whole plan; `count()` would let
  * Catalyst prune it). A pass is one sweep of the rows. The first pass
  * also writes every result as parquet for run.py's oracle check. */
final class BatchWorkload(spark: SparkSession, a: Args, report: Report) {
  import BatchWorkload.{rows, tables}
  private val fns = rows.map(r => r -> Queries.queries(r))
  private val spans = new Spans(a.trace)

  /** Runs `body`, then unpersists every RDD it left persisted, outside
    * the caller's timing, so rows do not inherit each other's pins. */
  private def drainNewPins[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = body
    val now = sc.getPersistentRDDs
    val added = now.keySet.diff(before)
    added.foreach(id => now.get(id).foreach(_.unpersist(blocking = false)))
    (out, added.size)
  }

  private def runRow(row: String, fn: (SparkSession, String) => DataFrame,
                     sink: DataFrame => Unit): Option[Sample] = {
    report.synchronized(report.attempted += 1)
    try {
      val (s, pins) = drainNewPins {
        spans(s"row:$row") {
          val t0 = System.nanoTime()
          val df = spans("rel.build")(fn(spark, a.data))
          val t1 = System.nanoTime()
          spans("materialize")(sink(df))
          (Stats.seconds(t0, System.nanoTime()), Stats.seconds(t0, t1))
        }
      }
      Some(Sample(row, s._1, s._2, pins))
    } catch { case e: Throwable => report.fail(row, e); None }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def checked(row: String)(df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"${a.work}/out/$row")

  private def pass(sink: String => DataFrame => Unit): (Double, Seq[Sample]) = {
    val t0 = System.nanoTime()
    val ss = fns.flatMap { case (r, fn) => runRow(r, fn, sink(r)) }
    val s = Stats.seconds(t0, System.nanoTime())
    Main.log(f"pass $s%.2f s: " +
      ss.map(x => f"${x.row}=${x.wallS}%.2f").mkString(" "))
    (s, ss)
  }

  /** Set-up: scan every input table once through the library's source
    * path, as a caller does before its first query. */
  private def setupOnce(): Double = {
    val t0 = System.nanoTime()
    tables.foreach { t =>
      noop(graft.rel.Rel.parquet(spark, s"${a.data}/$t.parquet").df)
    }
    Stats.seconds(t0, System.nanoTime())
  }

  def run(): Unit = {
    val setups = (1 to 3).map(_ => setupOnce())
    Main.log(s"setup ${setups.mkString(" ")} s")
    val heap = mutable.ArrayBuffer.empty[Double]
    val (coldS, _) = pass(checked)
    new java.io.File(s"${a.work}/out").mkdirs()
    val sql = rows.flatMap(r => Queries.oracleSql.get(r).map(q =>
      s"${graft.types.Json.str(r)}:${graft.types.Json.str(q)}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/out/oracle_sql.json"),
      sql.mkString("{", ",", "}"))
    heap += Stats.liveHeapMb()
    // untimed warm-up: the JIT is still compiling Spark's planner and
    // scheduler, and pass times fall by a quarter or more over the first
    // warm passes, so runs timed there differ by where on that slope
    // they stopped
    val w0 = System.nanoTime()
    var warmups = 0
    while (warmups < 1 || Stats.seconds(w0, System.nanoTime()) < a.seconds * Main.warmShare) {
      pass(_ => noop)
      warmups += 1
    }
    heap += Stats.liveHeapMb()
    // untraced passes: the end-to-end numbers. The heap is sampled only
    // after them: a full collection between passes lets Spark's cleaner
    // drop shuffle files during the next pass, which then runs slower.
    val warm = mutable.ArrayBuffer.empty[(Double, Seq[Sample])]
    val m0 = System.nanoTime()
    while (warm.size < 3 ||
        Stats.seconds(m0, System.nanoTime()) < a.seconds * (1 - Main.warmShare))
      warm += pass(_ => noop)
    heap += Stats.liveHeapMb()
    val passS = Stats.median(warm.map(_._1).toSeq)
    val lat = warm.flatMap(_._2.map(_.wallS * 1000)).toSeq
    report.endToEnd ++= Seq(
      "setup_s" -> Stats.median(setups),
      "cold_s" -> coldS,
      "pass_s" -> passS,
      "op_gmean_ms" -> Stats.geomean(lat),
      "ops_per_s" -> rows.size / passS,
      "peak_heap_mb" -> heap.max)
    if (a.trace) traced(warm.last._2.map(_.wallS).sum)
  }

  /** One pass with the listeners attached: per-layer numbers for the
    * pass, and per-row jobs, wall and task CPU in `rows.jsonl`. The
    * untraced passes just before and after it give the tracing overhead,
    * so the passes' own warming trend cancels. */
  private def traced(untracedBefore: Double): Unit = {
    def rowsS(ss: Seq[Sample]) = ss.map(_.wallS).sum
    val layers = new Layers(spark)
    layers.attach()
    val before = layers.snapshot()
    val t0 = System.currentTimeMillis()
    val perRow = fns.flatMap { case (r, fn) =>
      val b = layers.snapshot()
      runRow(r, fn, noop).map(x => (x, Layers.delta(b, layers.snapshot())))
    }
    val t1 = System.currentTimeMillis()
    val total = Layers.windowed(Layers.delta(before, layers.snapshot()), t0, t1)
    layers.detach()
    val untracedAfter = rowsS(pass(_ => noop)._2)
    val samples = perRow.map(_._1)
    report.perLayer ++= Seq(
      "rel.build_s" -> samples.map(_.buildS).sum,
      "rel.pins_left" -> samples.map(_.pinsLeft).sum.toDouble)
    report.perLayer ++= Layers.metrics(total, 1, a.cpus)
    report.perLayer("trace.overhead_frac") =
      rowsS(samples) / ((untracedBefore + untracedAfter) / 2) - 1
    val lines = perRow.map { case (x, d) =>
      s"""{"row":${graft.types.Json.str(x.row)},"jobs":${d.jobs},"wall_s":${x.wallS},""" +
        s""""build_s":${x.buildS},"task_cpu_s":${d.taskCpuNs / 1e9},""" +
        s""""executions":${d.executions},"pins_left":${x.pinsLeft}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/rows.jsonl"),
      lines.mkString("", "\n", "\n"))
    spans.write(s"${a.work}/spans.jsonl")
  }
}

object BatchWorkload {
  /** The rows one caller runs in a pass, and the input tables they read
    * (the ones set-up scans). See perfbench/README.md for why these. */
  val rows: Seq[String] = Seq(
    // relational: algebra, join family, aggregation, ordered fold, update
    "q_where", "q_join", "q_ajoin", "q1_agg", "q_running", "q_update_set",
    // curation: kernel-bound pipeline rows
    "q_knn_brute", "q_pipeline_clean")
  val tables: Seq[String] = Seq("nation", "customer", "supplier", "orders",
    "lineitem", "documents", "embeddings")

  /** A row's timing: whole call, time inside the query function, pins
    * (persisted RDDs) the row left registered. */
  final case class Sample(row: String, wallS: Double, buildS: Double, pinsLeft: Int)
}
