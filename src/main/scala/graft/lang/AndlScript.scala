package graft.lang

import org.apache.spark.sql.SparkSession

import AndlValues._

/** Script host for the Andl surface language — the analog of the
  * reference's CLI main (Andl/Main.cs runs a script against a catalog;
  * Test/runsuite.bat runs SetupSuite then each Suite*.andl against the SAME
  * persisted catalog). Here "catalog persistence" between scripts of one
  * suite run is the shared interpreter environment: scripts run in order
  * against one [[AndlInterp]], which is semantically the reference's
  * `#catalog update` → `#catalog` flow without a disk round-trip.
  */
object AndlScript {

  /** Run one script source against a fresh interpreter; returns it. */
  def run(spark: SparkSession, src: String, filename: String = "script",
          sourceDir: String = "."): AndlInterp = {
    val interp = new AndlInterp(spark, sourceDir)
    interp.run(src, filename)
    interp
  }

  /** Counters maintained by the reference's own SetupSuite test harness
    * (`test_count` / `error_count` globals updated by test_true). */
  final case class SuiteResult(file: String, tests: Long, errors: Long,
                               output: String)

  /** Run SetupSuite + the given suite files in ONE shared environment,
    * reading CSV sources from `dir`; report per-file test_true counts. */
  def runSuites(spark: SparkSession, dir: String,
                files: Seq[String]): Seq[SuiteResult] = {
    val interp = new AndlInterp(spark, dir)
    val results = Seq.newBuilder[SuiteResult]
    ("SetupSuite.andl" +: files).foreach { f =>
      val mark = interp.output.length
      interp.runFile(s"$dir/$f")
      // each suite's start() resets the counters, so after the file they
      // hold exactly that file's totals
      val (tests, errors) = counters(interp)
      results += SuiteResult(f, tests, errors, interp.output.substring(mark))
    }
    results.result()
  }

  private def counters(interp: AndlInterp): (Long, Long) = {
    def num(n: String): Long = interp.global.lookup(n) match {
      case Some(NumV(d)) => d.toLong
      case _ => 0L
    }
    (num("test_count"), num("error_count"))
  }

  /** CLI script runner — the reference's primary entry point (Andl/Main.cs:
    * `andl script.andl`). Usage: runMain graft.lang.AndlScript
    * <script.andl>… [with CSV sources resolved next to each script]. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AndlScript <script.andl> [more.andl…]")
    val spark = graft.Spark.local()
    try args.foreach { path =>
      val f = new java.io.File(path)
      val interp = new AndlInterp(spark, Option(f.getParent).getOrElse("."))
      interp.noisy = 1
      interp.runFile(f.getPath)
      print(interp.output.toString)
    } finally spark.stop()
  }
}
