package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one run hands back to run.py: operation counts, metrics by name,
  * and the failures seen. Output checks that need the inputs' generator
  * (the DuckDB oracle, the gateway reply model) run in run.py afterwards. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]

  def fail(what: String, e: Throwable): Unit = synchronized {
    failed += 1
    val msg = s"$what: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"
    errors += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def toJson: String = {
    def obj(m: mutable.LinkedHashMap[String, Double]) = m.map { case (k, v) =>
      s"${graft.types.Json.str(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""errors":${errors.map(graft.types.Json.str).mkString("[", ",", "]")},""" +
      s""""end_to_end":${obj(endToEnd)},"per_layer":${obj(perLayer)}}"""
  }
}

/** Run settings, from the command line run.py builds. */
final case class Args(workload: String, seconds: Double, trace: Boolean,
                      data: String, work: String, requests: String,
                      cpus: Int)

object Main {
  private val t0 = System.nanoTime()

  /** Share of `--seconds` spent warming up, untimed, before the timed
    * passes or cycles take the rest. */
  val warmShare = 0.45

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f $msg")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seconds").toDouble, m("trace") == "1", m("data"),
      m("work"), m("requests"), m("cpus").toInt)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val report = new Report
    // the gateway's worker pool is non-daemon and never shut down, so the
    // run ends with an explicit halt whatever happens, once the result is
    // written; run.py clears the working directory Spark leaves behind
    val code =
      try {
        val spark = session(a)
        a.workload match {
          case "gateway" => new GatewayWorkload(spark, a, report).run()
          case "batch" =>
            new BatchWorkload(spark, a, report).run()
        }
        if (a.trace) new Probes(spark, a, report).run()
        0
      } catch {
        case e: Throwable =>
          report.fail("run", e)
          e.printStackTrace()
          1
      }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${a.work}/result.json"), report.toJson + "\n")
    Runtime.getRuntime.halt(code)
  }
}
