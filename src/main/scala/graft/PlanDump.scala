package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Optimization-round evidence tool: writes `.explain("formatted")` for
  * declared queries to `<outDir>/<name>_<suffix>.txt` so plan claims in
  * OPTIMIZATION_r18.md are checkable without running Spark.
  *
  *   sbt "runMain graft.PlanDump plans/r18 [query ...]"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_PLAN_SUFFIX
  * (default "before"), SPARK_GRAFT_CPUS (see [[Spark.cpus]]).
  *
  * NOTE: building a query's DataFrame executes any eager side work the
  * query performs (catalog mutations, streaming micro-batches), exactly
  * as Bench does before its timed count(); the dumped plan is the plan of
  * the RETURNED frame — for queries whose work happens eagerly the
  * interesting plans are internal and are captured separately where the
  * round touches them. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val outDir = args.headOption.getOrElse("plans/r18")
    val only = args.drop(1)
    val rows = (if (only.isEmpty) Queries.rows else Queries.named(only))
      .sortBy(_.name)
    Files.createDirectories(Paths.get(outDir))
    val spark = Spark.local()
    val mode = ExplainMode.fromString("formatted")
    rows.foreach { case Queries.Row(name, fn, _, _) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(mode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        System.err.println(s"[plandump] $name ok (${txt.length} chars)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
