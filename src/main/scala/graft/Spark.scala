package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine builds a session. Every entry point (Bench,
  * Verify, PlanDump, BenchScale, the Andl script host) and the test suites
  * come through here, so each of them sees the same native SQL functions
  * (`spark.sql.extensions`), the same parquet timestamp reading and the
  * same time zone. `SessionFactorySpec` fails if another builder appears
  * under `src`. */
object Spark {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else every available core. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with `cpus` shuffle partitions. */
  def local(cpus: Int = Spark.cpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.log.level", "WARN")
      .getOrCreate()
}
