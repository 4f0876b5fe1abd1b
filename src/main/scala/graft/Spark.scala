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

  /** Runs `body`, then unpersists every RDD it left persisted on the
    * context, so rows run one after another on one thread (Bench, Verify)
    * each start on a clean block store. The diff is context-wide: work
    * running concurrently on the same context would lose its pins too, so
    * library code drains through [[graft.rel.Checkpoint.openLedger]]. */
  def drainNewPins[A](spark: SparkSession)(body: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally {
      val now = spark.sparkContext.getPersistentRDDs
      now.keysIterator.filterNot(before)
        .foreach(id => now.get(id).foreach(_.unpersist(blocking = false)))
    }
  }
}
