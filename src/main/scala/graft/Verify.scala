package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional args after `<sfDir> <outDir>`:
  *   - `name1,name2,…`   run only these queries (iteration aid)
  *   - `--subset=core`   the relational-core §2 rows ([[Queries.relationalCore]])
  *   - `--mode=decimal`  run under `spark.graft.decimalNumbers=true` —
  *                       the language's exact-decimal numeric domain
  *   - `--mode=collation` run under `spark.graft.collation=UNICODE` —
  *                       ICU collation for text ordering
  * The mode sweeps are the parity gate: the relational core must diffcheck
  * PASS under each mode (tools/paritycheck.sh drives both). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val rest = args.drop(2)
    val mode = rest.collectFirst { case s if s.startsWith("--mode=") =>
      s.stripPrefix("--mode=") }
    val subset = rest.collectFirst { case s if s.startsWith("--subset=") =>
      s.stripPrefix("--subset=") }
    val only: Set[String] = subset match {
      case Some("core") => Queries.relationalCore
      case Some(other) => sys.error(s"unknown subset $other")
      case None => rest.filterNot(_.startsWith("--")).headOption
        .map(_.split(",").toSet).getOrElse(Set.empty)
    }
    val spark = Spark.local()
    mode match {
      case Some("decimal")   => spark.conf.set("spark.graft.decimalNumbers", "true")
      case Some("collation") => spark.conf.set("spark.graft.collation", "UNICODE")
      case Some(other)       => sys.error(s"unknown mode $other")
      case None              => ()
    }
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only(k) }
    selected.foreach { case (name, fn) =>
      // drain each query's pins before the next: ~180 queries' worth of
      // lazily-returned results' localCheckpoints in one JVM is storage
      // pressure the queries themselves never ask for (mirrors Bench)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        val now = spark.sparkContext.getPersistentRDDs
        now.keysIterator.filterNot(before)
          .foreach(id => now.get(id).foreach(_.unpersist(blocking = false)))
      }
    }
    def q(s: String): String = graft.types.Json.str(s)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
