package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each oracle-gated [[Queries.rows]] result → parquet,
  * plus oracle_sql.json holding the same rows' oracle SQL, for the DuckDB
  * compare (tools/diffcheck.py). Every dumped row has its oracle, so
  * tools/diffcheck.py must report ROWS-ONLY 0.
  *
  * Optional args after `<sfDir> <outDir>`:
  *   - `name1,name2,…`   run only these gated rows (iteration aid); a name
  *                       that is not one fails the run before Spark starts
  *   - `--subset=core`   the relational-core §2 rows (`Queries.Row.core`)
  *   - `--mode=decimal`  run under `spark.graft.decimalNumbers=true` —
  *                       the language's exact-decimal numeric domain
  *   - `--mode=collation` run under `spark.graft.collation=UNICODE` —
  *                       ICU collation for text ordering
  * The mode sweeps are the parity gate: the relational core must diffcheck
  * PASS under each mode (tools/paritycheck.sh drives both). */
object Verify {

  /** The gated rows that the args after `<sfDir> <outDir>` select. */
  def select(rest: Seq[String]): Seq[Queries.Row] = {
    val gated = Queries.rows.filter(_.oracle.isDefined)
    rest.collectFirst { case s if s.startsWith("--subset=") =>
      s.stripPrefix("--subset=") } match {
      case Some("core") => gated.filter(_.core)
      case Some(other) => sys.error(s"unknown subset $other")
      case None => rest.filterNot(_.startsWith("--")).headOption
        .fold(gated)(names => Queries.named(names.split(","), gated))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val rest = args.toSeq.drop(2)
    val mode = rest.collectFirst { case s if s.startsWith("--mode=") =>
      s.stripPrefix("--mode=") }
    val selected = select(rest)
    val spark = Spark.local()
    mode match {
      case Some("decimal")   => spark.conf.set("spark.graft.decimalNumbers", "true")
      case Some("collation") => spark.conf.set("spark.graft.collation", "UNICODE")
      case Some(other)       => sys.error(s"unknown mode $other")
      case None              => ()
    }
    new java.io.File(outDir).mkdirs()
    selected.foreach { r =>
      // drain each row's pins before the next: ~180 rows' worth of
      // lazily-returned results' localCheckpoints in one JVM is storage
      // pressure the rows themselves never ask for (as in Bench)
      try Spark.drainNewPins(spark) {
        r.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${r.name}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${r.name} failed: ${e.getMessage}")
      }
    }
    def q(s: String): String = graft.types.Json.str(s)
    val json = selected.flatMap(r => r.oracle.map(sql => s"${q(r.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
