package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The real surface lives in [[graft.Queries]] (one entry per operator in
  * SURVEY.md §2) on top of the graft.rel / graft.pipeline library. Every
  * map here is a view of the one row registry, [[Queries.rows]]. */
object SparkEntry {
  /** Flagship query (TPC-H Q1-shaped grouped aggregation through the DSL)
    * on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q1Agg(spark, "/root/testdata/sf0.001")

  /** The oracle-gated rows' query functions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. It has exactly the keys of `queries`: both
    * come from the gated rows of the registry. */
  def oracleSql: Map[String, String] = Queries.oracleSql

  /** Everything [[Bench]] times: every registry row, the gated ones plus
    * the bench-only raw approximate ops (kept under their round-1/2 names
    * for timing comparability; correctness for those lives in the *_check
    * rows). */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.rows.map(r => r.name -> r.fn).toMap
}
