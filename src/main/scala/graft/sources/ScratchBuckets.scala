package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Throwaway bucketed layouts for ITERATIVE operators' shuffled fallback
  * regime (PageRank / WhileFix-closures / connected components past their
  * broadcast and driver tiers — the 100 TB operating regime).
  *
  * Why: a `pin()` (localCheckpoint) does NOT preserve partitioning — the
  * LogicalRDD reports UnknownPartitioning — so a loop that joins a pinned
  * edge-sized table on the same key every round re-shuffles AND re-sorts
  * the big side per round (plans/r18/q_pagerank_before.txt). Re-homing the
  * reused side ONCE into a scratch bucketed-by-join-key layout pays the
  * bucketing shuffle a single time (the same exchange ONE round's join
  * would have paid); every round then reads a bucketed scan that reports
  * `HashPartitioning(key, buckets)` + per-bucket sort order, so the join
  * is Exchange-free AND Sort-free on that side — only the node-sized
  * vector moves per round (guide §2.4/§3.2; the layout machinery is
  * [[BucketedStore]], the same one the persisted indexes use, whose
  * zero-exchange join behavior q_bucketed_join pins).
  *
  * Placement: under `spark.graft.scratchDir` (falling back to
  * `java.io.tmpdir`) — cluster deployments point it at a DFS path, exactly
  * like `spark.graft.checkpointDir`. [[withLayout]] deletes the layout
  * when its body returns or throws; nothing persists across queries or
  * runs.
  */
object ScratchBuckets {

  /** An attached scratch layout. [[close]] drops the metastore entry and
    * deletes the files — call it only once every consumer of [[df]] has
    * materialized (iterative callers pin their round outputs eagerly, so
    * the final round's pin is the fence). */
  final case class Layout(df: DataFrame, table: String, dir: String) {
    def close(spark: SparkSession): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  def scratchRoot(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.scratchDir")
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Run `body` with bucketed scans reporting their per-bucket SORT order
    * (`spark.sql.legacy.bucketedTableScan.outputOrdering`, planning-time
    * only, honored only when a bucket has exactly one file — always true
    * for [[create]]'s layouts): the iterating join is then Sort-free on
    * the bucketed side too, not just Exchange-free — without it every
    * round re-sorts the big side it just read in sorted order. Set/restore
    * on the calling session (same caveat as BucketedStore's pinned-scan
    * clone: a concurrent planner in another thread of this session would
    * also see it during the window — it is semantics-preserving there, it
    * can only ELIDE a sort that the one-file-per-bucket layout makes
    * redundant; the bench and Verify surfaces run queries sequentially). */
  def withSortedScans[A](spark: SparkSession)(body: => A): A = {
    val k = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "true")
    try body
    finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Loan a scratch layout of `df` bucketed+sorted by `keys` to `body`,
    * closing it when `body` returns OR throws — a loop that fails at
    * round k leaves no metastore table or scratch files behind (a close
    * that fails then is added to the body's exception as suppressed).
    * `body` must materialize everything it returns that reads the layout
    * (iterative callers pin their round outputs eagerly, so the final
    * round's pin is the fence). */
  def withLayout[A](df: DataFrame, keys: Seq[String])(body: Layout => A): A =
    scala.util.Using.resource(create(df, keys))(body)(_.close(df.sparkSession))

  /** Write `df` once as a scratch layout bucketed+sorted by `keys` and
    * attach it. The write IS the one bucketing exchange; the attached
    * frame replays co-located joins on `keys` with zero further exchanges
    * on this side. The bucket count is the session's shuffle parallelism —
    * scale-adaptive by construction (`$SPARK_GRAFT_CPUS` locally, the
    * tuned shuffle width on a cluster), never a hard-coded constant. */
  private def create(df: DataFrame, keys: Seq[String]): Layout = {
    val spark = df.sparkSession
    val b = spark.sessionState.conf.numShufflePartitions
    val dir = s"${scratchRoot(spark)}/graft-scratch-" +
      java.util.UUID.randomUUID().toString
    BucketedStore.write(df, dir, keys, b)
    val (attached, tbl) =
      BucketedStore.attachNamed(spark, dir, keys, b, Some(df.schema.toDDL))
    Layout(attached, tbl, dir)
  }
}
