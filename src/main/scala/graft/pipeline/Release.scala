package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus release bundle: the last mile of the curation pipeline. One call
  * takes a cleaned corpus and materializes everything a downstream
  * training run (or an external consumer) needs:
  *
  *   - `data/` — the documents as parquet, deterministically split
  *     (content-hash train/val/test from [[Sampling.hashSplit]], so the
  *     partition never moves under corpus growth), partitioned by split;
  *   - `card/` — the per-source datasheet (volumes, mean quality,
  *     language spread, exact-dup rate — the same signals the gated
  *     q_dataset_card computes);
  *   - `pii/` — the [[Profile.piiProfile]] scan over the text column (the
  *     release gate: a reviewer checks the fractions BEFORE shipping);
  *   - `drift_baseline/` — this release's bucket profile
  *     ([[graft.streaming.DriftStream.bucketCounts]] shape), so the NEXT
  *     release (or a live ingest monitor) can PSI-compare against it
  *     without re-reading this corpus;
  *   - `meta.json` — row count, split sizes, and the column list.
  *
  * Everything distributed stays distributed: the corpus is scanned a
  * bounded number of times and only datasheet/profile-sized results are
  * small. At 100 TB the `data/` write is the cost; the reports ride on
  * aggregates of bucket/source cardinality.
  */
object Release {

  final case class Manifest(rows: Long, splits: Map[String, Long],
                            columns: Seq[String])

  /** `withDedupIndex` (opt-in — the build is a real corpus pass) also
    * bundles `dedup_index/`: the release's banded MinHash index persisted
    * through [[graft.streaming.DocStream.saveIndex]], so the NEXT crawl's
    * incremental dedup starts WARM — `loadIndex` + `matchAgainst` (or the
    * restart-durable `startIncrementalPersisted`) probe new documents
    * against this release without re-reading or re-indexing it. */
  def publish(docs: DataFrame, outDir: String,
              idCol: String = "doc_id", textCol: String = "text",
              dims: Seq[(String, Column)] = Nil,
              withDedupIndex: Boolean = false): Manifest = {
    val split = Sampling.hashSplit(docs, col(idCol))
    split.write.mode("overwrite").partitionBy("split")
      .parquet(s"$outDir/data")

    val enriched = docs.select(col("source"), col("lang"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("__ntok"),
      length(col(textCol)).cast("long").as("__nchr"),
      TextAnalysis.qualityScore(col(textCol))
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("__q"),
      TextAnalysis.fingerprint(col(textCol)).as("__fp"))
    enriched.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("__ntok")).as("n_tokens"),
      sum(col("__nchr")).as("n_chars"),
      round(sum(col("__q")).cast("double") / count(lit(1)), 6)
        .as("mean_quality"),
      countDistinct(col("lang")).as("n_langs"),
      round(lit(1.0) - countDistinct(col("__fp")).cast("double") / count(lit(1)), 6)
        .as("dup_rate"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/card")

    Profile.piiProfile(docs, Seq(textCol))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/pii")

    val driftDims =
      if (dims.nonEmpty) dims
      else Seq(
        "len" -> least(floor(length(col(textCol)) / 200).cast("long"), lit(9L)),
        "lang" -> col("lang"), "source" -> col("source"))
    graft.streaming.DriftStream.bucketCounts(docs, driftDims)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/drift_baseline")

    if (withDedupIndex) {
      import graft.rel.Checkpoint.PinOps
      val idx = graft.streaming.DocStream.buildIndex(docs, idCol, textCol)
      graft.streaming.DocStream.saveIndex(idx, s"$outDir/dedup_index")
      idx.bandIndex.unpin(); idx.grams.unpinAll() // bundled on disk now
    }

    val splitCounts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val manifest = Manifest(splitCounts.values.sum, splitCounts,
      docs.columns.toSeq)
    def q(s: String): String = graft.types.Json.str(s)
    val json = s"""{"rows":${manifest.rows},"splits":{""" +
      manifest.splits.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}:$v" }.mkString(",") +
      s"""},"columns":[${manifest.columns.map(q).mkString(",")}]}"""
    writeTextFile(docs.sparkSession, s"$outDir/meta.json", json)
    manifest
  }

  /** Small-file write through the session's Hadoop FS layer, so the
    * release dir can live on ANY filesystem the cluster sees (s3a://,
    * hdfs://, file://) — the sibling parquet tables already do; a
    * java.nio local write here would break every non-local outDir. */
  def writeTextFile(spark: org.apache.spark.sql.SparkSession,
                    path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load a published release's drift baseline as the reference side of a
    * [[Profile.driftReport]] / [[graft.streaming.DriftStream.Monitor]]
    * comparison — without touching the release's data files. */
  def driftBaseline(spark: org.apache.spark.sql.SparkSession,
                    releaseDir: String): DataFrame =
    graft.sources.Sources.parquet(spark, s"$releaseDir/drift_baseline")
}
