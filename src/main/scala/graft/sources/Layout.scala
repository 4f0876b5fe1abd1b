package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for write-time clustering: Z-order
  * (Morton) keys plus a range-partitioned, sorted writer arrangement.
  *
  * Why this matters at 100 TB: parquet readers skip files/row-groups via
  * min/max statistics, but a table sorted on ONE column only clusters that
  * column — a predicate on a second dimension still touches every file.
  * Interleaving the bits of two bucketized dimensions into one
  * sort key gives every file a tight min/max range on EVERY interleaved
  * dimension simultaneously, so `WHERE x BETWEEN … AND y BETWEEN …` prunes
  * multiplicatively. This is the same layout idea Delta/Iceberg expose as
  * `OPTIMIZE ZORDER BY`, built here from pure integer arithmetic.
  *
  * Everything is plain `Column` bit-twiddling (the classic mask-shift
  * "Part1By1" spread) — whole-stage-codegen'd, no UDF — and the
  * write arrangement is ONE `repartitionByRange` exchange on the key plus a
  * partition-local sort, exactly the shuffle a global sort would cost.
  */
object Layout {

  /** Spread the low `bits` bits of a non-negative int so one zero bit sits
    * between each ("Part1By1"): b15…b1b0 → 0b15…0b1 0b0. Pure mask/shift
    * arithmetic on longs; `bits` ≤ 16 keeps the result in 32 bits so two
    * dimensions interleave into a positive long. */
  def spreadBits1(x0: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 16, s"spreadBits1: bits must be 1..16, got $bits")
    val x = x0.cast("long").bitwiseAND(lit((1L << bits) - 1))
    val s8 = shiftleft(x, 8).bitwiseOR(x).bitwiseAND(lit(0x00FF00FFL))
    val s4 = shiftleft(s8, 4).bitwiseOR(s8).bitwiseAND(lit(0x0F0F0F0FL))
    val s2 = shiftleft(s4, 2).bitwiseOR(s4).bitwiseAND(lit(0x33333333L))
    shiftleft(s2, 1).bitwiseOR(s2).bitwiseAND(lit(0x55555555L))
  }

  /** Two-dimensional Z-order key: interleave the low `bits` bits of two
    * non-negative bucket ids (x gets the even bit positions, y the odd). */
  def zorderKey(x: Column, y: Column, bits: Int = 16): Column =
    spreadBits1(x, bits).bitwiseOR(shiftleft(spreadBits1(y, bits), 1))

  /** Bucketize a numeric column into [0, 2^bits) over a KNOWN [min, max]
    * domain (clamped). Fixed-width buckets keep the key a pure narrow map;
    * derive min/max from a prior stats pass (or domain knowledge), not a
    * per-write aggregate. */
  def rangeBucket(c: Column, min: Double, max: Double, bits: Int): Column = {
    require(max > min, s"rangeBucket: empty domain [$min, $max]")
    val n = 1L << bits
    val scaled = ((c.cast("double") - lit(min)) / lit(max - min)) * lit(n.toDouble)
    greatest(lit(0L), least(lit(n - 1), floor(scaled).cast("long")))
  }

  /** Arrange `df` for writing clustered on the Z-curve of two bucketized
    * dimensions: ONE range exchange on the interleaved key (so each output
    * file owns a contiguous key range = a small axis-aligned tile of the
    * (x, y) space) plus a partition-local sort. `numFiles` sizes the range
    * partitioning — pick `ceil(bytes / targetFileSize)` at real scale.
    * Follow with `.write.parquet(…)`; per-file min/max stats on BOTH
    * source columns are then tight, which is what makes two-dimensional
    * predicates prune files multiplicatively. */
  def zorderArrange(df: DataFrame, x: Column, y: Column, bits: Int,
                    numFiles: Int): DataFrame = {
    val keyed = df.withColumn("__zkey", zorderKey(x, y, bits))
    keyed.repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
  }

  /** Small-file compaction — the `OPTIMIZE` primitive every long-lived
    * table needs: streaming ingests, per-batch writers, and fine-grained
    * partitioning all accrete kilobyte parquet files whose open/footer
    * cost eventually dominates scans (the classic small-file problem).
    * Rewrites `inDir` into ceil(bytes/targetFileBytes) files (actual
    * on-disk bytes, not row counts — the statistic that matters for
    * scan cost), optionally sorted within each output file so min/max
    * row-group pruning keeps working after the rewrite.
    *
    * Scale shape: ONE round-robin exchange (or a range exchange when
    * `sortBy` is given — identical cost to the zorderArrange writer).
    * Writes to `outDir` (write-then-swap is the caller's move; compaction
    * must never destroy its input on failure). Returns
    * (filesBefore, filesAfter, rows). */
  /** All .parquet data files under `dir`, RECURSIVELY — partitioned
    * (`k=v` subdirectory) tables count their real files and bytes, not
    * the empty top level. */
  private def parquetFiles(fs: org.apache.hadoop.fs.FileSystem,
                           dir: org.apache.hadoop.fs.Path):
      Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    val out = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet")) out += s
    }
    out.result()
  }

  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
              outDir: String, targetFileBytes: Long = 128L << 20,
              sortBy: Seq[Column] = Nil): (Long, Long, Long) = {
    require(targetFileBytes > 0, "compact: targetFileBytes must be > 0")
    val rawPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = rawPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify the root BEFORE relativizing: listFiles returns fully
    // qualified statuses, so a relative/unqualified inDir would make a
    // prefix-strip a no-op and leak ancestor `k=v` directory segments
    // (e.g. /data/run=3/corpus) into the partition columns
    val inPath = fs.makeQualified(rawPath)
    val parts = parquetFiles(fs, inPath)
    require(parts.nonEmpty, s"compact: no .parquet data files under $inDir")
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // Hive-style partition columns from the data files' directory path
    // (`k=v` segments relative to the root, in order): a partitioned
    // input rewrites partitioned — the layout survives compaction instead
    // of silently flattening into data columns. Segments are collected by
    // walking parent links up to the qualified root, so only directories
    // strictly BELOW inDir can contribute.
    val rel = {
      var segs = List.empty[String]
      var p = parts.head.getPath.getParent
      while (p != null && p != inPath) { segs = p.getName :: segs; p = p.getParent }
      require(p != null, s"compact: data file ${parts.head.getPath} not under $inPath")
      segs.filter(_.contains("="))
    }
    val partCols = rel.map(_.takeWhile(_ != '='))
    val df = spark.read.parquet(inDir)
    val arranged =
      if (sortBy.isEmpty) {
        if (partCols.isEmpty) df.repartition(nOut)
        // co-locate rows of a partition dir so each dir gets few writers
        else df.repartitionByRange(nOut, partCols.map(col): _*)
      } else df.repartitionByRange(nOut, (partCols.map(col) ++ sortBy): _*)
        .sortWithinPartitions((partCols.map(col) ++ sortBy): _*)
    val w = arranged.write.mode("overwrite")
    (if (partCols.isEmpty) w else w.partitionBy(partCols: _*)).parquet(outDir)
    val after = parquetFiles(fs, new org.apache.hadoop.fs.Path(outDir)).size
    (parts.size.toLong, after.toLong, spark.read.parquet(outDir).count())
  }
}
