package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** External bucketed parquet layouts, reusable by every persisted index
  * (the near-dup band/gram stores, the CDC chunk-hash store): the
  * bucketing shuffle is paid ONCE at write, [[attach]] re-registers the
  * files with the recorded bucket spec without moving data, and every
  * later equi-join on the bucket keys co-locates against the stored
  * layout — the history side never exchanges again. [[append]] INSERTs a
  * delta through the spec (new bucket files land beside the old; a
  * partition write, never a rewrite).
  *
  * GENERATIONS: a freshly written layout is FLAT (bucket files directly
  * under `path`). The first [[compact]] rewrites it into a generation
  * subdirectory `path/_gen-1` and flips an atomic `_gen.json` pointer;
  * each later compaction writes `_gen-(N+1)` and flips again. The
  * superseded generation's files are NEVER moved or deleted by the
  * compaction itself, so every reader that captured a file listing
  * before the flip (an attached external table, a served ANN index, a
  * running incremental-dedup stream) keeps reading its own complete,
  * immutable generation — compaction is safe under concurrent readers.
  * [[vacuum]] retires superseded generations once their readers are
  * gone (a grace window is the `keepPrior` knob). The underscore names
  * keep both the pointer file and the generation dirs invisible to
  * Spark's file listing, so nothing can double-read old and new data.
  *
  * CONCURRENT WRITERS are a different contract: an [[append]] landing in
  * generation N while [[compact]] is folding N into N+1 would be lost at
  * the pointer flip. Writer-side operations on one layout must be
  * serialized externally — the index-level ops (DocStream, Similarity)
  * do it with [[WriterLease]]; direct BucketedStore callers own it.
  *
  * Bucketing metadata lives in the session metastore, not in parquet, so
  * each operation registers a throwaway table entry around the files and
  * drops it afterwards (external: metadata only, files stay). */
object BucketedStore {

  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  // throwaway-table names carry a per-JVM random token besides the counter:
  // two JVMs sharing an EXTERNAL metastore would otherwise both count from
  // 1 and collide on graft_bstore_*_1 (per-session in-memory metastores
  // never clash, but nothing forces that deployment)
  private val jvmToken =
    java.lang.Long.toUnsignedString(new java.security.SecureRandom().nextLong(), 36)
  private def freshName(kind: String): String =
    s"graft_bstore_${kind}_${jvmToken}_${ids.incrementAndGet()}"

  private def quoted(keys: Seq[String]): String =
    keys.map(k => s"`$k`").mkString(", ")

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Current generation of the layout at `path`: 0 = flat/legacy (bucket
    * files directly under `path`, no pointer), N ≥ 1 = files live in
    * `path/_gen-N`. */
  def currentGen(spark: SparkSession, path: String): Int = {
    val fs = fsOf(spark, path)
    val main = hp(s"$path/_gen.json")
    val tmp = hp(s"$path/_gen.json.tmp")
    if (fs.exists(main)) {
      // a corrupt MAIN pointer is loud: it was renamed complete, so
      // damage after the fact is real corruption, not a crash window
      val node = readMeta(spark, path, "_gen.json").get("gen")
      require(node != null && node.isIntegralNumber,
        s"corrupt _gen.json under $path: no integral 'gen' field")
      node.asInt()
    } else if (fs.exists(tmp)) {
      // first-flip crash window: compact died mid-write of the tmp
      // before ANY pointer existed. The gen-0 data is complete and must
      // keep serving — parse the tmp if it survived whole, otherwise
      // fall back to generation 0. Do NOT delete the torn tmp here: a
      // reader cannot tell a crashed compaction's debris from a LIVE
      // writer mid-flip (compaction is safe under concurrent readers),
      // and deleting a live writer's tmp would abort its completed fold
      // at the rename. The next compaction overwrites the tmp anyway.
      try {
        val node = readMeta(spark, path, "_gen.json").get("gen")
        require(node != null && node.isIntegralNumber, "no gen field")
        node.asInt()
      } catch { case scala.util.control.NonFatal(_) =>
        org.slf4j.LoggerFactory.getLogger(getClass).debug(
          s"unparseable _gen.json.tmp under $path (crashed first " +
          "compaction, or a live writer mid-flip); serving generation 0")
        0
      }
    } else 0
  }

  /** The directory the layout's CURRENT generation of bucket files lives
    * in — `path` itself for a flat layout, `path/_gen-N` after
    * compactions. Every reader and writer resolves through here. */
  def dataDir(spark: SparkSession, path: String): String = {
    val g = currentGen(spark, path)
    if (g == 0) path else s"$path/_gen-$g"
  }

  /** Write `df` to `path` as an external bucketed table layout (flat
    * generation-0 form; [[compact]] introduces generations later). An
    * existing layout at `path` — including any generation dirs — is
    * replaced; coordinating with live readers of a REWRITE is the
    * caller's contract, as with any overwrite.
    *
    * The input is RE-CLUSTERED by the bucket keys before the write —
    * THE bucketing shuffle, paid exactly once here: Spark's bucketed
    * writer otherwise emits a file per (input task × bucket), so a
    * fresh layout written from a 1000-task frame would be born with
    * 1000× the files every bucketed scan then has to open (and the
    * first compaction would re-read and re-write the whole layout just
    * to undo it). `repartition(buckets, keys)` uses the same Murmur3
    * hash as the bucket spec, so each task holds exactly one bucket's
    * rows and writes exactly one file. [[compact]]/[[rewrite]] bypass
    * this on purpose (writeFlat): their input is already the bucketed
    * scan's one-partition-per-bucket layout and must stay exchange-free. */
  def write(df: DataFrame, path: String, keys: Seq[String],
            buckets: Int): Unit = {
    val spark = df.sparkSession
    // clear stale generation structure: saveAsTable(overwrite) replaces
    // the directory anyway, but an interrupted earlier life of this path
    // may have left _gen-* dirs a fresh flat write must not resurrect
    val fs = fsOf(spark, path)
    if (fs.exists(hp(path))) fs.delete(hp(path), true)
    writeFlat(clusterByKeys(df, keys, buckets), path, keys, buckets)
  }

  /** THE bucketing shuffle, shared by every fresh-layout writer
    * ([[write]], [[append]], Catalog.defineBucketed): re-cluster rows so
    * each write task holds exactly one bucket's rows and emits exactly
    * one file. The invariant this encodes: `repartition(n, cols)` hashes
    * with the SAME Murmur3 `pmod` as Spark's bucket-id expression, so
    * shuffle partition i IS bucket i when n == buckets. If either hash
    * ever changes, every caller of this helper changes with it.
    * [[compact]]/[[rewrite]] bypass it on purpose — their input is
    * already the bucketed scan's one-partition-per-bucket layout and must
    * stay exchange-free. */
  def clusterByKeys(df: DataFrame, keys: Seq[String],
                    buckets: Int): DataFrame =
    df.repartition(buckets,
      keys.map(org.apache.spark.sql.functions.col): _*)

  /** The raw bucketed write into exactly `dir` — no generation handling.
    * Shared by [[write]] (dir = layout root) and [[compact]] (dir = the
    * next generation's subdirectory). */
  private def writeFlat(df: DataFrame, dir: String, keys: Seq[String],
                        buckets: Int): Unit = {
    val spark = df.sparkSession
    val tmp = freshName("w")
    spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", dir).format("parquet").saveAsTable(tmp)
    spark.sql(s"DROP TABLE `$tmp`")
  }

  /** Legacy crash-window recovery (pre-generation compactions used a
    * rename swap): a missing main dir with a complete `.old` beside it
    * means that compactor died between its two renames — the old
    * generation IS the data; move it back. Generation-based compaction
    * has no such window (the pointer flip is a single atomic rename). */
  private def heal(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    if (!fs.exists(hp(path))) {
      val old = hp(s"$path.old")
      if (fs.exists(old)) require(fs.rename(old, hp(path)),
        s"crash-window recovery rename $old -> $path failed")
    }
  }

  /** `schemaDdl`: pass the schema recorded at write time (see the index
    * metas) so an EMPTY layout attaches too — a zero-row bucketed write
    * produces no parquet files, and schema inference over the bare
    * directory throws. The empty corpus is the natural INITIAL state of a
    * start-from-nothing streaming pipeline, not an error. */
  def attach(spark: SparkSession, path: String, keys: Seq[String],
             buckets: Int, schemaDdl: Option[String] = None): DataFrame =
    attachNamed(spark, path, keys, buckets, schemaDdl)._1

  /** [[attach]] that also returns the registered table name, so a caller
    * with a lifecycle (Catalog.close) can DROP the metadata entry when it
    * discards the attachment — external table, files stay. The table's
    * LOCATION is the current generation's directory: the attachment keeps
    * reading that immutable generation even while a later compaction
    * flips the pointer (re-attach to adopt the new generation). */
  def attachNamed(spark: SparkSession, path: String, keys: Seq[String],
                  buckets: Int,
                  schemaDdl: Option[String] = None): (DataFrame, String) = {
    heal(spark, path)
    // a CRASHED append's partially-moved delta must be invisible to a
    // fresh attach. Healing is a write, so it runs under the lease —
    // taken opportunistically: a LIVE writer holding it means the debris
    // is its in-flight state (skip; that writer heals-or-commits), while
    // a crashed writer's lease is free or TTL-breakable. Zero cost on a
    // healthy layout (one root listing).
    if (appendDebris(spark, path)) {
      // best-effort on the reader path: a live writer's lease (conflict),
      // or read-only storage where even the lock create throws, must
      // never fail the ATTACH — the un-healed debris is then at worst a
      // live writer's in-flight state or a crashed writer's partial
      // delta that the next leased writer rolls back
      try WriterLease.withLease(spark, path, "bstore.healAppend(attach)") {
        healAppend(spark, path)
      } catch {
        case _: WriterLease.LeaseConflictException => ()
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"attach($path): could not heal crashed-append debris " +
              s"(read-only storage?): $e")
      }
    }
    val dir = dataDir(spark, path)
    val tbl = freshName("a")
    val ddl = schemaDdl.getOrElse(Sources.parquet(spark, dir).schema.toDDL)
    spark.sql(s"CREATE TABLE `$tbl` ($ddl) USING parquet " +
      s"CLUSTERED BY (${quoted(keys)}) SORTED BY (${quoted(keys)}) " +
      s"INTO $buckets BUCKETS LOCATION '$dir'")
    (spark.table(tbl), tbl)
  }

  /** Fold the layout's current generation into a fresh one — the periodic
    * bucket compaction an append-heavy store needs: every [[append]] adds
    * up to `buckets` new files, and after many deltas the per-bucket file
    * COUNT (not the data volume) is what slows scans and listings.
    *
    * Generation-swap, safe under concurrent readers: the rewrite lands in
    * `path/_gen-(N+1)` while generation N's files stay untouched, then one
    * atomic `_gen.json` rename flips new resolvers over. Attached tables,
    * served indexes and running streams that captured generation N keep
    * reading their complete immutable snapshot; the superseded generation
    * is reclaimed later by [[vacuum]] once its readers are gone. A crash
    * before the flip leaves an orphan `_gen-(N+1)` (invisible to readers;
    * the next compact overwrites it, vacuum deletes it); a crash after
    * the flip leaves generation N as orphan data for vacuum. Concurrent
    * WRITERS must be serialized externally (see class doc).
    *
    * `beforeFlip` runs after the rewrite, immediately before the pointer
    * flip — the fencing point for leased callers: a [[WriterLease.renew]]
    * here re-verifies exclusivity after a rewrite that may have outlived
    * the lease TTL, so a compaction whose lease was TTL-broken mid-fold
    * aborts (orphan `_gen-(N+1)`, vacuumed later) instead of flipping the
    * pointer over a generation a new writer is already appending into. */
  def compact(spark: SparkSession, path: String, keys: Seq[String],
              buckets: Int, beforeFlip: () => Unit = () => ()): Unit =
    rewrite(spark, path, keys, buckets, identity, beforeFlip)

  /** Generation-swapped TRANSFORMING rewrite — [[compact]] with a
    * per-row transform: the current generation is read through a pinned
    * bucketed scan (one partition per bucket, zero exchange), `transform`
    * reshapes the rows, and the result lands as the next generation with
    * one file per bucket. The transform must be PARTITIONING-PRESERVING —
    * filters, column rewrites that keep the bucket keys, broadcast-side
    * joins — or the bucketed write degrades to a file-per-(task×bucket)
    * re-fragmentation (correct, just no longer exchange-free). This is
    * how layout-keeping DELETE and UPDATE work at scale: a delete is a
    * filter-rewrite that never re-pays the bucketing shuffle of the
    * surviving rows. Same crash/reader safety as [[compact]]. */
  def rewrite(spark: SparkSession, path: String, keys: Seq[String],
              buckets: Int, transform: DataFrame => DataFrame,
              beforeFlip: () => Unit = () => ()): Unit =
   // self-lease on the exact layout path, for the same reason as
   // [[append]] (re-entrant under callers that already hold it)
   WriterLease.withLease(spark, path, s"bstore.rewrite($path)") {
    heal(spark, path) // a legacy-crashed previous compaction leaves only `.old`
    healAppend(spark, path) // a crashed append's partial delta must not fold in
    val fs = fsOf(spark, path)
    val gen = currentGen(spark, path)
    val cur = if (gen == 0) path else s"$path/_gen-$gen"
    // an empty layout (no part files yet) has nothing to fold — and no
    // schema to read
    if (!fs.exists(hp(cur)) || !fs.listStatus(hp(cur)).exists(
        _.getPath.getName.startsWith("part-"))) return
    val next = s"$path/_gen-${gen + 1}"
    if (fs.exists(hp(next))) fs.delete(hp(next), true) // crashed prior attempt
    // PER-BUCKET FILE MERGE, zero exchange: read the current generation
    // through an attached bucketed table with auto-bucketed-scan pinned ON
    // (DisableUnnecessaryBucketedScan would demote this bare scan→write to
    // a file-split plain scan, and the write would then emit a file per
    // (task × bucket) — re-fragmentation). A true bucketed scan serves
    // exactly ONE partition per bucket (bucket files are never split), the
    // bucketed writer hashes each ROW to its bucket for the file name —
    // so each task rewrites its own bucket into one file, and the
    // bucketing shuffle the original write paid is never paid again. The
    // old repartition-based fold shuffled the whole layout every
    // compaction; at 100 TB that exchange WAS the compaction cost.
    // pinned bucketed scan in a cloned session — see withPinnedBucketedScan
    withPinnedBucketedScan(spark, path, keys, buckets) { df =>
      writeFlat(transform(df), next, keys, buckets)
    }
    beforeFlip()
    writeMeta(spark, path, "_gen.json", s"""{"gen":${gen + 1}}""")
  }

  /** Run `body` over the layout's CURRENT generation read through a
    * PINNED bucketed scan — one partition per bucket, never file-split.
    * The pin is scoped to a CLONED session (shared metastore + context,
    * private conf): DisableUnnecessaryBucketedScan would demote a bare
    * scan→write to a file-split plain scan (and the write would emit a
    * file per task × bucket — re-fragmentation), while a set/restore on
    * the caller's session would race concurrent folds (two interleaved
    * finallys can leak the setting permanently) and alter every query the
    * session runs during the window. Shared by [[rewrite]] and
    * [[copyLayout]] — the invariant lives here once. */
  private def withPinnedBucketedScan[A](spark: SparkSession, path: String,
      keys: Seq[String], buckets: Int, schemaDdl: Option[String] = None)
      (body: DataFrame => A): A = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")
    val (df, tbl) = attachNamed(s2, path, keys, buckets, schemaDdl)
    try body(df)
    finally s2.sql(s"DROP TABLE IF EXISTS `$tbl`")
  }

  /** Copy a stored bucketed layout to a FRESH standalone layout dir
    * WITHOUT re-paying the bucketing shuffle: the source's current
    * generation is read through a pinned bucketed scan in a cloned
    * session (one partition per bucket — the same trick [[rewrite]]
    * uses) and written flat (gen 0, one file per bucket). This is the
    * re-homing path — Catalog.save of a bucketed relvar — where
    * [[write]]'s clusterByKeys exchange would re-pay, on EVERY save, the
    * shuffle the source layout already embodies; at corpus scale that
    * exchange would BE the save cost. Freshness contract: copies the
    * layout's current on-disk generation (what a fresh attach would
    * serve), not any one reader's pinned listing. */
  def copyLayout(spark: SparkSession, srcPath: String, destDir: String,
                 keys: Seq[String], buckets: Int,
                 schemaDdl: Option[String] = None): Unit = {
    val fs = fsOf(spark, destDir)
    if (fs.exists(hp(destDir))) fs.delete(hp(destDir), true)
    withPinnedBucketedScan(spark, srcPath, keys, buckets, schemaDdl) { df =>
      writeFlat(df, destDir, keys, buckets)
    }
  }

  /** Reclaim superseded generations: delete every `_gen-K` below
    * `currentGen - keepPrior`, every ORPHAN `_gen-K` ABOVE the current
    * generation (a compaction that crashed after its rewrite but before
    * the pointer flip — invisible to readers, dead weight on disk), and —
    * once a pointer exists — the flat generation-0 files a migrated
    * layout left at the root. `keepPrior` is the grace window: `1`
    * (default) keeps the generation immediately before the current one,
    * so readers that attached just before the last compaction stay
    * valid; `0` keeps only the current generation — the caller asserts
    * no reader predates it. Never touches the current generation.
    * Serialize against [[compact]] externally (the index-level vacuums
    * take the writer lease): an in-flight compaction's `_gen-(N+1)` is
    * indistinguishable from a crashed one's. */
  def vacuum(spark: SparkSession, path: String, keepPrior: Int = 1): Unit = {
    val fs = fsOf(spark, path)
    if (!fs.exists(hp(path))) return
    val gen = currentGen(spark, path)
    val floor = gen - keepPrior
    fs.listStatus(hp(path)).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("_gen-")) {
        val k = n.stripPrefix("_gen-").toInt
        if (k < floor || k > gen) fs.delete(st.getPath, true)
      }
      // migrated layout's generation-0 root files: superseded by _gen-1,
      // covered by the same grace arithmetic (gen 0 < floor)
      if (!st.isDirectory && n.startsWith("part-") && 0 < floor)
        fs.delete(st.getPath, false)
    }
  }

  /** Observable health of a layout — what an operator (or a policy like
    * [[maintain]]) needs to decide WHEN to compact and vacuum:
    * `maxFilesPerBucket` is the scan-latency driver each [[append]]
    * grows (a bucketed scan opens every file of a bucket in one task);
    * `supersededBytes` is the storage [[vacuum]] at the same `keepPrior`
    * would reclaim. */
  final case class LayoutStats(gen: Int, files: Long, bytes: Long,
                               maxFilesPerBucket: Int,
                               supersededGens: Int, supersededBytes: Long)

  private val bucketIdRe = "_(\\d{5})\\.".r

  /** One file listing of the layout root + current generation — no data
    * read. Superseded counts exactly what [[vacuum]] with the same
    * `keepPrior` would delete (the floor arithmetic is shared): `_gen-K`
    * dirs below `gen - keepPrior`, orphan above-current dirs, and — only
    * once the floor passes generation 0 — the flat root files a migrated
    * layout left. Generations inside the grace window are LIVE readers'
    * snapshots, not reclaimable storage, so they are not counted. */
  def stats(spark: SparkSession, path: String,
            keepPrior: Int = 1): LayoutStats = {
    val fs = fsOf(spark, path)
    if (!fs.exists(hp(path))) return LayoutStats(0, 0, 0, 0, 0, 0)
    val gen = currentGen(spark, path)
    val floor = gen - keepPrior
    val cur = dataDir(spark, path)
    val (files, bytes, perBucket) =
      if (!fs.exists(hp(cur))) (0L, 0L, Map.empty[String, Int])
      else {
        val parts = fs.listStatus(hp(cur))
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        (parts.length.toLong, parts.map(_.getLen).sum,
          parts.toSeq.groupBy(s =>
            bucketIdRe.findFirstMatchIn(s.getPath.getName)
              .map(_.group(1)).getOrElse("?"))
            .view.mapValues(_.size).toMap)
      }
    var supGens = 0
    var supBytes = 0L
    var rootFlat = false // migrated layout's flat gen-0 files at the root
    fs.listStatus(hp(path)).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("_gen-")) {
        val k = n.stripPrefix("_gen-").toInt
        if (k < floor || k > gen) {
          supGens += 1
          supBytes += fs.getContentSummary(st.getPath).getLength
        }
      } else if (st.isFile && n.startsWith("part-") && 0 < floor) {
        rootFlat = true
        supBytes += st.getLen
      }
    }
    if (rootFlat) supGens += 1
    LayoutStats(gen, files, bytes,
      perBucket.values.maxOption.getOrElse(0), supGens, supBytes)
  }

  /** Policy-driven upkeep: fold the layout when any bucket's file count
    * exceeds `maxFilesPerBucket` (each [[append]] adds up to one file per
    * bucket, and a bucketed scan opens all of a bucket's files in one
    * task — unbounded growth is unbounded scan latency), then reclaim
    * generations beyond the `keepPrior` grace window. Returns whether it
    * compacted. Serialize against other writers externally, like
    * [[compact]]/[[append]] — the index-level wrapper
    * (DocStream.maintainIndex) runs this under the writer lease with the
    * renewal fence. */
  def maintain(spark: SparkSession, path: String, keys: Seq[String],
               buckets: Int, maxFilesPerBucket: Int = 4,
               keepPrior: Int = 1,
               beforeFlip: () => Unit = () => ()): Boolean = {
    val s = stats(spark, path, keepPrior)
    val fold = s.maxFilesPerBucket > maxFilesPerBucket
    if (fold) compact(spark, path, keys, buckets, beforeFlip)
    vacuum(spark, path, keepPrior)
    fold
  }

  /** INSERT a delta through the stored bucket spec: the delta's rows land
    * as NEW bucket files beside the existing ones in the CURRENT
    * generation. Readers attached before the append keep their file
    * listing (re-[[attach]] to see the delta). Serialize against
    * [[compact]] externally (see class doc): a delta landing in a
    * generation mid-fold would be lost at the pointer flip. */
  def append(spark: SparkSession, path: String, df: DataFrame,
             keys: Seq[String], buckets: Int,
             schemaDdl: Option[String] = None): Unit =
   // SELF-LEASE on the layout path (re-entrant under a caller already
   // holding it, e.g. Catalog's mutation verbs): index-level writers
   // lease their INDEX ROOT while appending into sub-layouts
   // (DocStream leases $dir, appends $dir/band) — without the exact-path
   // lease here, a concurrent reader's opportunistic healAppend on the
   // sub-layout would find its lease FREE during a live append and roll
   // the in-flight delta back mid-move.
   WriterLease.withLease(spark, path, s"bstore.append($path)") {
    val fs = fsOf(spark, path)
    // a crashed prior append's debris must not mix with this delta:
    // roll it back first (we hold the layout's writer lease)
    healAppend(spark, path)
    val dir = dataDir(spark, path)
    val ddl = schemaDdl.getOrElse(Sources.parquet(spark, dir).schema.toDDL)
    // select the delta's columns in the TABLE's order by NAME and CAST
    // each to the layout's recorded type (the old INSERT INTO coerced by
    // table schema; writing the delta's own types would poison the
    // layout — an int32 delta file in a bigint layout throws on every
    // later scan), failing loud on a missing column;
    // re-cluster the DELTA by the bucket keys ([[clusterByKeys]],
    // delta-sized so the exchange is cheap): a wide delta frame would
    // otherwise land file-per-(task × bucket), unbounding the "each
    // append adds up to `buckets` files" fragmentation contract the
    // maintain cadence is budgeted against
    val fields = org.apache.spark.sql.types.StructType.fromDDL(ddl).fields
    val ordered = clusterByKeys(
      df.select(fields.map(f =>
        df(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*),
      keys, buckets)
    // CRASH-ATOMIC stage→commit (the generation pointer's little sibling):
    //   1. the delta's bucket files land in an invisible `_stage-<token>`
    //      dir — a crash here leaves debris no reader lists;
    //   2. an intent marker `_append-<token>.json` records the staged
    //      file names and target generation (atomic tmp+rename);
    //   3. the files move into the live generation dir (names carry the
    //      job uuid — collision-free, and the `_NNNNN` bucket suffix the
    //      bucketed scan maps files by survives the move);
    //   4. the marker is DELETED — the single-file atomic COMMIT point.
    // A crash anywhere before step 4 is rolled back whole by
    // [[healAppend]] (next leased writer op, or a fresh attach when the
    // crashed writer's lease is free/expired): a fresh attach sees the
    // pre-insert set EXACTLY, and re-delivering the same insert commits
    // it exactly once — never the partially-visible delta the old
    // in-place INSERT left behind.
    val token = java.lang.Long.toUnsignedString(
      new java.security.SecureRandom().nextLong(), 36)
    val stage = s"$path/_stage-$token"
    writeFlat(ordered, stage, keys, buckets)
    val staged = fs.listStatus(hp(stage))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.getName).toSeq.sorted
    writeMeta(spark, path, s"_append-$token.json",
      s"""{"gen":${currentGen(spark, path)},"files":[""" +
        staged.map(graft.types.Json.str).mkString(",") + "]}")
    // fence BEFORE the first move: the staging write above is a full
    // Spark job that can outlive the lease TTL — if a breaker (healer)
    // claimed the layout meanwhile, renew throws and we abort with zero
    // files moved (the orphan staging is invisible and reclaimed later).
    // The moves themselves are sub-second metadata renames, so a freshly
    // renewed lease cannot expire under them.
    WriterLease.renew(spark, path, s"bstore.append($path)")
    staged.foreach { n =>
      require(fs.rename(hp(s"$stage/$n"), hp(s"$dir/$n")),
        s"append($path): commit rename of $n failed")
    }
    fs.delete(hp(stage), true)
    // fence before the visibility commit: if this append outlived the
    // lease TTL and a breaker (possibly a healer) claimed the layout,
    // our moved files may already be rolled back — abort LOUD instead of
    // committing a marker-delete over a healed layout (the caller's
    // exactly-once watermark must not advance past a lost delta)
    WriterLease.renew(spark, path, s"bstore.append($path)")
    require(fs.delete(hp(s"$path/_append-$token.json"), false), // COMMIT
      s"append($path): intent marker vanished before commit — a healer " +
        "rolled this append back; re-deliver the delta")
   }

  /** Crash debris of [[append]]'s stage→commit protocol under `path`?
    * One root listing, no data read. */
  private def appendDebris(spark: SparkSession, path: String): Boolean = {
    val fs = fsOf(spark, path)
    fs.exists(hp(path)) && fs.listStatus(hp(path)).exists { st =>
      val n = st.getPath.getName
      n.startsWith("_stage-") ||
        (n.startsWith("_append-") && n.endsWith(".json"))
    }
  }

  /** Roll back a crashed [[append]]: for every intent marker, delete the
    * listed file names from their recorded generation (the moves that
    * happened before the crash), the staging dir, then the marker; plain
    * `_stage-*` leftovers without a marker (crash before the intent
    * landed) just drop. After healing, the layout reads exactly as it
    * did before the crashed insert started — re-delivery then commits it
    * exactly once. MUST run serialized with writers (callers hold the
    * writer lease): a live append's staging is indistinguishable from a
    * crashed one's. */
  def healAppend(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    if (!fs.exists(hp(path))) return
    val entries = fs.listStatus(hp(path))
    entries.foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.startsWith("_append-") && n.endsWith(".json")) {
        val token = n.stripPrefix("_append-").stripSuffix(".json")
        val meta = readMeta(spark, path, n)
        val gen = meta.get("gen").asInt()
        val genDir = if (gen == 0) path else s"$path/_gen-$gen"
        val files = meta.get("files")
        (0 until files.size).foreach { i =>
          fs.delete(hp(s"$genDir/${files.get(i).asText()}"), false)
        }
        fs.delete(hp(s"$path/_stage-$token"), true)
        fs.delete(st.getPath, false)
      }
    }
    entries.foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("_stage-") &&
          !fs.exists(hp(s"$path/_append-${n.stripPrefix("_stage-")}.json")))
        fs.delete(st.getPath, true)
    }
  }

  /** Tiny JSON meta beside the data, through `dir`'s own Hadoop FS with
    * atomic tmp+rename; [[readMeta]] covers the rename crash window. */
  def writeMeta(spark: SparkSession, dir: String, fileName: String,
                json: String): Unit = {
    val hfs = fsOf(spark, dir)
    val tmp = hp(s"$dir/$fileName.tmp")
    val out = hfs.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val tgt = hp(s"$dir/$fileName")
    if (hfs.exists(tgt)) hfs.delete(tgt, false)
    require(hfs.rename(tmp, tgt), s"writeMeta: rename $tmp -> $tgt failed")
  }

  def readMeta(spark: SparkSession, dir: String,
               fileName: String): com.fasterxml.jackson.databind.JsonNode = {
    val hfs = fsOf(spark, dir)
    val main = hp(s"$dir/$fileName")
    val tmp = hp(s"$dir/$fileName.tmp")
    val src = if (hfs.exists(main)) main
              else { require(hfs.exists(tmp), s"no $fileName under $dir"); tmp }
    val in = hfs.open(src)
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
  }
}
