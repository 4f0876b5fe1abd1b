package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.rel.Rel
import graft.types.AndlTypes
import scala.collection.concurrent.TrieMap

/** Named relvars, scalar vars, typed functions and user types persisting
  * across statements and across SESSIONS — the reference's Catalog
  * (Andl.Runtime/Catalog.cs:93-128; scopes Catalog.cs:22) re-expressed for
  * Spark.
  *
  * A relvar is a catalog entry pointing at an immutable DataFrame snapshot;
  * updates build a new snapshot and atomically swap the pointer (SURVEY
  * §2.6) — the same copy-on-write discipline Delta/Iceberg use, minus the
  * transaction log.
  *
  * [[save]] writes each relvar as parquet plus a `catalog.meta.json` (one
  * JSON object per line) holding scalars, function definitions (SQL text)
  * and user types; [[Catalog.load]] restores all of it into a fresh
  * session, re-registering every function — the analogue of the
  * reference's serialized-ExpressionBlock persistence (Persist.cs:16-31,
  * tested as a two-run pair by Test/SuiteUpdateCat1/2.andl).
  *
  * Introspection tables (andl_variable/andl_operator/andl_member analogues,
  * Builtin.cs:824-838) are exposed as DataFrames.
  */
final class Catalog(val spark: SparkSession) {
  private val relvars = TrieMap.empty[String, Rel]
  private val scalars = TrieMap.empty[String, Any]
  private val funcs   = TrieMap.empty[String, Vector[RegisteredFun]]
  private val udts    = TrieMap.empty[String, UdtDef]
  // archived snapshots per relvar, oldest first — with `trimmedV(name)`
  // versions evicted by retention, history(i) is version trimmedV+i+1 and
  // the current relvar is version trimmedV + history.size + 1
  private val history = TrieMap.empty[String, Vector[Rel]]
  // versions dropped from the front of `history` by the retention window
  private val trimmedV = TrieMap.empty[String, Int]
  // cadence-snapshot versions THIS instance wrote under historyDir —
  // retention's file vacuum reclaims the ones no retained plan can reach
  private val snapVers = TrieMap.empty[String, Vector[Int]]
  // parquet path the CURRENT stored plan is a pure scan of (set by load and
  // by the post-save rebind, cleared on every swap): lets [[save]] skip the
  // rewrite when the data already sits at the destination, and avoids
  // overwriting a file the live plan is reading from
  private val boundTo = TrieMap.empty[String, String]

  // ------------------------------------------------------------- relvars

  /** Materialization cadence for long version chains:
    * `spark.graft.catalog.materializeEvery` (default 8; 0 disables).
    * Every k-th version is WRITTEN to parquet at swap time and the stored
    * plan replaced by a scan of that snapshot, so a chain of n updates
    * replays at most k−1 plan layers above a materialized base instead of
    * n layers back to the original source — as-of read cost stays FLAT as
    * the chain grows, at the price of one full write every k versions. */
  private def matEvery: Int =
    spark.conf.getOption("spark.graft.catalog.materializeEvery")
      .map(_.toInt).getOrElse(8)

  /** Retention window for version chains:
    * `spark.graft.catalog.keepVersions` (default 0 = unbounded). With a
    * window of n, only the last n versions stay addressable — older
    * archived plans are dropped on write (bounding driver memory) and the
    * cadence-snapshot FILES no retained version replays through are
    * deleted (bounding the on-disk footprint, which otherwise grows by
    * one full relvar copy every [[matEvery]] writes until close). An
    * as-of read past the window refuses LOUDLY ([[relvarAt]]). */
  private def keepVersions: Int =
    spark.conf.getOption("spark.graft.catalog.keepVersions")
      .map(_.toInt).getOrElse(0)

  /** Where cadence snapshots land: `spark.graft.catalog.historyDir`,
    * defaulting to `<warehouse>/_graft_history`. */
  private def historyDir: String =
    spark.conf.getOption("spark.graft.catalog.historyDir")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/_graft_history")

  /** Grace window for the layout-generation vacuum on ATTACH-LOADED
    * bucketed relvars (`spark.graft.catalog.layoutKeepPrior`, default 1):
    * beyond the generations this catalog's own retained versions pin,
    * keep this many prior generations for readers outside the catalog
    * (another session attached to the shared saved layout). Managed
    * layouts are `__c<id>`-namespaced — no external reader can hold
    * them, so they vacuum down to the pins alone. */
  private def layoutKeepPrior: Int =
    spark.conf.getOption("spark.graft.catalog.layoutKeepPrior")
      .map(_.toInt).getOrElse(1)

  /** Archive the current snapshot and swap in the new one: EVERY write
    * goes through here, so the full version chain is retained
    * (snapshot-on-write — the Delta/Iceberg discipline minus the log).
    * Snapshots are immutable lazy plans over immutable inputs; nothing
    * materializes until a versioned read runs (except the [[matEvery]]
    * cadence writes), so history is O(plans) with BOUNDED replay depth,
    * and [[relvarAt]]/[[versionDiff]] make the catalog an honest
    * incremental-curation substrate. */
  private def swap(name: String, r0: Rel, alreadyStored: Boolean = false): Unit = {
    val newVersion = trimmedV.getOrElse(name, 0) +
      history.getOrElse(name, Vector.empty).size +
      (if (relvars.contains(name)) 2 else 1)
    val k = matEvery
    // alreadyStored: the incoming plan is itself a scan of a durable table
    // (defineBucketed) — replay depth is already 1, and replacing it with a
    // plain parquet snapshot would DESTROY its bucketing metadata (and the
    // zero-Exchange join contract), so the cadence never fires for it
    val r =
      if (!alreadyStored && k > 0 && newVersion % k == 0) {
        // cadence snapshots are namespaced by catalogId like bucketed
        // physical tables: two Catalog instances in one session holding a
        // same-named relvar must not overwrite each other's v<N> files
        // while live stored plans still scan them
        val path = s"$historyDir/${name}__c$catalogId/v$newVersion.parquet"
        r0.df.write.mode("overwrite").parquet(path)
        snapVers(name) = snapVers.getOrElse(name, Vector.empty) :+ newVersion
        // read back under the written heading: no inference job
        Rel.distinct(graft.sources.Sources.parquet(spark, path, Some(r0.df.schema)))
      } else r0
    relvars.get(name).foreach { old =>
      history(name) = history.getOrElse(name, Vector.empty) :+ old }
    relvars(name) = r
    boundTo.remove(name)
    bucketSpec.remove(name) // defineBucketed re-records after its swap
    retain(name)
  }

  /** Apply the [[keepVersions]] retention window after a write: evict
    * archived plans older than the window and vacuum the cadence-snapshot
    * files nothing retained can reach. The oldest retained version's plan
    * replays down to its nearest materialized base b (the largest cadence
    * version ≤ it); every LATER retained version's base is ≥ b, so
    * snapshot files below b are provably unreachable and are deleted.
    * Snapshots ≥ b stay even when their version number is outside the
    * window — they are live bases of retained plans. */
  private def retain(name: String): Unit = {
    val keep = keepVersions
    if (keep <= 0) return
    val past = history.getOrElse(name, Vector.empty)
    val excess = past.size - (keep - 1)
    if (excess <= 0) return
    history(name) = past.drop(excess)
    val t = trimmedV.getOrElse(name, 0) + excess
    trimmedV(name) = t
    // evicted versions release their layout-generation pins — the next
    // mutation's vacuum can then reclaim generations only they read
    layoutGens.get(name).foreach(m => layoutGens(name) = m.filter(_._1 > t))
    val oldest = t + 1 // oldest still-addressable version
    val snaps = snapVers.getOrElse(name, Vector.empty)
    snaps.filter(_ <= oldest).maxOption.foreach { base =>
      val dead = snaps.filter(_ < base)
      if (dead.nonEmpty) {
        val fs = new org.apache.hadoop.fs.Path(historyDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        dead.foreach { v =>
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$historyDir/${name}__c$catalogId/v$v.parquet"), true)
        }
        snapVers(name) = snaps.filter(_ >= base)
      }
    }
  }

  def define(name: String, r: Rel): Unit = swap(name, r)

  /** Current version of a relvar: 1 + the number of archived writes
    * (including those evicted by the retention window — version numbers
    * are absolute and never reused). */
  def version(name: String): Int = {
    relvar(name) // throws for unknown names
    trimmedV.getOrElse(name, 0) + history.getOrElse(name, Vector.empty).size + 1
  }

  /** Time travel: the relvar AS OF `v` (1-based; `v = version(name)` is
    * the current snapshot). An as-of past the [[keepVersions]] retention
    * window refuses loudly — the data is gone, not silently substituted. */
  def relvarAt(name: String, v: Int): Rel = {
    val cur = relvar(name)
    val past = history.getOrElse(name, Vector.empty)
    val t = trimmedV.getOrElse(name, 0)
    val hi = t + past.size + 1
    require(v >= 1 && v <= hi,
      s"relvar $name has versions 1..$hi, asked for $v")
    require(v > t,
      s"relvar $name version $v was evicted by the retention window " +
      s"(kept: ${t + 1}..$hi; spark.graft.catalog.keepVersions=" +
      s"$keepVersions) — raise the window before the write that evicts, " +
      "or disable retention")
    // long-lived readers over a SHARED layout refresh their durable pin's
    // staleness epoch on as-of reads (rate-limited to TTL/4), so a rival
    // session's vacuum keeps honoring them past the pin TTL ([[syncPin]]
    // is a no-op for managed/non-bucketed relvars)
    syncPin(name, refreshOnly = true)
    if (v == hi) cur else past(v - t - 1)
  }

  /** What changed between two versions, keyed by `idCol` with content
    * fingerprinted from `contentCol` — delegates to the
    * [[graft.pipeline.Snapshot]] delta primitive:
    * (doc_id, status ∈ added|removed|changed|unchanged). */
  def versionDiff(name: String, v1: Int, v2: Int, idCol: String,
                  contentCol: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.Snapshot.diff(relvarAt(name, v1).df, relvarAt(name, v2).df,
      idCol, contentCol)

  /** Define a relvar persisted as a BUCKETED (and per-bucket sorted) table:
    * the declared-key scale path (SURVEY §7.4 hard part #1). Two relvars
    * bucketed the same way join/aggregate on that key with NO exchange and
    * no sort — the shuffle is paid once at write time, then reused by every
    * downstream stage. On a cluster this is the difference between an
    * O(data) shuffle per join and none. */
  /** Monotonic physical-generation counter per bucketed relvar name: each
    * [[defineBucketed]] writes a FRESH table (`name__cC_bktN`), never the
    * location a previous generation's archived snapshot still reads —
    * redefining a bucketed relvar used to DROP and rewrite one shared
    * path, silently rebinding every history version to the new data.
    * The physical namespace also carries a per-CATALOG-instance id (C):
    * two catalogs in one Spark session (e.g. Catalog.load twice) would
    * otherwise both start at generation 1 and the second's DROP would
    * delete the table the first's live relvars still read. */
  private val bucketGen = TrieMap.empty[String, Int]
  private val catalogId = Catalog.instanceIds.incrementAndGet()
  // the CURRENT bucket layout per name (cols, buckets) — recorded so save()
  // can persist the spec and load() can REBUILD the bucketed table (the
  // shuffle is re-paid once per load, then reused by every join, exactly
  // like the original define). A plain write to the name clears it: the
  // new current is no longer the bucketed table.
  private val bucketSpec = TrieMap.empty[String, (Seq[String], Int)]
  // which layout GENERATION each retained version's plan scans, for
  // bucketed relvars: absolute version → generation. Every layout
  // mutation archives the old attachment (pinned to the generation dir
  // it captured) and attaches the new one — these pins are what keeps
  // [[vacuumLayout]] from deleting a generation an as-of read can still
  // reach. Reset whenever the layout identity changes (defineBucketed
  // writes a fresh physical table; a plain write drops the spec).
  private val layoutGens = TrieMap.empty[String, Map[Int, Int]]

  def defineBucketed(name: String, r: Rel, bucketCols: Seq[String],
                     buckets: Int): Unit = {
    require(bucketCols.nonEmpty, "bucketed relvar needs at least one key column")
    val gen = bucketGen.updateWith(name)(g => Some(g.getOrElse(0) + 1)).get
    val phys = s"${name}__c${catalogId}_bkt$gen"
    // a previous JVM may have left this generation's managed location
    // behind while this session's in-memory metastore has no such table —
    // clear both, like overwrite would if the table were still registered.
    // (Only THIS generation's path: older generations stay on disk because
    // this session's history snapshots may read them.)
    spark.sql(s"DROP TABLE IF EXISTS `$phys`")
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(phys))
    val fs = org.apache.hadoop.fs.FileSystem.get(loc,
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(loc)
    if (fs.exists(p)) fs.delete(p, true)
    // re-cluster by the bucket keys FIRST (BucketedStore.clusterByKeys —
    // the bucketing shuffle, paid once; without it the bucketed writer
    // emits a file per (input task × bucket) and the layout is born
    // fragmented), THEN dedup a bag source: the set-semantics dropDuplicates
    // clusters on the key partitioning (key subset satisfies its
    // distribution), so a non-distinct source pays ONE exchange here, not
    // a dedup exchange followed by a key exchange
    val clustered = graft.sources.BucketedStore.clusterByKeys(
      r.bagDF, bucketCols, buckets)
    val toStore = if (r.knownDistinct) clustered else clustered.dropDuplicates()
    toStore.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(phys)
    // a bag source deduplicates on write, so the stored table is distinct
    // by construction either way
    swap(name, Rel.distinct(spark.table(phys)), alreadyStored = true)
    bucketSpec(name) = (bucketCols, buckets)
    // layout identity changed to a fresh MANAGED table: stop re-stamping
    // the pin this session held on a previously-attached shared layout —
    // but do NOT clear the file: swap() ARCHIVED the old attachment into
    // history, so retained as-of versions still scan the shared layout's
    // files. The orphaned pin protects them until it TTLs out (the
    // crashed-session story); past that they fall under rival writers'
    // layoutKeepPrior grace, loudly documented here rather than silently
    // released while an archive still reads.
    pinPaths.remove(name)
    layoutGens(name) = Map(version(name) -> 0) // fresh layout: flat gen 0
  }
  /** Attach a bucketed layout persisted by [[save]]: the stored bucket
    * files become the relvar's scan directly — zero shuffle, the
    * zero-Exchange join contract restored by metadata alone (where a
    * rebuild re-pays the full bucketing shuffle, at 100 TB the dominant
    * cost of loading a catalog). */
  /** Metastore entries created by attach-loads — dropped on [[close]]
    * (external tables: metadata only, the caller's saved files stay). */
  private val attachedTables = scala.collection.mutable.ArrayBuffer.empty[String]

  private[catalog] def defineBucketedAttached(name: String, path: String,
      bucketCols: Seq[String], buckets: Int,
      schemaDdl: Option[String] = None): Unit = {
    val (df, tbl) = graft.sources.BucketedStore.attachNamed(spark, path,
      bucketCols, buckets, schemaDdl)
    attachedTables += tbl
    swap(name, Rel.distinct(df), alreadyStored = true)
    bucketSpec(name) = (bucketCols, buckets)
    boundTo(name) = path
    pinPaths(name) = path
    layoutGens(name) =
      Map(version(name) -> graft.sources.BucketedStore.currentGen(spark, path))
    syncPin(name)
  }

  def relvar(name: String): Rel = {
    val r = relvars.getOrElse(name,
      throw new NoSuchElementException(s"relvar $name"))
    // a busy CURRENT-version reader over a shared layout must not let its
    // durable pin TTL out either — refresh here too, rate-limited to
    // TTL/4 so the hot path pays a map lookup, not a filesystem write
    // (no-op for managed/non-bucketed relvars)
    syncPin(name, refreshOnly = true)
    r
  }
  def names: Seq[String] = relvars.keys.toSeq.sorted

  /** Forget a relvar: current plan, version history and retention state
    * all go. Its bucketed physical generations and cadence-snapshot dirs
    * stay on disk until [[close]] — which reclaims them by scanning this
    * instance's `__c<id>` namespace, so dropping (or renaming) before
    * close never leaks them. */
  def drop(name: String): Unit = {
    relvar(name) // throws for unknown names
    // release the durable cross-session pin: nothing of this session
    // reads the shared layout once the relvar (and its history) is gone
    pinPaths.remove(name).foreach(p =>
      graft.sources.GenPins.clear(spark, p, sessionPinId))
    relvars.remove(name); history.remove(name); boundTo.remove(name)
    bucketSpec.remove(name); trimmedV.remove(name); snapVers.remove(name)
    layoutGens.remove(name)
    // bucketGen intentionally stays: close() drops the physical tables
  }

  /** update R union r — insert (Builtin.UpdateJoin:625-633). */
  /** Set-union insert. A relvar carrying a bucket spec routes through
    * [[insertBucketed]] automatically, so the language-level `update R
    * union r` scales on stored layouts without a separate API; plain
    * relvars take the lazy plan union. */
  def insert(name: String, rows: Rel): Unit =
    if (bucketSpec.contains(name)) insertBucketed(name, rows)
    else swap(name, relvar(name).union(rows))

  /** [[insert]] THROUGH a bucketed relvar's stored layout — the
    * incremental-ingest path at scale: the genuinely novel rows land as
    * NEW bucket files beside the existing ones (a partition write; the
    * history is never rewritten and its bucketing shuffle is never
    * re-paid — only the delta shuffles into its buckets) and the
    * relvar's plan re-attaches over the widened listing KEEPING the
    * bucket spec, so the zero-Exchange co-located join contract survives
    * ingest. Plain [[insert]] on a bucketed relvar degrades to a plan
    * union and drops the spec — correct, but the next save re-pays the
    * full layout shuffle; at 100 TB that difference IS the ingest cost.
    *
    * Version history stays exact without copying: every version's plan
    * resolves its file listing when it is created (the BucketedStore
    * append/attach snapshot contract — SourcesSpec pins it), so versions
    * archived before this insert keep serving exactly the files they
    * captured. Set semantics: the delta dedups internally and anti-joins
    * the current rows (null-safe on every attribute), so re-delivered
    * rows can't double-insert. Falls back to [[insert]] when the relvar
    * carries no bucket spec.
    *
    * Runs under the layout's [[graft.sources.WriterLease]] — the same
    * single-writer discipline every other persisted-layout writer
    * (DocStream, Similarity) observes: a rival mutation on the same
    * layout (two catalogs attach-loaded from one saved dir, or a
    * mutation beside an index appender) fails LOUD instead of silently
    * interleaving delta files with a concurrent fold's pointer flip.
    *
    * CRASH-ATOMIC: the delta stages in an invisible `_stage-<token>`
    * dir, an intent marker records the staged names, the files move into
    * the live generation, and deleting the marker is the single-file
    * atomic commit (BucketedStore.append's stage→commit protocol). A
    * crash anywhere before the commit is rolled back whole by the next
    * leased writer op or a fresh attach (BucketedStore.healAppend) — a
    * fresh attach sees the pre-insert set EXACTLY, never a partial
    * delta. Recovery is re-delivery: re-run the SAME insert whole — the
    * healed layout holds none of the crashed attempt's rows, and the
    * null-safe anti-join keeps an already-committed retry idempotent —
    * so the delta commits exactly once. */
  def insertBucketed(name: String, rows: Rel): Unit =
    bucketSpec.get(name) match {
      case None => swap(name, relvar(name).union(rows))
      case Some((cols, k)) =>
        // schema rides along: a previous delete-all left an EMPTY current
        // generation, where inference over the bare directory would throw
        val ddl = Some(relvar(name).df.schema.toDDL)
        val path = layoutPath(name)
        graft.sources.WriterLease.withLease(spark, path,
            s"catalog.insertBucketed($name)") {
          // dedup against the CURRENT ON-DISK listing, not this catalog's
          // attached plan: the plan's file listing may predate a rival
          // session's committed append (the lease serializes writers, it
          // does not refresh snapshots), and an anti-join over the stale
          // listing would re-insert a row the rival already landed —
          // duplicate tuples in a layout every later attach trusts as
          // distinct. A fresh attach under the lease sees every committed
          // row, so alternating inserts from two sessions on one saved
          // layout stay set-semantic. (The rewrite paths are immune:
          // BucketedStore.rewrite attaches the current listing itself.)
          val (curDf, tbl) = graft.sources.BucketedStore.attachNamed(
            spark, path, cols, k, ddl)
          try {
            val d = rows.df.dropDuplicates()
            // the dedup must compare ALL attributes, but a direct
            // anti-join of the delta against the full history on every
            // column would sort-merge — shuffling and sorting the WHOLE
            // corpus per insert, exactly the cost this path exists to
            // avoid. An exact duplicate necessarily shares the bucket
            // keys, so first narrow history to the delta's keys with a
            // null-safe BROADCAST semi-join (history side: bare bucketed
            // scan, zero exchange, no sort — only the delta-sized key set
            // moves), then anti-join the delta against that delta-scale
            // candidate set on all attributes. Ingest cost stays
            // O(delta · read), never O(corpus · shuffle).
            val dk = d.select(cols.map(col): _*).dropDuplicates()
            val kc = cols.map(c => curDf(c) <=> dk(c)).reduce(_ && _)
            // broadcast the delta's key set ONLY while it plausibly fits
            // driver/executor memory (Catalyst plan-stats estimate vs
            // `spark.graft.catalog.insertBroadcastBytes`, default the
            // session's autoBroadcastJoinThreshold floored at 10 MB —
            // the Contract.refJoin pattern): a streaming-scale delta
            // takes the zero-exchange broadcast semi-join; a bulk
            // backfill DEGRADES to a shuffled — still delta-bounded —
            // semi-join instead of a corpus-sized broadcast incident.
            val bcLimit =
              spark.conf.getOption("spark.graft.catalog.insertBroadcastBytes")
                .map(_.toLong)
                .getOrElse(math.max(
                  spark.sessionState.conf.autoBroadcastJoinThreshold,
                  10L << 20))
            val dkEst = {
              val s = spark.sessionState
                .executePlan(dk.queryExecution.logical)
                .optimizedPlan.stats.sizeInBytes
              if (s.isValidLong) s.toLong else Long.MaxValue
            }
            val cand = curDf.join(
              if (bcLimit > 0 && dkEst <= bcLimit) broadcast(dk) else dk,
              kc, "left_semi")
            val cond = curDf.columns.map(c => d(c) <=> cand(c))
              .reduce(_ && _)
            val fresh = d.join(cand, cond, "left_anti")
            graft.sources.BucketedStore.append(spark, path,
              fresh, cols, k, ddl)
          } finally spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
          reattach(name, cols, k, ddl)
          // an append supersedes no generation, but the version it
          // archives can push an OLDER version out of the retention
          // window — reclaim its released pins now rather than deferring
          // to the next rewrite
          vacuumLayout(name)
        }
    }

  /** The on-disk layout a bucketed relvar's plan scans: the attach-loaded
    * path, or the managed physical table's location. */
  private def layoutPath(name: String): String =
    boundTo.getOrElse(name, {
      val phys = s"${name}__c${catalogId}_bkt${bucketGen(name)}"
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(phys))
        .location.toString
    })

  /** Swap the relvar to a fresh attachment of its (just-mutated) layout,
    * KEEPING the bucket spec and the save-free binding. The new plan pins
    * the post-mutation listing; the archived plan keeps the one it
    * captured at its own creation. */
  private def reattach(name: String, cols: Seq[String], k: Int,
                       schemaDdl: Option[String] = None): Unit = {
    val path = layoutPath(name)
    val (df2, tbl) = graft.sources.BucketedStore.attachNamed(
      spark, path, cols, k, schemaDdl)
    attachedTables += tbl
    val bound = boundTo.get(name)
    swap(name, Rel.distinct(df2), alreadyStored = true)
    bucketSpec(name) = (cols, k) // swap cleared it; the layout holds
    bound.foreach(boundTo(name) = _) // attach-loaded stay save-free
    // the new current version pins the generation it just attached
    layoutGens(name) = layoutGens.getOrElse(name, Map.empty) +
      (version(name) -> graft.sources.BucketedStore.currentGen(spark, path))
    syncPin(name)
  }

  /** Reclaim layout generations no retained version can reach — the
    * storage bound on mutation chains: every [[deleteWhere]]/
    * [[updateWhere]] on a bucketed relvar supersedes a full generation,
    * which without this grows disk by one relvar copy per mutation until
    * [[close]]. The floor is the oldest generation any RETAINED version
    * pins (as-of reads stay exact; with unbounded retention that pins
    * everything, same as unbounded history), widened by
    * [[layoutKeepPrior]] for attach-loaded layouts whose saved dir other
    * sessions may have attached. Caller holds the writer lease.
    *
    * Cross-session contract: pins are DURABLE — every session holding
    * retained versions over a shared layout stamps a pin file beside it
    * ([[graft.sources.GenPins]], written on attach/reattach/maintain and
    * refreshed on every as-of read), and the vacuum floor honors the
    * union of all sessions' fresh pins. [[layoutKeepPrior]] remains only
    * as a BACKSTOP for sessions whose pins went stale (crashed without
    * close; `spark.graft.catalog.pinTtlMs` ages them out so a dead
    * reader can never leak superseded generations forever). */
  /** The pin-driven grace window for `name`'s layout at current
    * generation `gen`: how many generations below the current one must
    * survive — the span down to the oldest generation a RETAINED version
    * pins, widened by [[layoutKeepPrior]] on attach-loaded layouts other
    * sessions may read. SHARED by [[vacuumLayout]] (what it keeps) and
    * [[layoutStats]] (what it reports as reclaimable) so the two can
    * never disagree. */
  private def pinKeepPrior(name: String, gen: Int): Int = {
    val ownMin =
      (layoutGens.getOrElse(name, Map.empty).values ++ Seq(gen)).min
    val shared = boundTo.contains(name)
    // DURABLE cross-session pins: rival sessions holding version history
    // over this shared layout stamp pin files beside it
    // ([[graft.sources.GenPins]]); the vacuum floor honors the union of
    // all sessions' fresh pins, so keepVersions on one session can no
    // longer reclaim a generation another session's in-window as-of read
    // still serves. layoutKeepPrior demotes to a BACKSTOP for sessions
    // whose pins went stale (crashed before clearing; TTL'd out) or that
    // predate the pin protocol.
    val otherMin =
      if (shared)
        graft.sources.GenPins.minPinnedByOthers(spark, layoutPath(name),
          sessionPinId)
      else None
    val minPinned = math.min(ownMin, otherMin.getOrElse(gen))
    val grace = if (shared) layoutKeepPrior else 0
    math.max(gen - minPinned, grace)
  }

  /** Globally unique pin identity for this catalog instance: catalogId
    * alone is a per-JVM counter — two processes sharing a saved layout
    * would collide on pin file names without the random component. */
  private val sessionPinId = s"c$catalogId-" + java.lang.Long.toUnsignedString(
    new java.security.SecureRandom().nextLong(), 36)

  /** The shared-layout path each relvar's pins protect. Unlike
    * [[boundTo]] this SURVIVES a plain write (which drops the binding):
    * the relvar's ARCHIVED versions still scan the attach-loaded files,
    * so the pin must keep re-stamping (via [[relvarAt]]) until the
    * relvar is dropped or the catalog closes — otherwise a rival's
    * vacuum reclaims the generation under the archive once the pin
    * TTLs out. Reset when the layout identity changes (defineBucketed
    * writes a fresh managed table nobody else reads). */
  private val pinPaths = TrieMap.empty[String, String]

  // last successful pin stamp per relvar (epoch ms): refresh-only calls
  // (as-of reads) skip the filesystem write while the stamp is younger
  // than a quarter of the TTL — versionDiff-style read loops must not
  // pay a PUT per read on an object store
  private val pinStamped = TrieMap.empty[String, Long]

  /** (Re-)stamp this session's durable pin file for `name`'s layout with
    * the oldest generation its retained versions scan — only for
    * attach-loaded (shared) layouts; managed `__c<id>` layouts have no
    * external readers by construction. Called wherever the pin set
    * changes (attach, reattach, maintain) and on every as-of read (which
    * refreshes the staleness epoch for long-lived readers;
    * `refreshOnly = true` rate-limits those to TTL/4). BEST-EFFORT on
    * read-only storage: a reader that cannot write beside the layout
    * keeps working — it just can't pin, so it falls under the rival
    * writers' layoutKeepPrior grace like a pre-pin-protocol session
    * (logged loud once per relvar). */
  private val pinWarned = TrieMap.empty[String, Unit]

  private def syncPin(name: String, refreshOnly: Boolean = false): Unit =
    pinPaths.get(name).foreach { path =>
      val now = System.currentTimeMillis()
      val recent = pinStamped.get(name).exists(t =>
        now - t < graft.sources.GenPins.ttlMs(spark) / 4)
      if (!(refreshOnly && recent)) {
        try {
          layoutGens.getOrElse(name, Map.empty).values.minOption match {
            case Some(m) =>
              graft.sources.GenPins.write(spark, path, sessionPinId, m)
            case None =>
              graft.sources.GenPins.clear(spark, path, sessionPinId)
          }
          pinStamped(name) = now
        } catch {
          case scala.util.control.NonFatal(e) =>
            if (pinWarned.putIfAbsent(name, ()).isEmpty)
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"catalog: cannot stamp the generation pin for $name " +
                s"beside $path (read-only storage?) — this session's " +
                "as-of reads over the shared layout are protected only " +
                s"by rival writers' layoutKeepPrior grace: $e")
        }
      }
    }

  private def vacuumLayout(name: String): Unit = {
    val path = layoutPath(name)
    val gen = graft.sources.BucketedStore.currentGen(spark, path)
    graft.sources.BucketedStore.vacuum(spark, path,
      keepPrior = pinKeepPrior(name, gen))
  }

  /** Layout-keeping mutation of a bucketed relvar: a generation-swapped
    * REWRITE of the current generation through a pinned bucketed scan
    * (graft.sources.BucketedStore.rewrite — deletes are filter-rewrites
    * with ZERO exchange; the bucketing shuffle of the surviving rows is
    * never re-paid), then a re-attach that keeps the spec. Superseded
    * generations stay on disk while a retained version pins them;
    * [[vacuumLayout]] reclaims the rest as the retention window rolls
    * (and [[close]] takes whole managed layouts wholesale).
    *
    * Runs under the layout's [[graft.sources.WriterLease]], with the
    * renew-as-`beforeFlip` fence every leased generation-swapper uses
    * (DocStream.compactIndex, Similarity.compactIvfPq): a rewrite whose
    * lease was TTL-broken mid-fold aborts BEFORE the pointer flip —
    * orphan `_gen-(N+1)`, vacuumed later — never a flip over a
    * generation a rival writer already claimed. */
  private def rewriteBucketed(name: String, cols: Seq[String], k: Int,
      transform: DataFrame => DataFrame): Unit = {
    // capture the schema BEFORE mutating: a transform that empties the
    // relvar leaves a generation with no parquet files to infer from
    val ddl = Some(relvar(name).df.schema.toDDL)
    val path = layoutPath(name)
    val owner = s"catalog.rewriteBucketed($name)"
    graft.sources.WriterLease.withLease(spark, path, owner) {
      graft.sources.BucketedStore.rewrite(spark, path, cols, k, transform,
        beforeFlip = () => graft.sources.WriterLease.renew(spark, path, owner))
      reattach(name, cols, k, ddl)
      vacuumLayout(name)
    }
  }

  /** Observable storage health of a bucketed relvar's layout — the
    * catalog face of [[graft.sources.BucketedStore.stats]], for deciding
    * when ingest fragmentation warrants attention: generation, file and
    * byte counts, `maxFilesPerBucket` (each [[insert]] delta adds up to
    * one file per bucket; a bucketed scan opens all of a bucket's files
    * in one task), and the superseded storage the next mutation's
    * retention vacuum could reclaim. Throws for a relvar without a
    * bucket spec. Superseded storage is computed with the SAME pin-driven
    * grace window [[vacuumLayout]] uses ([[pinKeepPrior]]), so the report
    * is exactly what the next mutation's retention vacuum reclaims —
    * under unbounded retention (every generation pinned) it reads zero,
    * never phantom reclaimable bytes. */
  def layoutStats(name: String): graft.sources.BucketedStore.LayoutStats = {
    require(bucketSpec.contains(name), s"relvar $name has no bucketed layout")
    val path = layoutPath(name)
    val gen = graft.sources.BucketedStore.currentGen(spark, path)
    graft.sources.BucketedStore.stats(spark, path,
      keepPrior = pinKeepPrior(name, gen))
  }

  /** Policy-driven upkeep of a bucketed relvar's layout — the catalog
    * face of [[graft.sources.BucketedStore.maintain]], run under the
    * layout's writer lease with the renew fence: fold the bucket files
    * back to one per bucket when ingest fragmentation exceeds
    * `maxFilesPerBucket` (each [[insert]] delta adds up to one file per
    * bucket), then reclaim the generations no retained version pins.
    * A fold is PHYSICAL — row content is untouched — so the current
    * version is re-bound to the compacted generation IN PLACE: no
    * version bump, and archived versions keep serving their pinned
    * generations until retention releases them. Cheap when healthy
    * (one file listing). Returns whether it folded. */
  def maintainLayout(name: String, maxFilesPerBucket: Int = 4): Boolean = {
    val (cols, k) = bucketSpec.getOrElse(name,
      throw new NoSuchElementException(s"relvar $name has no bucketed layout"))
    val path = layoutPath(name)
    val owner = s"catalog.maintainLayout($name)"
    graft.sources.WriterLease.withLease(spark, path, owner) {
      val fold = graft.sources.BucketedStore.stats(spark, path)
        .maxFilesPerBucket > maxFilesPerBucket
      if (fold) {
        val ddl = Some(relvar(name).df.schema.toDDL)
        graft.sources.BucketedStore.compact(spark, path, cols, k,
          beforeFlip =
            () => graft.sources.WriterLease.renew(spark, path, owner))
        val (df2, tbl) = graft.sources.BucketedStore.attachNamed(
          spark, path, cols, k, ddl)
        attachedTables += tbl
        relvars(name) = Rel.distinct(df2)
        layoutGens(name) = layoutGens.getOrElse(name, Map.empty) +
          (version(name) -> graft.sources.BucketedStore.currentGen(spark, path))
        syncPin(name)
      }
      vacuumLayout(name)
      fold
    }
  }

  /** update R minus r — delete by value. A bucketed relvar rewrites its
    * layout (anti-join against the delete set — the planner broadcasts a
    * small set, keeping the rewrite exchange-free) instead of degrading
    * to a plan minus that drops the spec. */
  def deleteRows(name: String, rows: Rel): Unit =
    bucketSpec.get(name) match {
      case Some((cols, k)) =>
        val d = rows.df
        rewriteBucketed(name, cols, k, df =>
          df.join(d, df.columns.map(c => df(c) <=> d(c)).reduce(_ && _),
            "left_anti"))
      case None => swap(name, relvar(name).minus(rows))
    }

  /** update R .where(p) .{} — delete by predicate
    * (Builtin.cs:615-622, DataTableLocal.cs:834-857). A bucketed relvar
    * rewrites its layout with a filter — ZERO exchange, the surviving
    * rows never re-pay their bucketing shuffle. Both storage paths run
    * [[Rel.deleteWhere]], which states the NULL contract. */
  def deleteWhere(name: String, pred: Column): Unit =
    bucketSpec.get(name) match {
      case Some((cols, k)) =>
        rewriteBucketed(name, cols, k, Rel.distinct(_).deleteWhere(pred).df)
      case None => swap(name, relvar(name).deleteWhere(pred))
    }

  /** update R .where(p) .{A:=e} — in-place update: both storage paths run
    * the one-pass rewrite [[Rel.updateWhere]], which states the NULL
    * contract and refuses a set column outside the heading or assigned
    * twice. Set names resolve here first, Spark-style.
    *
    * Bucketed-storage cost model: an update that touches only NON-key
    * columns preserves the stored hash-partitioning, so the set-semantics
    * dedup clusters on the bucketed scan's own partitioning and the
    * rewrite stays exchange-free end to end — one file per bucket out. An
    * update that SETS A BUCKET-KEY column moves rows across buckets —
    * semantically an exchange is unavoidable — so the rewrite re-clusters
    * by the bucket keys ONCE (the dedup then piggybacks on that same
    * partitioning) and the relocated rows land de-fragmented, one file
    * per bucket. Without the explicit re-cluster, the bucketed writer
    * would still be CORRECT (it hashes each row to its bucket for the
    * file name) but would emit a file per (task × bucket) — the
    * re-fragmentation BucketedStore.rewrite's doc warns about. */
  def updateWhere(name: String, pred: Column, sets: (String, Column)*): Unit = {
    // Resolve every set-column name against the relvar's heading FIRST,
    // Spark-style (exact match, else unique case-insensitive match), so a
    // case-mismatched bucket-key set is still detected as a key move; a
    // miss stays as written and Rel.updateWhere refuses it
    val r = relvar(name)
    val resolved: Seq[(String, Column)] = sets.map { case (n, c) =>
      r.attrs.find(_ == n).getOrElse {
        r.attrs.filter(_.equalsIgnoreCase(n)) match {
          case Seq(one) => one
          case Seq() => n
          case many => throw new IllegalArgumentException(
            // Spark-style resolution reports ambiguity DISTINCTLY from a
            // miss: two case-variant columns both match, neither exactly
            s"updateWhere($name): column '$n' is ambiguous — matches " +
              s"(${many.mkString(", ")}); use the exact case")
        }
      } -> c
    }
    // built (and its sets checked) before any layout is rewritten; the
    // deferred dedup restores set semantics — a key-preserving update pays
    // no exchange at all (the dedup clusters on the stored bucketing), a
    // key-moving update pays exactly one
    val updated = r.updateWhere(pred, resolved: _*)
    def sel(df: DataFrame): DataFrame =
      Rel.distinct(df).updateWhere(pred, resolved: _*).bagDF
    bucketSpec.get(name) match {
      case Some((cols, k)) =>
        val movesBuckets = resolved.exists(s => cols.contains(s._1))
        if (movesBuckets)
          rewriteBucketed(name, cols, k, df =>
            graft.sources.BucketedStore.clusterByKeys(sel(df), cols, k)
              .dropDuplicates())
        else
          rewriteBucketed(name, cols, k, df => sel(df).dropDuplicates())
      case None => swap(name, updated)
    }
  }

  // ------------------------------------------------------------- scalars

  def set(name: String, v: Any): Unit = { scalars(name) = v }
  def get(name: String): Any = scalars(name)
  def getOption(name: String): Option[Any] = scalars.get(name)

  // ------------------------------------------------- functions (typed)

  /** Register a typed function; same-name different-signature = overload
    * (SymbolTable.AddOverload, Andl.Peg/SymbolTable.cs:345-359). The first
    * overload owns the plain SQL name; later ones get `name__k`. */
  def defineFun(fd: FunDef): Unit = {
    val existing = funcs.getOrElse(fd.name, Vector.empty)
    require(!existing.exists(_.fd.argTypes == fd.argTypes),
      s"duplicate overload ${fd.name}(${fd.argTypes.mkString(",")})")
    val sqlName = if (existing.isEmpty) fd.name else s"${fd.name}__${existing.size}"
    registerFun(RegisteredFun(fd, sqlName))
  }

  private def registerFun(rf: RegisteredFun): Unit = {
    spark.sql(rf.fd.ddl(rf.sqlName))
    if (rf.fd.foldable) spark.sql(rf.fd.foldDdl(rf.foldSqlName))
    funcs(rf.fd.name) = funcs.getOrElse(rf.fd.name, Vector.empty) :+ rf
  }

  /** Resolve an overload: exact arg-type match first, then unique arity
    * match (compile-time rule, TypeSystem.CheckTypeError §3.2). */
  def fun(name: String, argTypes: Seq[DataType] = Nil): RegisteredFun = {
    val ov = funcs.getOrElse(name, throw new NoSuchElementException(s"function $name"))
    if (argTypes.nonEmpty)
      ov.find(_.fd.argTypes == argTypes)
        .getOrElse(throw new NoSuchElementException(
          s"no overload $name(${argTypes.mkString(",")})"))
    else if (ov.size == 1) ov.head
    else throw new IllegalArgumentException(
      s"$name has ${ov.size} overloads — pass argTypes")
  }

  /** Call by name with arity-based resolution when unambiguous. */
  def call(name: String, args: Column*): Column = {
    val ov = funcs.getOrElse(name, throw new NoSuchElementException(s"function $name"))
    val matching = ov.filter(_.fd.arity == args.length)
    require(matching.size == 1,
      s"$name: ${matching.size} overloads of arity ${args.length} — use fun(name, argTypes)")
    matching.head(args: _*)
  }

  def functions: Seq[RegisteredFun] = funcs.values.flatten.toSeq.sortBy(_.sqlName)

  // ------------------------------------------------------ user types

  def defineType(u: UdtDef): Unit = {
    require(!udts.contains(u.name), s"duplicate type ${u.name}")
    udts(u.name) = u
  }
  def udt(name: String): UdtDef =
    udts.getOrElse(name, throw new NoSuchElementException(s"type $name"))
  def types: Seq[UdtDef] = udts.values.toSeq.sortBy(_.name)

  // ----------------------------------------------------------- persistence

  private def jstr(s: String): String = graft.types.Json.str(s)

  /** Persist everything: relvars as parquet, metadata as JSON lines.
    * Version history persists too — each archived version to
    * `_history/<name>/v<v>.parquet`, written ONCE (versions are
    * immutable, so a version already on disk from a previous save is
    * skipped; repeated saves of a long-lived relvar only pay for the
    * versions added since the last save).
    *
    * Replacing an existing `_bucketed/<name>` layout here is a
    * REBUILD-OVERWRITE with no reader or writer grace (the same contract
    * as [[graft.sources.BucketedStore.write]]): save assumes exclusive
    * ownership of its own target dir. The leased mutation paths protect
    * a SHARED attach-loaded layout; a layout other live sessions read
    * should be re-saved to a fresh dir, not overwritten in place.
    *
    * FRESHNESS contract for bucketed relvars: the layout copy persists
    * the SOURCE layout's current on-disk generation — "what a fresh
    * attach would serve" (BucketedStore.copyLayout) — not this session's
    * pinned reader snapshot. The two coincide except when a RIVAL
    * session mutated the shared layout after this session's last
    * (re)attach; then the save carries the rival's newer state while
    * `relvar(n)` in-session still serves the older pinned generation.
    * That divergence is DETECTED below and logged loudly (with the two
    * generation numbers) so a caller who needs snapshot-exact
    * persistence can re-read through a fresh attach first — silently
    * saving either generation would be wrong for somebody; the current
    * on-disk one at least matches what every FUTURE load serves. */
  def save(dir: String): Unit = {
    val lines = Seq.newBuilder[String]
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String): Boolean =
      hfs.exists(new org.apache.hadoop.fs.Path(p))
    // history FIRST: an archived version's plan may read $dir/<n>.parquet
    // (loaded from this dir, then mutated) — it must be materialized to its
    // immutable _history file before the current-relvar pass replaces that
    // file. Each archived Rel is then REBOUND to its _history scan, so
    // later saves are free and no stored plan reads a mutable path.
    history.toSeq.sortBy(_._1).foreach { case (n, past) =>
      val off = trimmedV.getOrElse(n, 0) // version numbers stay absolute
      val rebound = past.zipWithIndex.map { case (r, j) =>
        val v = off + j + 1
        val path = s"$dir/_history/$n/v$v.parquet"
        if (!exists(path)) r.df.write.mode("overwrite").parquet(path)
        lines += s"""{"kind":"relvar_version","name":${jstr(n)},"version":$v}"""
        Rel.parquet(spark, path)
      }
      history(n) = rebound
    }
    // the retention floor rides explicitly: with keepVersions=1 the
    // history Vector is EMPTY (no relvar_version lines carry the floor
    // implicitly), and version numbers are documented absolute — a
    // reload must not silently reset a version-9 relvar to version 1
    trimmedV.toSeq.sortBy(_._1).foreach { case (n, t) =>
      if (t > 0 && relvars.contains(n))
        lines += s"""{"kind":"relvar_floor","name":${jstr(n)},"floor":$t}"""
    }
    // current relvars in TWO phases: every plan is materialized to a tmp
    // path while ALL originals are still intact (a relvar derived from a
    // since-mutated loaded relvar still reads the OLD file it was defined
    // over), and only then do the delete+rename swaps and rebinds happen
    val pending = relvars.toSeq.collect {
      case (n, r) if !bucketSpec.contains(n) &&
          !boundTo.get(n).contains(s"$dir/$n.parquet") =>
        val tmp = s"$dir/.saving_$n.parquet"
        r.df.write.mode("overwrite").parquet(tmp)
        (n, tmp, s"$dir/$n.parquet", r.df.schema)
    }
    // bucketed relvars persist their LAYOUT, not a plain snapshot: the
    // bucket files land under $dir/_bucketed/<name> (tmp+rename — a
    // same-dir resave must not clobber files a loaded plan still reads),
    // and load() re-ATTACHES them without re-paying the shuffle. A
    // bucketed relvar's plan is always exactly its stored-layout scan
    // (mutations keep the spec and re-attach the mutated layout), so
    // the write reads only the physical files. boundTo marks
    // attach-loaded relvars still bound to this dir's layout (mutations
    // preserve the binding): re-saving those to the same dir is free.
    relvars.keys.toSeq.sorted.foreach { n =>
      bucketSpec.get(n).foreach { case (cols, k) =>
        val target = s"$dir/_bucketed/$n"
        if (!boundTo.get(n).contains(target)) {
          val tmp = s"$dir/.saving_bkt_$n"
          val tmpP = new org.apache.hadoop.fs.Path(tmp)
          if (hfs.exists(tmpP)) hfs.delete(tmpP, true)
          // exchange-free re-home (BucketedStore.copyLayout): the relvar's
          // plan IS its stored-layout scan, so the copy reads one
          // partition per bucket and never re-pays the bucketing shuffle
          // a plain write's clusterByKeys would charge per save. The copy
          // holds the SOURCE layout's writer lease: a rival session's
          // mutation chain could otherwise flip generations and vacuum
          // the one this corpus-sized read is mid-scan on (the 1-gen
          // grace only masks a single rival mutation)
          val src = layoutPath(n)
          val owner = s"catalog.save($n)"
          graft.sources.WriterLease.withLease(spark, src, owner) {
            // freshness divergence detection (see the method doc): a
            // rival session may have advanced the shared layout past the
            // generation this session's relvar(n) is pinned on — the
            // save then persists the CURRENT on-disk state, loudly
            val onDisk = graft.sources.BucketedStore.currentGen(spark, src)
            layoutGens.getOrElse(n, Map.empty).get(version(n))
              .filter(_ != onDisk).foreach { pinned =>
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"catalog.save($n): the shared layout at $src is at " +
                  s"generation $onDisk but this session's relvar is " +
                  s"pinned to generation $pinned (a rival session " +
                  "mutated it since the last attach) — the save carries " +
                  "the CURRENT on-disk generation; re-attach first if " +
                  "you need this session's snapshot persisted")
              }
            graft.sources.BucketedStore.copyLayout(spark, src, tmp,
              cols, k, Some(relvars(n).df.schema.toDDL))
          }
          val tgt = new org.apache.hadoop.fs.Path(target)
          if (hfs.exists(tgt)) hfs.delete(tgt, true)
          require(hfs.rename(tmpP, tgt),
            s"catalog save: rename $tmp -> $target failed")
        }
      }
    }
    pending.foreach { case (n, tmp, target, written) =>
      val tgt = new org.apache.hadoop.fs.Path(target)
      if (hfs.exists(tgt)) hfs.delete(tgt, true)
      require(hfs.rename(new org.apache.hadoop.fs.Path(tmp), tgt),
        s"catalog save: rename $tmp -> $tgt failed")
      // rebind the stored plan to the file just written: truncates
      // lineage and makes the NEXT save of an unmutated relvar free.
      // BUCKETED relvars are exempt — rebinding to the plain snapshot
      // would silently drop the bucketing metadata (and the zero-Exchange
      // join contract); their file carries the DATA for load(), and the
      // persisted bucket spec below makes load() rebuild the layout. The
      // read-back takes the written heading: no inference job
      if (!bucketSpec.contains(n)) {
        relvars(n) = Rel.distinct(
          graft.sources.Sources.parquet(spark, target, Some(written)))
        boundTo(n) = target
      }
    }
    relvars.keys.toSeq.sorted.foreach { n =>
      bucketSpec.get(n) match {
        case Some((cols, k)) =>
          val cs = cols.map(jstr).mkString("[", ",", "]")
          // schema recorded so an EMPTY bucketed relvar (no parquet files
          // to infer from) still re-attaches on load
          val ddl = jstr(relvars(n).df.schema.toDDL)
          lines += s"""{"kind":"relvar_bucketed","name":${jstr(n)},"bucketCols":$cs,"buckets":$k,"schema":$ddl}"""
        case None =>
          lines += s"""{"kind":"relvar","name":${jstr(n)}}"""
      }
    }
    scalars.toSeq.sortBy(_._1).foreach { case (n, v) =>
      val (t, s) = v match {
        case x: Int => ("int", x.toString);     case x: Long => ("long", x.toString)
        case x: Double => ("double", x.toString); case x: Boolean => ("bool", x.toString)
        case x => ("text", String.valueOf(x))
      }
      lines += s"""{"kind":"scalar","name":${jstr(n)},"vtype":${jstr(t)},"value":${jstr(s)}}"""
    }
    functions.foreach { rf =>
      val an = rf.fd.args.map(a => jstr(a._1)).mkString("[", ",", "]")
      val at = rf.fd.args.map(a => jstr(AndlTypes.ddlOf(a._2))).mkString("[", ",", "]")
      lines += s"""{"kind":"fun","name":${jstr(rf.fd.name)},"sqlName":${jstr(rf.sqlName)},"argNames":$an,"argTypes":$at,"returns":${jstr(AndlTypes.ddlOf(rf.fd.returns))},"body":${jstr(rf.fd.body)}}"""
    }
    types.foreach { u =>
      val cn = u.components.map(c => jstr(c._1)).mkString("[", ",", "]")
      val ct = u.components.map(c => jstr(AndlTypes.ddlOf(c._2))).mkString("[", ",", "]")
      lines += s"""{"kind":"udt","name":${jstr(u.name)},"compNames":$cn,"compTypes":$ct}"""
    }
    // metadata goes through the SAME Hadoop FS as the relvar parquet —
    // a catalog saved to hdfs://, s3a:// or any object store keeps data
    // and metadata together (a java.nio write here would land the meta on
    // the driver's local disk, or throw). Atomic tmp+rename with the
    // crash window covered on the read side, mirroring ContractStream's
    // durable state file.
    val metaTmp = new org.apache.hadoop.fs.Path(s"$dir/catalog.meta.json.tmp")
    val out = hfs.create(metaTmp, true)
    try out.write(lines.result().mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val metaTgt = new org.apache.hadoop.fs.Path(s"$dir/catalog.meta.json")
    if (hfs.exists(metaTgt)) hfs.delete(metaTgt, false)
    require(hfs.rename(metaTmp, metaTgt),
      s"catalog save: rename $metaTmp -> $metaTgt failed")
  }

  /** Back-compat alias. */
  def persist(dir: String): Unit = save(dir)

  def load(dir: String, name: String): Rel = {
    val r = Rel.parquet(spark, s"$dir/$name.parquet")
    define(name, r)
    boundTo(name) = s"$dir/$name.parquet"
    r
  }

  // ------------------------------------------------------------- lifecycle

  /** Release everything this catalog instance OWNS on disk: its bucketed
    * physical tables (every generation of `name__c<id>_bkt<g>`) and its
    * cadence snapshot directories (`<historyDir>/<name>__c<id>`). Without
    * this, every discarded Catalog leaves its physical generations in the
    * warehouse forever — across bench sweeps locally, and as leaked
    * warehouse tables on a cluster. Safe by construction: both namespaces
    * carry this instance's catalogId, so no other catalog's live plans
    * can be reading them. The instance is unusable afterwards (its stored
    * plans scan dropped tables). Idempotent. */
  def close(): Unit = {
    // every generation this instance ever wrote, not just the current one
    // (history snapshots may have pinned older generations — all dead now)
    bucketGen.foreach { case (name, gen) =>
      (1 to gen).foreach { g =>
        spark.sql(s"DROP TABLE IF EXISTS `${name}__c${catalogId}_bkt$g`")
      }
    }
    // scan the history dir for THIS instance's namespace instead of
    // iterating current relvar names: a relvar dropped or renamed before
    // close would otherwise leak its cadence dir forever
    val hd = historyDir
    val fs = new org.apache.hadoop.fs.Path(hd)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(hd)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      val i = n.lastIndexOf("__c")
      if (st.isDirectory && i >= 0 &&
          n.substring(i + 3) == catalogId.toString)
        fs.delete(st.getPath, true)
    }
    // attach-load metadata entries: external tables over the CALLER's
    // saved dirs — drop the session metadata, never the files
    attachedTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    attachedTables.clear()
    // release every durable cross-session pin this session stamped —
    // a clean close must not make rival sessions wait out the pin TTL
    pinPaths.values.toSet[String].foreach(p =>
      graft.sources.GenPins.clear(spark, p, sessionPinId))
    pinPaths.clear()
    relvars.clear(); history.clear(); boundTo.clear()
    bucketSpec.clear(); bucketGen.clear()
    trimmedV.clear(); snapVers.clear(); layoutGens.clear()
  }

  // --------------------------------------------------------- introspection

  /** andl_variable() analogue: the catalog as a relation. */
  def variables: DataFrame = {
    import spark.implicits._
    (relvars.toSeq.map { case (n, r) => (n, "relvar", r.degree) } ++
     scalars.keys.toSeq.map(n => (n, "scalar", 1)) ++
     udts.toSeq.map { case (n, u) => (n, "type", u.components.size) })
      .sortBy(t => (t._1, t._2)).toDF("name", "kind", "degree")
  }

  /** andl_operator() analogue. */
  def operators: DataFrame = {
    import spark.implicits._
    functions.map(rf => (rf.fd.name, rf.sqlName, rf.fd.arity,
        AndlTypes.nameOf(rf.fd.returns), rf.fd.foldable))
      .toDF("name", "sql_name", "arity", "returns", "foldable")
  }

  /** andl_member() analogue: components of each user type. */
  def members: DataFrame = {
    import spark.implicits._
    types.flatMap(u => u.components.zipWithIndex.map { case ((c, t), i) =>
      (u.name, c, i, AndlTypes.nameOf(t)) })
      .toDF("type_name", "component", "ordinal", "comp_type")
  }
}

object Catalog {
  /** JVM-wide instance counter: namespaces each catalog's bucketed
    * physical tables (a fresh JVM may reuse id 1, but no live reader from
    * a dead JVM exists, and the per-generation DROP clears leftovers). */
  private val instanceIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Restore a persisted catalog into a (possibly brand-new) session:
    * relvars re-attach lazily to their parquet, functions re-register their
    * SQL DDL, scalars and types reload from metadata. Mirrors the
    * two-program flow of Test/SuiteUpdateCat1/2.andl. */
  def load(spark: SparkSession, dir: String): Catalog = {
    val cat = new Catalog(spark)
    // read through the Hadoop FS (any scheme), with the tmp-file crash
    // window covered: main missing but a complete .tmp present means the
    // saver died between delete and rename — the tmp IS the newest meta
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val main = new org.apache.hadoop.fs.Path(s"$dir/catalog.meta.json")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/catalog.meta.json.tmp")
    val src = if (hfs.exists(main)) main
              else if (hfs.exists(tmp)) tmp
              else return cat
    val in = hfs.open(src)
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    // the tmp file is the newest meta ONLY for the delete→rename crash
    // window (main already deleted, tmp fully written). A crash MID-WRITE
    // of the tmp during the FIRST-ever save leaves a truncated tmp and no
    // main — that dir never held a complete catalog, so an unparsable
    // lone tmp means "nothing saved yet", not corruption: start empty.
    // A corrupt MAIN file still throws (real data loss must stay loud).
    val rows =
      try text.linesIterator.filter(_.trim.nonEmpty).map(mapper.readTree).toSeq
      catch {
        case e: com.fasterxml.jackson.core.JacksonException if src == tmp =>
          org.slf4j.LoggerFactory.getLogger(classOf[Catalog]).warn(
            s"catalog load: discarding truncated $tmp (crash mid-first-save): $e")
          return cat
      }
    type Node = com.fasterxml.jackson.databind.JsonNode
    def opt(r: Node, f: String): Option[String] =
      Option(r.get(f)).filterNot(_.isNull).map(_.asText)
    def seqOf(r: Node, f: String): Seq[String] =
      Option(r.get(f)).filterNot(_.isNull).toSeq.flatMap { a =>
        (0 until a.size).map(a.get(_).asText)
      }
    // history versions are installed AFTER the loop, sorted by version —
    // JSON-line order is not a contract
    val hist = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.TreeMap[Int, Rel]]
    val floors = scala.collection.mutable.Map.empty[String, Int]
    rows.foreach { r =>
      val name = r.get("name").asText
      r.get("kind").asText match {
        case "relvar" => cat.load(dir, name)
        case "relvar_bucketed" =>
          // a layout dir means the save wrote real bucket files: ATTACH
          // them — zero shuffle, the zero-Exchange contract restored by
          // metadata alone. Legacy saves (plain snapshot + spec) fall back
          // to the rebuild, re-paying the shuffle once.
          val layout = s"$dir/_bucketed/$name"
          if (hfs.exists(new org.apache.hadoop.fs.Path(layout)))
            cat.defineBucketedAttached(name, layout,
              seqOf(r, "bucketCols"), r.get("buckets").asInt,
              opt(r, "schema"))
          else cat.defineBucketed(name,
            Rel.parquet(spark, s"$dir/$name.parquet"),
            seqOf(r, "bucketCols"),
            r.get("buckets").asInt)
        case "relvar_version" =>
          val v = r.get("version").asInt
          hist.getOrElseUpdate(name,
              scala.collection.mutable.TreeMap.empty[Int, Rel])(v) =
            Rel.parquet(spark, s"$dir/_history/$name/v$v.parquet")
        case "relvar_floor" =>
          // applied AFTER the relvar defines (like hist): setting the
          // floor before define would shift the load-time swap onto a
          // cadence boundary and write a spurious snapshot under THIS
          // catalog's namespace
          floors(name) = r.get("floor").asInt
        case "scalar" =>
          val v = (opt(r, "vtype").getOrElse("text"), opt(r, "value").getOrElse(""))
          cat.set(name, v match {
            case ("int", s) => s.toInt;       case ("long", s) => s.toLong
            case ("double", s) => s.toDouble; case ("bool", s) => s.toBoolean
            case (_, s) => s
          })
        case "fun" =>
          val args = seqOf(r, "argNames").zip(seqOf(r, "argTypes").map(AndlTypes.sparkOf))
          val fd = FunDef(name, args,
            AndlTypes.sparkOf(opt(r, "returns").get), opt(r, "body").get)
          cat.registerFun(RegisteredFun(fd, opt(r, "sqlName").getOrElse(name)))
        case "udt" =>
          cat.defineType(UdtDef(name,
            seqOf(r, "compNames").zip(seqOf(r, "compTypes").map(AndlTypes.sparkOf))))
        case other => throw new IllegalStateException(s"unknown catalog kind $other")
      }
    }
    floors.foreach { case (n, f) => cat.trimmedV(n) = f }
    hist.foreach { case (n, byV) =>
      // a retention-trimmed save starts above 1; versions must still be
      // contiguous, and the floor restores the absolute numbering (the
      // explicit relvar_floor line is authoritative; inference from the
      // first surviving version covers saves that predate it)
      val ks = byV.keys.toSeq
      require(ks == (ks.head to ks.last),
        s"catalog load: relvar $n history versions ${ks.mkString(",")} not contiguous")
      cat.history(n) = byV.values.toVector
      if (ks.head > 1 && !cat.trimmedV.contains(n))
        cat.trimmedV(n) = ks.head - 1
    }
    // Re-key each bucketed attach pin to the attachment's TRUE version:
    // the defines above ran BEFORE the history/floor install, so their
    // layoutGens pins were keyed version 1 — on a save WITH archived
    // history, retention would release that pin keepVersions too early
    // and vacuumLayout could reclaim the generation the loaded attachment
    // (still addressable through as-of) reads.
    cat.layoutGens.keys.toSeq.foreach { n =>
      cat.layoutGens(n) =
        cat.layoutGens(n).map { case (_, g) => cat.version(n) -> g }
    }
    cat
  }
}
