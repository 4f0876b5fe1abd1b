package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Sources

/** Typed CSV / txt import (DataSourceStream.cs mirrors): `name:type` header
  * peek, declared-heading override, no-NULL defaults at gaps, txt → Line. */
class SourcesSpec extends SparkSpec {
  private val fx = "src/test/resources/fixtures"

  test("csv: name:type header peek types the columns (DataSourceStream.cs:81-94)") {
    val s = Sources.csv(spark, s"$fx/S.csv")
    assert(s.attrs === Seq("S#", "SNAME", "STATUS", "CITY"))
    assert(s.schema("STATUS").dataType === DoubleType)
    assert(s.schema("SNAME").dataType === StringType) // untyped → text
    assert(s.count() === 5)
    val total = s.aggregate(Nil, "t" -> sum(col("STATUS"))).df.collect()(0).getDouble(0)
    assert(total === 110.0)
  }

  test("csv: declared heading overrides the file header (SetupSuite.andl S import)") {
    val s = Sources.csv(spark, s"$fx/S.csv",
      Seq(("SupNo", StringType), ("Name", StringType),
          ("Status", DoubleType), ("City", StringType)))
    assert(s.attrs === Seq("SupNo", "Name", "Status", "City"))
    assert(s.where(col("City") === "Paris").count() === 2)
  }

  test("csv: absent values become type defaults, never NULL (DataType.cs:152-155)") {
    val g = Sources.csv(spark, s"$fx/gaps.csv")
    val row = g.where(col("K") === "b").df.collect()(0)
    assert(row.getDouble(1) === 0.0)   // N gap → 0
    assert(row.getBoolean(2) === false) // B gap → false
    assert(row.getString(3) === "")     // T gap → ""
    assert(g.df.collect().forall(r => !r.anyNull))
  }

  test("txt: serial file → Line relation with set semantics (DataSourceStream.cs:140-142)") {
    val t = Sources.txt(spark, s"$fx/lines.txt")
    assert(t.attrs === Seq("Line"))
    assert(t.count() === 3) // 4 lines, 'beta' duplicated → 3 distinct
  }

  test("con: one console line → one-tuple {line} relation (DataSourceStream.cs:153-171)") {
    val in = new java.io.BufferedReader(new java.io.StringReader("hello graft\nignored"))
    val r = Sources.con(spark, in = in)
    assert(r.attrs === Seq("line"))
    assert(r.df.collect().map(_.getString(0)).toSeq === Seq("hello graft"))
    // EOF → "" (no-NULL discipline)
    val eof = new java.io.BufferedReader(new java.io.StringReader(""))
    assert(Sources.con(spark, in = eof).df.collect()(0).getString(0) === "")
  }

  test("jdbc: embedded-Derby round-trip (DataSourceSql.cs:29-80)") {
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE SUP (SNO VARCHAR(8), STATUS INT)")
      st.execute("INSERT INTO SUP VALUES ('S1', 20), ('S2', 10), ('S3', 30)")
      st.close()
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val r = Sources.jdbc(spark, url, "SUP", props)
      assert(r.attrs === Seq("SNO", "STATUS"))
      assert(r.count() === 3)
      assert(r.aggregate(Nil, "t" -> sum(col("STATUS"))).df.collect()(0).get(0) === 60)
    } finally conn.close()
  }

  test("compact: byte-targeted rewrite preserves the bag, honors sortBy clustering") {
    import spark.implicits._
    import graft.sources.Layout
    val tmp = java.nio.file.Files.createTempDirectory("compact-unit").toString
    val df = (1L to 2000L).map(i => (i, s"row $i payload ${"x" * 50}"))
      .toDF("id", "payload")
    df.repartition(32).write.parquet(s"$tmp/in")
    val (before, after, rows) = Layout.compact(spark, s"$tmp/in", s"$tmp/out",
      targetFileBytes = 1L << 30, sortBy = Seq(col("id")))
    assert(before === 32L && after === 1L && rows === 2000L)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.exceptAll(df).isEmpty && df.exceptAll(out).isEmpty)
    // sortBy: the single output file is globally id-sorted (row-group
    // min/max pruning survives the rewrite)
    val ids = out.collect().map(_.getLong(0)).toSeq
    assert(ids === ids.sorted)
    // multi-file path: force several outputs, bag still identical
    val (_, after2, _) = Layout.compact(spark, s"$tmp/in", s"$tmp/out2",
      targetFileBytes = math.max(1L,
        new java.io.File(s"$tmp/in").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum / 4))
    assert(after2 >= 2L && after2 < 32L)
    val out2 = spark.read.parquet(s"$tmp/out2")
    assert(out2.exceptAll(df).isEmpty && df.exceptAll(out2).isEmpty)
  }

  test("compact: partitioned (k=v subdirectory) tables count their real " +
    "files, preserve the partition layout, and never flatten") {
    import spark.implicits._
    import graft.sources.Layout
    val tmp = java.nio.file.Files.createTempDirectory("compact-part").toString
    val df = (1L to 1200L).map(i => (i, s"g${i % 3}", s"payload ${"y" * 40}"))
      .toDF("id", "grp", "payload")
    df.repartition(8).write.partitionBy("grp").parquet(s"$tmp/in")
    val inFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$tmp/in")).filter(_.getName.endsWith(".parquet"))
    }
    assert(inFiles.size >= 24, s"fixture not fragmented: ${inFiles.size}")
    val (before, after, rows) = Layout.compact(spark, s"$tmp/in", s"$tmp/out",
      targetFileBytes = 1L << 30)
    // real recursive counts — the old top-level listStatus saw 0 files
    assert(before === inFiles.size.toLong && rows === 1200L && after < before)
    // layout preserved: per-group subdirectories exist in the output
    val outDirs = new java.io.File(s"$tmp/out").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(outDirs === Set("grp=g0", "grp=g1", "grp=g2"), outDirs.toString)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.select("id", "grp", "payload").exceptAll(df).isEmpty &&
      df.exceptAll(out.select("id", "grp", "payload")).isEmpty)
    // empty input fails loud instead of writing a 1-file flattened table
    val ex = intercept[IllegalArgumentException] {
      val empty = java.nio.file.Files.createTempDirectory("compact-empty").toString
      Layout.compact(spark, empty, s"$tmp/out-none")
    }
    assert(ex.getMessage.contains("no .parquet data files"))
  }

  test("embedding ingest guard: array<double> producer drift casts to float at the scan") {
    import spark.implicits._
    val dbl = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.6, 0.8)))
      .toDF("vec_id", "embedding") // array<double> — simulated producer drift
    val fixed = Sources.embeddingToFloat(dbl)
    assert(fixed.schema("embedding").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    // and the typed vector stack accepts it end-to-end (FloatVecDot would
    // fail analysis on the raw double column)
    val paired = fixed.as("a").join(fixed.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(graft.pipeline.Similarity.cosine(
        col("a.embedding"), col("b.embedding")).as("cos"))
    assert(math.abs(paired.collect()(0).getDouble(0) - 0.6) < 1e-6)
    // already-float schema: identity, no cast node in the plan
    val already = fixed
    assert(Sources.embeddingToFloat(already) eq already)
  }

  test("BucketedStore property: write → N appends → compact preserves the " +
    "exact row multiset and the attach equals a plain read, across random " +
    "shapes (empty base, duplicate rows, 1..8 buckets)") {
    import spark.implicits._
    import graft.sources.BucketedStore
    val rng = new scala.util.Random(42)
    (0 until 4).foreach { trial =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-bstore-p$trial").toString
      val buckets = 1 + rng.nextInt(8)
      def batch(n: Int): Seq[(Long, String)] =
        (0 until n).map(_ => (rng.nextInt(20).toLong, s"v${rng.nextInt(5)}"))
      val base = batch(if (trial == 0) 0 else rng.nextInt(40)) // trial 0: EMPTY base
      val deltas = (0 until 2).map(_ => batch(1 + rng.nextInt(30)))
      val schema = Some("`k` BIGINT, `v` STRING")
      BucketedStore.write(base.toDF("k", "v"), s"$dir/t", Seq("k"), buckets)
      deltas.foreach(d => BucketedStore.append(spark, s"$dir/t",
        d.toDF("k", "v"), Seq("k"), buckets, schema))
      def ms(xs: Seq[(Long, String)]): Map[(Long, String), Int] =
        xs.groupBy(identity).view.mapValues(_.length).toMap
      def got(df: org.apache.spark.sql.DataFrame) =
        ms(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
      val expect = ms(base ++ deltas.flatten)
      assert(got(BucketedStore.attach(spark, s"$dir/t", Seq("k"),
        buckets, schema)) === expect,
        s"trial $trial: attach lost rows (buckets=$buckets)")
      BucketedStore.compact(spark, s"$dir/t", Seq("k"), buckets)
      assert(got(BucketedStore.attach(spark, s"$dir/t", Seq("k"),
        buckets, schema)) === expect,
        s"trial $trial: compact changed the multiset (buckets=$buckets)")
      if (base.nonEmpty || deltas.exists(_.nonEmpty))
        assert(BucketedStore.currentGen(spark, s"$dir/t") === 1,
          s"trial $trial: compact did not advance the generation")
      // plain read resolves through the CURRENT generation's data dir
      assert(got(spark.read.parquet(
          BucketedStore.dataDir(spark, s"$dir/t"))) === expect,
        s"trial $trial: plain read of the current generation disagrees")
      // second cycle: append into gen-1, fold to gen-2, then vacuum all
      // the way down — the multiset survives every step
      val d3 = batch(1 + rng.nextInt(20))
      BucketedStore.append(spark, s"$dir/t", d3.toDF("k", "v"),
        Seq("k"), buckets, schema)
      BucketedStore.compact(spark, s"$dir/t", Seq("k"), buckets)
      BucketedStore.vacuum(spark, s"$dir/t", keepPrior = 0)
      assert(got(BucketedStore.attach(spark, s"$dir/t", Seq("k"),
        buckets, schema)) === ms(base ++ deltas.flatten ++ d3),
        s"trial $trial: second compact+vacuum changed the multiset")
    }
  }

  test("layouts are BORN de-fragmented: write from a WIDE frame lands one " +
    "file per bucket (the bucketing shuffle paid once at write), and a " +
    "wide delta append adds at most one file per bucket") {
    import spark.implicits._
    import graft.sources.BucketedStore
    val dir = java.nio.file.Files.createTempDirectory("graft-bstore-w").toString
    // 16 input tasks × 4 buckets would be up to 64 files unguarded
    val wide = (1L to 4000L).map(i => (i, s"v$i")).toDF("k", "v").repartition(16)
    BucketedStore.write(wide, s"$dir/t", Seq("k"), 4)
    val born = BucketedStore.stats(spark, s"$dir/t")
    assert(born.maxFilesPerBucket === 1,
      s"fresh layout born fragmented: $born")
    // a wide DELTA: the append re-clusters delta-only, adding ≤1 file/bucket
    val delta = (5000L to 6000L).map(i => (i, s"d$i")).toDF("k", "v")
      .repartition(16)
    BucketedStore.append(spark, s"$dir/t", delta, Seq("k"), 4,
      Some("`k` BIGINT, `v` STRING"))
    val after = BucketedStore.stats(spark, s"$dir/t")
    assert(after.maxFilesPerBucket === 2,
      s"wide append re-fragmented (expected +1 file/bucket): $after")
    // the re-clustered layout still serves the full multiset
    assert(BucketedStore.attach(spark, s"$dir/t", Seq("k"), 4).count() === 5001)
  }

  test("compact is a GENERATION SWAP, safe under concurrent readers: an " +
    "attachment captured before the fold keeps serving its complete " +
    "superseded generation through and after the flip; vacuum honors the " +
    "keepPrior grace window before reclaiming it") {
    import spark.implicits._
    import graft.sources.BucketedStore
    val dir = java.nio.file.Files.createTempDirectory("graft-genswap").toString
    val path = s"$dir/t"
    val base = (1L to 100L).map(i => (i % 10, s"v$i"))
    BucketedStore.write(base.toDF("k", "v"), path, Seq("k"), 4)
    // snapshot semantics: an attachment captured BEFORE the delta append
    // keeps its 100-row file listing (append's documented contract —
    // re-attach to see the delta), and the flip must not break it either
    val preAppend = BucketedStore.attach(spark, path, Seq("k"), 4)
    BucketedStore.append(spark, path,
      Seq((99L, "delta")).toDF("k", "v"), Seq("k"), 4)
    val reader = BucketedStore.attach(spark, path, Seq("k"), 4) // pre-compact
    // the fold runs while `reader` is live — its generation-0 files are
    // never moved or deleted by the swap, so a plan captured BEFORE the
    // flip still collects its complete snapshot AFTER it
    BucketedStore.compact(spark, path, Seq("k"), 4)
    assert(reader.count() === 101L,
      "pre-compact attachment broke during the generation flip")
    assert(preAppend.count() === 100L,
      "pre-append attachment's snapshot changed through append + flip")
    val fresh = BucketedStore.attach(spark, path, Seq("k"), 4)
    assert(fresh.count() === 101L, "post-compact attachment lost rows")
    assert(BucketedStore.currentGen(spark, path) === 1)
    // grace window: keepPrior=1 keeps generation 0 (the live readers'),
    // keepPrior=0 asserts no reader predates the current generation
    BucketedStore.vacuum(spark, path, keepPrior = 1)
    assert(reader.count() === 101L,
      "vacuum inside the grace window deleted a generation with readers")
    assert(preAppend.count() === 100L,
      "vacuum inside the grace window broke the pre-append snapshot")
    BucketedStore.vacuum(spark, path, keepPrior = 0)
    val rootParts = new java.io.File(path).listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(rootParts === 0, "vacuum(0) left superseded generation-0 files")
    assert(fresh.count() === 101L, "vacuum(0) touched the current generation")
  }

  test("compact's beforeFlip is the commit fence: an abort there leaves the " +
    "pointer un-flipped and the old generation serving; a lease stolen " +
    "mid-fold (TTL break during a long rewrite) aborts the renew-fenced " +
    "compaction BEFORE the flip; vacuum reclaims the orphan rewrite") {
    import spark.implicits._
    import graft.sources.{BucketedStore, WriterLease}
    val dir = java.nio.file.Files.createTempDirectory("graft-fence").toString
    val path = s"$dir/t"
    BucketedStore.write((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"),
      path, Seq("k"), 2)
    // 1. the hook runs after the rewrite, before the flip — a throw there
    // must leave generation 0 current and complete
    val boom = intercept[RuntimeException] {
      BucketedStore.compact(spark, path, Seq("k"), 2,
        beforeFlip = () => throw new RuntimeException("fence abort"))
    }
    assert(boom.getMessage === "fence abort")
    assert(BucketedStore.currentGen(spark, path) === 0,
      "aborted compaction flipped the pointer anyway")
    assert(spark.read.parquet(BucketedStore.dataDir(spark, path))
      .count() === 100L)
    assert(new java.io.File(s"$path/_gen-1").exists(),
      "the pre-flip crash shape is an orphan next-generation dir")
    // the orphan is dead weight, invisible to readers — vacuum reclaims it
    BucketedStore.vacuum(spark, path, keepPrior = 1)
    assert(!new java.io.File(s"$path/_gen-1").exists(),
      "vacuum left the crashed compaction's orphan generation")
    // 2. the real fence: renew() as beforeFlip detects a lease stolen
    // while the fold ran (the on-disk token is no longer ours) and aborts
    WriterLease.withLease(spark, path, "folder") {
      val lock = new java.io.FileOutputStream(s"$path/_writer.lock")
      try lock.write(
        s"""{"token":"thief","owner":"ttl-breaker","epochMs":${System.currentTimeMillis()}}"""
          .getBytes("UTF-8"))
      finally lock.close()
      intercept[WriterLease.LeaseConflictException] {
        BucketedStore.compact(spark, path, Seq("k"), 2,
          beforeFlip = () => WriterLease.renew(spark, path, "folder"))
      }
    }
    assert(BucketedStore.currentGen(spark, path) === 0,
      "a compaction whose lease was stolen mid-fold still flipped")
    assert(spark.read.parquet(BucketedStore.dataDir(spark, path))
      .count() === 100L, "old generation must keep serving after the abort")
    // the thief then "crashes" without releasing — clear its lock so the
    // next writer doesn't have to wait out the TTL
    new java.io.File(s"$path/_writer.lock").delete()
    // an unstolen lease renews cleanly and the fenced compaction commits
    WriterLease.withLease(spark, path, "folder2") {
      BucketedStore.compact(spark, path, Seq("k"), 2,
        beforeFlip = () => WriterLease.renew(spark, path, "folder2"))
    }
    assert(BucketedStore.currentGen(spark, path) === 1)
    assert(spark.read.parquet(BucketedStore.dataDir(spark, path))
      .count() === 100L)
  }

  test("a torn _gen.json.tmp (crashed first flip, or a live writer mid-" +
    "flip) never wedges the layout and is never deleted by readers: " +
    "generation 0 keeps serving and the next compact overwrites it") {
    import spark.implicits._
    import graft.sources.BucketedStore
    val dir = java.nio.file.Files.createTempDirectory("graft-torn").toString
    val path = s"$dir/t"
    BucketedStore.write((1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"),
      path, Seq("k"), 2)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_gen.json.tmp"), """{"ge""") // torn
    assert(BucketedStore.currentGen(spark, path) === 0)
    assert(BucketedStore.attach(spark, path, Seq("k"), 2).count() === 50L)
    // a READER must not delete the tmp — it cannot tell crash debris from
    // a live writer mid-flip, whose completed fold the delete would abort
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_gen.json.tmp")),
      "reader deleted a tmp pointer it cannot prove is dead")
    // the next compaction overwrites the debris and flips normally
    BucketedStore.compact(spark, path, Seq("k"), 2)
    assert(BucketedStore.currentGen(spark, path) === 1)
    assert(BucketedStore.attach(spark, path, Seq("k"), 2).count() === 50L)
  }

  test("WriterLease: a second writer fails LOUD while the lease is held, " +
    "re-entry on the owning thread is a no-op, an expired lease is broken, " +
    "and a real index append conflicts end-to-end") {
    import spark.implicits._
    import graft.sources.WriterLease
    val dir = java.nio.file.Files.createTempDirectory("graft-lease").toString
    val out = WriterLease.withLease(spark, dir, "writer-A") {
      // re-entrant: same thread nests freely
      val nested = WriterLease.withLease(spark, dir, "writer-A-nested") { 41 + 1 }
      // conflict: a DIFFERENT thread must fail loud, not interleave
      @volatile var conflict: Throwable = null
      val t = new Thread(() =>
        try WriterLease.withLease(spark, dir, "writer-B") { fail("B got in") }
        catch { case e: Throwable => conflict = e })
      t.start(); t.join()
      assert(conflict != null &&
        conflict.isInstanceOf[WriterLease.LeaseConflictException],
        s"expected LeaseConflictException, got $conflict")
      assert(conflict.getMessage.contains("writer-A"),
        "conflict message does not name the holder")
      nested
    }
    assert(out === 42)
    // released: the next writer acquires cleanly
    WriterLease.withLease(spark, dir, "writer-C") { () }
    // expiry: a stale lock from a crashed writer is broken, not fatal
    val lock = java.nio.file.Paths.get(dir, "_writer.lock")
    java.nio.file.Files.writeString(lock,
      """{"token":"dead","owner":"crashed","epochMs":0}""")
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 24L * 3600 * 1000))
    WriterLease.withLease(spark, dir, "writer-D") { () } // breaks + claims
    // end-to-end: a held lease blocks a REAL index op from another thread
    val idxDir = java.nio.file.Files.createTempDirectory("graft-lease-idx").toString
    val docs = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    graft.streaming.DocStream.saveIndex(
      graft.streaming.DocStream.buildIndex(docs), idxDir, buckets = 2)
    WriterLease.withLease(spark, idxDir, "ingest-1") {
      @volatile var conflict: Throwable = null
      val t = new Thread(() =>
        try graft.streaming.DocStream.appendIndex(spark, idxDir, docs)
        catch { case e: Throwable => conflict = e })
      t.start(); t.join()
      assert(conflict != null &&
        conflict.isInstanceOf[WriterLease.LeaseConflictException],
        s"second index writer did not fail loud: $conflict")
    }
  }

  test("compact is a PER-BUCKET FILE MERGE: a fragmented layout folds to " +
    "one file per bucket with ZERO shuffle (the bucketing exchange is " +
    "paid once at write, never again at compaction)") {
    import spark.implicits._
    import graft.sources.BucketedStore
    val dir = java.nio.file.Files.createTempDirectory("graft-pbm").toString
    val path = s"$dir/t"
    val buckets = 4
    def batch(lo: Long, n: Long) = (lo until lo + n).map(i => (i, s"v$i"))
    BucketedStore.write(batch(0, 100).toDF("k", "v"), path, Seq("k"), buckets)
    (1 to 3).foreach { i =>
      BucketedStore.append(spark, path,
        batch(i * 1000, 40).toDF("k", "v"), Seq("k"), buckets)
    }
    def partFiles(p: String): Seq[java.io.File] =
      new java.io.File(p).listFiles().toSeq
        .filter(f => f.isFile && f.getName.startsWith("part-"))
    assert(partFiles(path).size > buckets, "test setup: layout not fragmented")
    // watch every stage compact runs: zero shuffle-write records means no
    // exchange executed anywhere in the fold
    @volatile var shuffleRecords = 0L
    @volatile var tasksSeen = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasksSeen += 1
        Option(e.taskMetrics).foreach(m =>
          shuffleRecords += m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      BucketedStore.compact(spark, path, Seq("k"), buckets)
      // the listener bus is async — poll until events stop arriving
      var last = -1
      var spins = 0
      while (tasksSeen != last && spins < 40) {
        last = tasksSeen; spins += 1; Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(tasksSeen > 0, "listener saw no tasks — assertion would be vacuous")
    assert(shuffleRecords === 0L,
      s"compaction shuffled $shuffleRecords records — the per-bucket merge regressed to an exchange")
    // folded to at most one file per bucket, multiset intact
    val gen1 = partFiles(s"$path/_gen-1")
    assert(gen1.nonEmpty && gen1.size <= buckets,
      s"expected <= $buckets merged files, got ${gen1.size}")
    val got = BucketedStore.attach(spark, path, Seq("k"), buckets)
      .as[(Long, String)].collect().sorted.toSeq
    val expect = (batch(0, 100) ++ (1 to 3).flatMap(i => batch(i * 1000, 40)))
      .sorted
    assert(got === expect, "per-bucket merge changed the multiset")
  }

  test("WriterLease.renew bumps the lease clock from a long write; renew " +
    "without holding refuses; renew after a TTL break fails LOUD (lost " +
    "exclusivity must abort, not interleave)") {
    import graft.sources.WriterLease
    val dir = java.nio.file.Files.createTempDirectory("graft-lease-rn").toString
    val lock = java.nio.file.Paths.get(dir, "_writer.lock")
    // renew outside any lease: refused
    val err = intercept[IllegalArgumentException] {
      WriterLease.renew(spark, dir, "nobody") }
    assert(err.getMessage.contains("does not hold"), err.getMessage)
    WriterLease.withLease(spark, dir, "long-writer") {
      // age the lock as if the write has been running a while, then renew:
      // the mtime must jump forward (the TTL horizon resets)
      val aged = System.currentTimeMillis() - 9L * 60 * 1000
      java.nio.file.Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(aged))
      WriterLease.renew(spark, dir, "long-writer")
      val mtime = java.nio.file.Files.getLastModifiedTime(lock).toMillis
      assert(mtime > aged + 8L * 60 * 1000, s"renew did not bump mtime: $mtime")
      // a TTL-breaker stole the lease (crash-break while we stalled):
      // renew must fail LOUD instead of silently re-claiming
      java.nio.file.Files.writeString(lock,
        """{"token":"thief","owner":"breaker","epochMs":1}""")
      val lost = intercept[WriterLease.LeaseConflictException] {
        WriterLease.renew(spark, dir, "long-writer") }
      assert(lost.getMessage.contains("exclusivity lost"), lost.getMessage)
    }
  }

  test("WriterLease: N breakers racing one EXPIRED lock — exactly one claim " +
    "at a time (the fenced rename break can't delete a rival's fresh lock)") {
    import graft.sources.WriterLease
    val dir = java.nio.file.Files.createTempDirectory("graft-lease-race")
      .toString
    // a crashed writer's stale lock, expired well past the TTL
    val lock = java.nio.file.Paths.get(dir, "_writer.lock")
    java.nio.file.Files.writeString(lock,
      """{"token":"crashed","owner":"dead-ingest","epochMs":1}""")
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60L * 60 * 1000))
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
    val won = new java.util.concurrent.atomic.AtomicInteger(0)
    val conflicted = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var unexpected: Throwable = null
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        start.await()
        try WriterLease.withLease(spark, dir, s"breaker-$i") {
          val now = active.incrementAndGet()
          maxActive.getAndUpdate(m => math.max(m, now))
          Thread.sleep(30) // widen any overlap window
          active.decrementAndGet()
          won.incrementAndGet()
        } catch {
          case _: WriterLease.LeaseConflictException =>
            conflicted.incrementAndGet()
          case t: Throwable => unexpected = t
        }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(unexpected == null, s"non-conflict failure: $unexpected")
    assert(maxActive.get() === 1,
      s"${maxActive.get()} writers held the lease simultaneously")
    assert(won.get() >= 1, "nobody broke the expired lease")
    assert(won.get() + conflicted.get() === 8)
    // the winner released; the dir is claimable again and carries no
    // leftover lock or tombstone debris that would wedge later writers
    WriterLease.withLease(spark, dir, "after") { () }
    val leftovers = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_writer.lock"))
    assert(leftovers.isEmpty,
      s"lease debris left behind: ${leftovers.map(_.getName).mkString(", ")}")
  }

  test("vacuum(keepPrior=0) makes a reader still attached to the prior " +
    "generation fail VISIBLY (missing files, never silent wrong rows); " +
    "compact+vacuum composed under ONE lease serves the new generation") {
    import spark.implicits._
    import graft.sources.{BucketedStore, WriterLease}
    val dir = java.nio.file.Files.createTempDirectory("graft-vac").toString
    val path = s"$dir/t"
    BucketedStore.write((1L to 50L).map(i => (i % 5, s"v$i"))
      .toDF("k", "v"), path, Seq("k"), 4)
    val stale = BucketedStore.attach(spark, path, Seq("k"), 4) // gen 0
    // the maintenance composite: fold + reclaim under one writer lease
    // (each step's own withLease nests re-entrantly on this thread)
    WriterLease.withLease(spark, path, "maintenance") {
      BucketedStore.compact(spark, path, Seq("k"), 4)
      BucketedStore.vacuum(spark, path, keepPrior = 0)
    }
    // vacuum(0) is the caller asserting no reader predates the current
    // generation — `stale` violates that contract, and the documented
    // failure mode is a VISIBLE read error on its vanished files, never
    // a silently partial result
    val e = intercept[Exception] { stale.count() }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => s"${x.getClass.getName}: ${x.getMessage}").toSeq
    assert(chain(e).exists(m => m.contains("FileNotFound") ||
      m.contains("does not exist") || m.contains("PATH_NOT_FOUND") ||
      m.contains("FAILED_READ_FILE")),
      s"expected a missing-file error, got:\n${chain(e).mkString("\n")}")
    // a fresh attach serves the folded generation completely
    assert(BucketedStore.attach(spark, path, Seq("k"), 4).count() === 50L)
    assert(BucketedStore.currentGen(spark, path) === 1)
  }

  test("BucketedStore.append binds columns by NAME: a reordered delta " +
    "appends correctly, a missing column fails loud") {
    import spark.implicits._
    import graft.sources.BucketedStore
    val dir = java.nio.file.Files.createTempDirectory("graft-bstore").toString
    val base = Seq((1L, "a", 10L)).toDF("k", "v", "n")
    BucketedStore.write(base, s"$dir/t", Seq("k"), 2)
    // same columns, DIFFERENT order — positional binding would write the
    // long 20 into v and the string into n
    BucketedStore.append(spark, s"$dir/t",
      Seq((20L, 2L, "b")).toDF("n", "k", "v"), Seq("k"), 2)
    val got = BucketedStore.attach(spark, s"$dir/t", Seq("k"), 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1L, "a", 10L), (2L, "b", 20L)))
    intercept[org.apache.spark.sql.AnalysisException] {
      BucketedStore.append(spark, s"$dir/t",
        Seq((3L, "c")).toDF("k", "v"), Seq("k"), 2)
    }
  }

  test("BucketedStore.append COERCES the delta to the layout's recorded " +
    "types: an int delta into a bigint layout reads back clean (the " +
    "delta's own narrower type would poison every later scan)") {
    import spark.implicits._
    import graft.sources.BucketedStore
    val dir = java.nio.file.Files.createTempDirectory("graft-bstore-co").toString
    BucketedStore.write(Seq((1L, 1.5)).toDF("k", "x"), s"$dir/t", Seq("k"), 2)
    // ints where the layout holds bigint/double
    BucketedStore.append(spark, s"$dir/t",
      Seq((2, 2)).toDF("k", "x"), Seq("k"), 2)
    val got = BucketedStore.attach(spark, s"$dir/t", Seq("k"), 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got === Set((1L, 1.5), (2L, 2.0)),
      "appended delta types did not coerce to the layout schema")
  }

  test("GenPins: restamp is torn-read-proof (tmp fallback), other " +
    "sessions' fresh pins aggregate to the min, stale pins TTL out, and " +
    "clear is idempotent") {
    import graft.sources.GenPins
    val dir = java.nio.file.Files.createTempDirectory("graft-pins").toString
    GenPins.write(spark, dir, "sesA", 3)
    GenPins.write(spark, dir, "sesB", 5)
    // a rival excludes itself and takes the min over the others
    assert(GenPins.minPinnedByOthers(spark, dir, "sesC") === Some(3))
    assert(GenPins.minPinnedByOthers(spark, dir, "sesA") === Some(5))
    // mid-restamp window: main deleted, only the tmp on disk — the pin
    // must still count (a torn restamp must never read as "no pin")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val main = new org.apache.hadoop.fs.Path(s"$dir/_pins/sesA.pin")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_pins/sesA.pin.tmp")
    org.apache.hadoop.fs.FileUtil.copy(fs, main, fs, tmp, false,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(main, false)
    assert(GenPins.minPinnedByOthers(spark, dir, "sesC") === Some(3),
      "the tmp-only restamp window dropped the pin")
    GenPins.write(spark, dir, "sesA", 3) // restamp completes
    // stale pins age out (the crashed-session backstop)
    spark.conf.set("spark.graft.catalog.pinTtlMs", "1")
    try {
      Thread.sleep(30)
      assert(GenPins.minPinnedByOthers(spark, dir, "sesC") === None,
        "a stale pin kept counting past its TTL")
    } finally spark.conf.unset("spark.graft.catalog.pinTtlMs")
    assert(GenPins.minPinnedByOthers(spark, dir, "sesC") === Some(3))
    // a garbage pin file is skipped, not fatal
    val bad = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_pins/bad.pin"), true)
    try bad.write("not json".getBytes) finally bad.close()
    assert(GenPins.minPinnedByOthers(spark, dir, "sesC") === Some(3))
    GenPins.clear(spark, dir, "sesA")
    GenPins.clear(spark, dir, "sesA") // idempotent
    GenPins.clear(spark, dir, "sesB")
    assert(GenPins.minPinnedByOthers(spark, dir, "sesC") === None)
  }

  // ------------------------------------------------ cached parquet heading

  import spark.implicits._

  private def tmpPath(prefix: String): String =
    s"${java.nio.file.Files.createTempDirectory(prefix)}/t.parquet"

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("Sources.parquet: a second read of an unchanged path launches no " +
    "Spark job before its action, with the schema inference would give") {
    val path = tmpPath("graft-pq-warm")
    Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("k", "v", "x")
      .write.parquet(path)
    val (_, coldJobs) = jobsDuring(Sources.parquet(spark, path))
    assert(coldJobs.size === 1, "the cold read is the inferring read")
    val (warm, warmJobs) = jobsDuring(Sources.parquet(spark, path))
    assert(warmJobs.isEmpty,
      s"warm read launched ${warmJobs.size} job(s) before its action")
    assert(warm.schema === spark.read.parquet(path).schema)
    assert(sortedRows(warm) === sortedRows(spark.read.parquet(path)))
  }

  test("Sources.parquet: overwriting a path with another heading (column " +
    "added, dropped, retyped) reads the new heading and rows") {
    val path = tmpPath("graft-pq-over")
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode("overwrite").parquet(path)
      val got = Sources.parquet(spark, path)
      assert(got.schema === spark.read.parquet(path).schema)
      assert(sortedRows(got) === sortedRows(df))
      assert(Sources.parquet(spark, path).schema === got.schema) // warm
    }
    check(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    check(Seq((1, "a", 0.5), (2, "b", 1.5)).toDF("k", "v", "w")) // added
    check(Seq((1, 0.5), (2, 1.5)).toDF("k", "w")) // dropped
    check(Seq((1L, "0.5"), (2L, "1.5")).toDF("k", "w")) // retyped
  }

  test("Sources.parquet: changing a keyed spark.sql.parquet.* setting " +
    "between reads re-infers (exactly one job)") {
    val path = tmpPath("graft-pq-conf")
    Seq((1, "a".getBytes)).toDF("k", "b").write.parquet(path)
    Sources.parquet(spark, path)
    assert(jobsDuring(Sources.parquet(spark, path))._2.isEmpty)
    val k = "spark.sql.parquet.binaryAsString"
    spark.conf.set(k, "true")
    try {
      val (df, jobs) = jobsDuring(Sources.parquet(spark, path))
      assert(jobs.size === 1, "a changed parquet setting must re-infer")
      // a file Spark wrote carries its own schema, so binaryAsString keeps
      // the type here; what the key guards is that it was re-read
      assert(df.schema === spark.read.parquet(path).schema)
    } finally spark.conf.unset(k)
    assert(jobsDuring(Sources.parquet(spark, path))._2.size === 1,
      "unsetting the setting changes the key again")
  }

  test("Sources.parquet: a partitioned directory keeps its partition " +
    "column and that column's inferred type") {
    val path = tmpPath("graft-pq-part")
    val df = Seq((1, "a"), (2, "b"), (2, "c")).toDF("k", "v")
    df.write.partitionBy("k").parquet(path)
    assert(new java.io.File(s"$path/k=1").isDirectory)
    Sources.parquet(spark, path)
    val (warm, jobs) = jobsDuring(Sources.parquet(spark, path))
    assert(jobs.isEmpty)
    val fresh = spark.read.parquet(path)
    assert(warm.schema === fresh.schema)
    assert(warm.schema("k").dataType === IntegerType)
    assert(sortedRows(warm.select("k", "v")) === sortedRows(df))
  }

  test("Sources.parquet: 8 threads reading one path on one session all " +
    "get the same schema, without an exception") {
    val path = tmpPath("graft-pq-threads")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(path)
    val expect = spark.read.parquet(path).schema
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[StructType]] {
          def call(): Seq[StructType] =
            (1 to 5).map(_ => Sources.parquet(spark, path).schema)
        }))
      val schemas = futures.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(schemas.size === 40)
      assert(schemas.forall(_ == expect))
    } finally pool.shutdownNow()
  }

  test("ScratchBuckets.withLayout: a body that throws leaves no metastore " +
    "table and no graft-scratch-* directory behind") {
    import graft.sources.ScratchBuckets
    val root = java.nio.file.Files.createTempDirectory("graft-scratch-root")
    def scratchDirs = Option(root.toFile.list()).toSeq.flatten
      .filter(_.startsWith("graft-scratch-"))
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    val tablesBefore = tables
    spark.conf.set("spark.graft.scratchDir", root.toString)
    try {
      var seenTable = ""
      val err = intercept[IllegalStateException] {
        ScratchBuckets.withLayout(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
            Seq("src")) { layout =>
          assert(layout.df.count() === 2)
          assert(scratchDirs.size === 1, "the layout was not written")
          seenTable = layout.table
          throw new IllegalStateException("round 3 failed")
        }
      }
      assert(err.getMessage === "round 3 failed")
      assert(seenTable.nonEmpty && !tables.contains(seenTable))
      assert(tables === tablesBefore, "a metastore table outlived the layout")
      assert(scratchDirs.isEmpty, s"scratch files left: $scratchDirs")
    } finally spark.conf.unset("spark.graft.scratchDir")
  }
}
