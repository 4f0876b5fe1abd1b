package graft

import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.rel.Rel

/** Relvar updates + persistence (SURVEY §2.6; SuiteUpdateCat mirrors). */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("insert / deleteWhere / updateWhere with copy-on-write swap") {
    val cat = new Catalog(spark)
    cat.define("S", S)
    cat.insert("S", Rel.distinct(Seq(("S6", "Smyth", 15, "Berlin")).toDF("S#", "SNAME", "STATUS", "CITY")))
    assert(cat.relvar("S").count() === 6)
    // inserting an existing tuple is a no-op (set semantics)
    cat.insert("S", Rel.distinct(Seq(("S6", "Smyth", 15, "Berlin")).toDF("S#", "SNAME", "STATUS", "CITY")))
    assert(cat.relvar("S").count() === 6)
    cat.deleteWhere("S", col("CITY") === "Paris")
    assert(cat.relvar("S").count() === 4)
    cat.updateWhere("S", col("S#") === "S1", "STATUS" -> (col("STATUS") + 5))
    val s1 = cat.relvar("S").where(col("S#") === "S1").df.collect()(0)
    assert(s1.getAs[Int]("STATUS") === 25)
    assert(cat.relvar("S").count() === 4)
  }

  test("insertBucketed: the delta lands as NEW bucket files (history files " +
    "byte-identical), set semantics absorb re-delivered rows, the bucket " +
    "spec and the ZERO-Exchange join survive, and the pre-insert version " +
    "keeps serving exactly its captured listing") {
    val cat = new Catalog(spark)
    val base = Rel.distinct(
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v"))
    cat.defineBucketed("BIns", base, Seq("k"), 2)
    val v1 = cat.version("BIns")
    val preHandle = cat.relvar("BIns") // the plan v1 serves, captured now
    // locate the physical layout (B__c<id>_bkt1 under the warehouse)
    val wh = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val physDir = wh.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bins__c") &&
        f.getName.contains("_bkt")).maxBy(_.lastModified)
    def files(): Map[String, Long] = physDir.listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(f => f.getName -> f.length).toMap
    val before = files()
    // delta: two novel rows + one re-delivered existing row (+ an internal
    // duplicate the delta-side dedup must absorb)
    cat.insertBucketed("BIns", Rel.distinct(
      Seq((3L, "v3"), (100L, "x"), (200L, "y")).toDF("k", "v")))
    val after = files()
    assert(before.forall { case (p, sz) => after.get(p).contains(sz) },
      "insertBucketed rewrote or dropped history files")
    assert(after.size > before.size, "the delta produced no new bucket files")
    // set semantics + versioning
    assert(cat.relvar("BIns").count() === 42)
    assert(cat.version("BIns") === v1 + 1)
    assert(cat.relvarAt("BIns", v1).count() === 40,
      "the archived pre-insert version saw the appended files")
    assert(preHandle.count() === 40,
      "a plan handle captured before the insert saw the appended files")
    // a re-delivered-only delta adds nothing (and no files)
    cat.insertBucketed("BIns", Rel.distinct(
      Seq((100L, "x")).toDF("k", "v")))
    assert(cat.relvar("BIns").count() === 42)
    assert(files().size === after.size,
      "an all-duplicate delta still wrote bucket files")
    // the spec survived: a self-join on the bucket key runs with ZERO
    // Exchange — the layout shuffle was paid once at define, never again
    val l = cat.relvar("BIns").df.select(col("k"), col("v").as("v1"))
    val r = cat.relvar("BIns").df.select(col("k"), col("v").as("v2"))
    // merge hint like qBucketedJoin: tiny test data would broadcast (also
    // shuffle-free, but then the plan proves nothing about co-location)
    val p = l.hint("merge").join(r, "k")
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("Exchange"),
      s"post-insert bucketed join shuffled:\n${p.take(3000)}")
    // plain insert AUTO-ROUTES through the layout for bucketed relvars —
    // the language-level `update R union r` scales without a new API
    cat.insert("BIns", Rel.distinct(Seq((300L, "z")).toDF("k", "v")))
    assert(cat.relvar("BIns").count() === 43)
    val p2 = cat.relvar("BIns").df.hint("merge")
      .join(r.withColumnRenamed("v2", "v3"), "k")
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange hashpartitioning"),
      s"plain insert dropped the bucket spec:\n${p2.take(3000)}")
    // a non-bucketed relvar falls back to the plain plan-union insert
    cat.define("PlainR", Rel.distinct(Seq((1L, "a")).toDF("k", "v")))
    cat.insertBucketed("PlainR", Rel.distinct(Seq((2L, "b")).toDF("k", "v")))
    assert(cat.relvar("PlainR").count() === 2)
    cat.close()
  }

  test("layout-keeping mutations: deleteWhere is a ZERO-shuffle filter-" +
    "rewrite of the bucketed layout, updateWhere a when-otherwise rewrite " +
    "with set semantics, deleteRows an anti-join rewrite — the spec " +
    "survives all three and every archived version keeps its listing") {
    val cat = new Catalog(spark)
    val base = Rel.distinct(
      (1L to 40L).map(i => (i, i % 4, s"v$i")).toDF("k", "g", "v"))
    cat.defineBucketed("BMut", base, Seq("k"), 2)
    val v1 = cat.version("BMut")
    // deleteWhere: pin zero shuffle across the rewrite with a listener
    @volatile var shuffleRecords = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffleRecords += m.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      cat.deleteWhere("BMut", col("g") === 3)
      var last = -1L
      var spins = 0
      while (shuffleRecords != last && spins < 40) {
        last = shuffleRecords; spins += 1; Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(shuffleRecords === 0L,
      s"deleteWhere shuffled $shuffleRecords records — the filter-rewrite " +
      "re-paid the bucketing shuffle")
    assert(cat.relvar("BMut").count() === 30)
    assert(cat.version("BMut") === v1 + 1)
    assert(cat.relvarAt("BMut", v1).count() === 40,
      "the pre-delete version lost its captured listing")
    // updateWhere: values rewritten in place, count unchanged, history exact
    cat.updateWhere("BMut", col("g") === 2, "v" -> lit("updated"))
    assert(cat.relvar("BMut").count() === 30)
    assert(cat.relvar("BMut").where(col("v") === "updated").count() === 10)
    assert(cat.relvarAt("BMut", v1 + 1)
      .where(col("v") === "updated").count() === 0,
      "the pre-update version saw the rewrite")
    // deleteRows by value: present rows go, absent rows are a no-op
    cat.deleteRows("BMut", Rel.distinct(
      Seq((1L, 1L, "v1"), (777L, 0L, "nope")).toDF("k", "g", "v")))
    assert(cat.relvar("BMut").count() === 29)
    // the spec survived all three mutations: merge self-join, no Exchange
    val l = cat.relvar("BMut").df.select(col("k"), col("v").as("v1"))
    val r = cat.relvar("BMut").df.select(col("k"), col("v").as("v2"))
    val p = l.hint("merge").join(r, "k").queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("Exchange"),
      s"mutations dropped the bucket spec:\n${p.take(3000)}")
    // an update that collapses tuples keeps set semantics
    cat.defineBucketed("BDup", Rel.distinct(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")), Seq("k"), 2)
    cat.updateWhere("BDup", lit(true), "k" -> lit(9L), "v" -> lit("z"))
    assert(cat.relvar("BDup").count() === 1,
      "collapsing update violated set semantics")
    // delete-all leaves an EMPTY generation that still serves and accepts
    // a later insert (schema rides the re-attach and the append)
    cat.deleteWhere("BDup", lit(true))
    assert(cat.relvar("BDup").count() === 0)
    cat.insert("BDup", Rel.distinct(Seq((5L, "e")).toDF("k", "v")))
    assert(cat.relvar("BDup").count() === 1)
    cat.close()
  }

  test("deleteRows by value (update R minus r)") {
    val cat = new Catalog(spark)
    cat.define("SP", SP)
    cat.deleteRows("SP", SP.where(col("S#") === "S1"))
    assert(cat.relvar("SP").count() === 6)
  }

  test("persist + load roundtrip (catalog persistence, Persist.cs:16-31)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val cat = new Catalog(spark)
    cat.define("S", S)
    cat.persist(dir)
    val cat2 = new Catalog(spark)
    val loaded = cat2.load(dir, "S")
    assert(loaded.relEquals(S))
  }

  test("catalog introspection (andl_variable analogue)") {
    val cat = new Catalog(spark)
    cat.define("S", S); cat.define("SP", SP)
    val vars = cat.variables.collect().map(_.getString(0)).toSet
    assert(vars === Set("S", "SP"))
  }

  test("version history: every write archives a snapshot; as-of reads and " +
    "version diffs replay the chain") {
    val cat = new Catalog(spark)
    cat.define("S", S)
    assert(cat.version("S") === 1)
    cat.insert("S", Rel.distinct(
      Seq(("S6", "Smyth", 15, "Berlin")).toDF("S#", "SNAME", "STATUS", "CITY")))
    cat.deleteWhere("S", col("CITY") === "Paris")
    cat.updateWhere("S", col("S#") === "S1", "STATUS" -> (col("STATUS") + 5))
    assert(cat.version("S") === 4)
    // as-of reads: v1 is the original, untouched by the later writes
    assert(cat.relvarAt("S", 1).relEquals(S), "v1 must be the pristine define")
    assert(cat.relvarAt("S", 2).count() === 6)
    assert(cat.relvarAt("S", 3).count() === 4)
    assert(cat.relvarAt("S", 4).relEquals(cat.relvar("S")))
    // diff between versions: the insert shows up as `added`
    val d12 = cat.versionDiff("S", 1, 2, "S#", "SNAME")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d12("S6") === "added" && d12("S1") === "unchanged")
    // out-of-range versions fail loud
    val ex = intercept[IllegalArgumentException] { cat.relvarAt("S", 5) }
    assert(ex.getMessage.contains("versions 1..4"))
    // redefinition archives too
    cat.define("S", S)
    assert(cat.version("S") === 5 && cat.relvarAt("S", 5).relEquals(S))
  }

  test("bucketed relvar redefinition keeps history readable: each " +
    "generation writes a fresh physical table, never the location an " +
    "archived snapshot still reads") {
    val cat = new Catalog(spark)
    cat.defineBucketed("bh", Rel.distinct(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")), Seq("k"), 2)
    cat.defineBucketed("bh", Rel.distinct(
      Seq((3L, "c")).toDF("k", "v")), Seq("k"), 2)
    assert(cat.version("bh") === 2)
    // v1 must still be the FIRST generation's rows — before the fix the
    // redefine dropped and rewrote the shared table path, so this read
    // either failed on missing files or returned the new data
    val v1 = cat.relvarAt("bh", 1).df.collect().map(_.getLong(0)).sorted
    assert(v1.toSeq === Seq(1L, 2L), s"v1 rebound to new data: ${v1.toSeq}")
    assert(cat.relvar("bh").df.collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("save: a relvar derived from a since-mutated loaded relvar " +
    "persists the rows it was DEFINED over, not the mutated file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_dep").toString
    val c1 = new Catalog(spark)
    c1.define("A", Rel.distinct(Seq((1L, "x"), (2L, "y")).toDF("k", "v")))
    c1.save(dir)
    val c2 = Catalog.load(spark, dir)
    // B's plan reads $dir/A.parquet; then A is REDEFINED in place
    c2.define("B", Rel.distinct(c2.relvar("A").df.select(col("k"))))
    c2.define("A", Rel.distinct(Seq((9L, "z")).toDF("k", "v")))
    c2.save(dir) // must not let B's write observe the NEW A file
    val c3 = Catalog.load(spark, dir)
    assert(c3.relvar("B").df.collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L), "B rebound to mutated A during save")
    assert(c3.relvar("A").df.collect().map(_.getLong(0)).toSeq === Seq(9L))
  }

  test("bucketed relvars never cadence-materialize: the stored plan keeps " +
    "reading the bucketed table (zero-Exchange contract survives v8)") {
    val cat = new Catalog(spark)
    (1 to 8).foreach { i =>
      cat.defineBucketed("bc", Rel.distinct(
        Seq((i.toLong, s"g$i")).toDF("k", "v")), Seq("k"), 2)
    }
    assert(cat.version("bc") === 8)
    val plan = cat.relvar("bc").df.queryExecution.analyzed.toString
    assert(plan.contains("_bkt8") && !plan.contains("_graft_history"),
      s"v8 plan lost its bucketed table:\n$plan")
  }

  test("two catalogs in one session never collide on bucketed physical " +
    "tables: the second's define must not delete what the first reads") {
    val c1 = new Catalog(spark)
    c1.defineBucketed("shared", Rel.distinct(
      Seq((1L, "one")).toDF("k", "v")), Seq("k"), 2)
    val c2 = new Catalog(spark)
    c2.defineBucketed("shared", Rel.distinct(
      Seq((2L, "two")).toDF("k", "v")), Seq("k"), 2)
    // before the per-instance namespace, c2's DROP deleted c1's table
    assert(c1.relvar("shared").df.collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(c2.relvar("shared").df.collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("bucketed LAYOUT survives save/load: the restored relvars join " +
    "Exchange-free, not just hold the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_bkt").toString
    val cat = new Catalog(spark)
    cat.defineBucketed("bl_a", Rel.distinct(
      Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")), Seq("k"), 4)
    cat.defineBucketed("bl_b", Rel.distinct(
      Seq((1L, 10L), (3L, 30L)).toDF("k", "n")), Seq("k"), 4)
    cat.save(dir)
    val cat2 = Catalog.load(spark, dir)
    val joined = cat2.relvar("bl_a").df.hint("merge")
      .join(cat2.relvar("bl_b").df, "k")
    assert(joined.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
      s"restored bucketing lost — join shuffles:\n${plan.take(3000)}")
    // and the restore paid NO shuffle: the loaded relvars ATTACH the saved
    // bucket files directly (scan roots under $dir/_bucketed), instead of
    // rebuilding a fresh physical table from a plain snapshot
    assert(plan.contains("_bucketed"),
      s"load rebuilt the bucketed table instead of attaching the saved " +
      s"layout:\n${plan.take(3000)}")
    // a resave of the attached, unmutated catalog to the same dir is FREE:
    // the layout files are untouched (same names, same sizes)
    def listing: Map[String, Long] = {
      val s = java.nio.file.Files.walk(
        java.nio.file.Paths.get(dir, "_bucketed"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          // _pins/ holds SESSION metadata (durable cross-session
          // generation pins, stamped at attach and released at close) —
          // not layout data; its lifecycle is close()'s to manage
          .filterNot(_.toString.contains("/_pins/"))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally s.close()
    }
    val before = listing
    cat2.save(dir)
    assert(listing === before, "resaving an attached catalog rewrote the layout")
    // close() drops the attach-load METADATA entries (the saved files — the
    // caller's dir — stay exactly as they are)
    def attachEntries: Int = spark.catalog.listTables().collect()
      .count(_.name.startsWith("graft_bstore_a_"))
    val entriesLive = attachEntries
    cat2.close()
    assert(attachEntries < entriesLive,
      "close() left the attach-load metastore entries registered")
    assert(listing === before, "close() touched the saved layout files")
  }

  test("bounded history: a 100-update chain stays flat to read as-of " +
    "(cadence snapshots cap plan depth) and survives save/load") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_hist").toString
    val cat = new Catalog(spark)
    cat.define("H", Rel.distinct(Seq((0L, 0L)).toDF("id", "n")))
    (1L to 99L).foreach { i =>
      cat.insert("H", Rel.distinct(Seq((i, i)).toDF("id", "n")))
    }
    assert(cat.version("H") === 100)
    // plan depth at the head of the chain is bounded by the cadence: the
    // current snapshot's plan must NOT contain ~99 stacked unions — count
    // Union nodes in the analyzed plan as a structural proxy
    val depth = cat.relvar("H").df.queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.size
    val cadence = spark.conf.getOption("spark.graft.catalog.materializeEvery")
      .map(_.toInt).getOrElse(8)
    assert(depth < cadence + 1, s"head plan has $depth unions — chain not bounded")
    // as-of reads stay correct across the whole chain
    assert(cat.relvarAt("H", 1).count() === 1)
    assert(cat.relvarAt("H", 50).count() === 50)
    assert(cat.relvarAt("H", 100).count() === 100)
    // history survives a session restart via save/load
    cat.save(dir)
    val cat2 = Catalog.load(spark, dir)
    assert(cat2.version("H") === 100)
    assert(cat2.relvarAt("H", 37).count() === 37)
    assert(cat2.relvarAt("H", 100).relEquals(cat.relvar("H")))
    // saving again is cheap: version files are immutable, already on disk
    cat2.save(dir)
    assert(cat2.relvarAt("H", 37).count() === 37)
  }

  test("cadence snapshots are namespaced per catalog instance: a second " +
    "catalog's same-named relvar never clobbers the first's live snapshot") {
    def chain(cat: Catalog, src: String, base: Long): Unit = {
      cat.define("C", Rel.distinct(Seq((base, src)).toDF("id", "src")))
      (1L to 8L).foreach(i => cat.insert("C",
        Rel.distinct(Seq((base + i, src)).toDF("id", "src"))))
    }
    val a = new Catalog(spark)
    chain(a, "a", 0L) // crosses the materialize-every-8 cadence
    assert(a.relvar("C").count() === 9)
    val b = new Catalog(spark)
    chain(b, "b", 100L) // same relvar name, same warehouse historyDir
    // a's current plan scans a's own v8 snapshot — b's cadence write must
    // not have overwritten it
    val rows = a.relvar("C").df.collect()
    assert(rows.length === 9)
    assert(rows.forall(_.getString(1) == "a"),
      "catalog a's relvar reads catalog b's cadence snapshot")
    assert(b.relvar("C").count() === 9)
  }

  test("close() drops ONLY this instance's physical footprint: every " +
    "bucketed generation and cadence snapshot dir, never a peer's") {
    def physTables: Set[String] =
      spark.sql("SHOW TABLES").collect().map(_.getAs[String]("tableName"))
        .filter(_.contains("_bkt")).toSet
    val a = new Catalog(spark)
    val b = new Catalog(spark)
    val rows = Rel.distinct(Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    a.defineBucketed("lc", rows, Seq("id"), 4)
    a.defineBucketed("lc", rows, Seq("id"), 4) // second generation
    b.defineBucketed("lc", rows, Seq("id"), 4)
    // a's cadence snapshot dir: cross the materialize-every-8 line
    a.define("lv", rows)
    (1L to 8L).foreach(i => a.insert("lv",
      Rel.distinct(Seq((100L + i, "z")).toDF("id", "v"))))
    val before = physTables
    assert(before.count(_.startsWith("lc__c")) >= 3)
    a.close()
    val after = physTables
    // both of a's generations gone; b's table intact and readable
    assert(after.size === before.size - 2, s"$before -> $after")
    assert(b.relvar("lc").count() === 2)
    a.close() // idempotent
    assert(physTables === after)
  }

  test("save/load over a NON-file Hadoop filesystem: data AND metadata land " +
    "on the target scheme (object-store deployment path)") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockfs.impl", classOf[MockFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_mockfs").toString
    val dir = s"mockfs://$local" // mockfs:///<tmp>/… — resolved by MockFs only
    val cat = new Catalog(spark)
    cat.define("S", S)
    cat.insert("S", Rel.distinct(
      Seq(("S6", "Smyth", 15, "Berlin")).toDF("S#", "SNAME", "STATUS", "CITY")))
    cat.set("answer", 42)
    cat.defineBucketed("mb", Rel.distinct(
      Seq((1L, "x"), (2L, "y")).toDF("k", "v")), Seq("k"), 2)
    cat.save(dir)
    // the metadata file must be AT the filesystem-resolved target — before
    // meta went through the Hadoop FS it landed on a driver-local path
    assert(new java.io.File(s"$local/catalog.meta.json").exists,
      "catalog.meta.json not on the target filesystem")
    assert(new java.io.File(s"$local/S.parquet").exists)
    // the bucketed LAYOUT lands on the target scheme too
    assert(new java.io.File(s"$local/_bucketed/mb").isDirectory,
      "bucketed layout not on the target filesystem")
    val cat2 = Catalog.load(spark, dir)
    assert(cat2.relvar("S").relEquals(cat.relvar("S")))
    assert(cat2.version("S") === 2)
    assert(cat2.relvarAt("S", 1).relEquals(S))
    assert(cat2.get("answer") === 42)
    assert(cat2.relvar("mb").df.collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L), "bucketed relvar did not restore from mockfs")
    // crash-window recovery: a complete .tmp with no main file IS the
    // newest metadata (saver died between delete and rename)
    val meta = new java.io.File(s"$local/catalog.meta.json")
    val tmpF = new java.io.File(s"$local/catalog.meta.json.tmp")
    java.nio.file.Files.move(meta.toPath, tmpF.toPath)
    val cat3 = Catalog.load(spark, dir)
    assert(cat3.relvar("S").relEquals(cat.relvar("S")))
  }

  // history-dir helper: cadence dirs for `name` across ALL catalog ids
  private def cadenceDirs(name: String): Seq[org.apache.hadoop.fs.Path] = {
    val hd = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
      "/_graft_history"
    val root = new org.apache.hadoop.fs.Path(hd)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(s"${name}__c"))
  }

  test("version-chain retention: keepVersions bounds the archived plans " +
    "AND the on-disk cadence snapshots, as-of inside the window stays " +
    "exact, and as-of past the window refuses loudly") {
    spark.conf.set("spark.graft.catalog.keepVersions", "5")
    spark.conf.set("spark.graft.catalog.materializeEvery", "4")
    try {
      val cat = new Catalog(spark)
      cat.define("RetR", Rel.distinct(Seq((1L, "v")).toDF("id", "v"))) // v1
      (2L to 20L).foreach(i => cat.insert("RetR",
        Rel.distinct(Seq((i, "v")).toDF("id", "v")))) // v2..v20
      // version numbers are ABSOLUTE: retention never renumbers
      assert(cat.version("RetR") === 20)
      // the window is 16..20 (keep 5): all exact
      (16 to 20).foreach(v =>
        assert(cat.relvarAt("RetR", v).count() === v.toLong,
          s"as-of $v wrong inside the window"))
      // past the window: loud refusal naming the kept range
      val err = intercept[IllegalArgumentException] {
        cat.relvarAt("RetR", 15) }
      assert(err.getMessage.contains("retention window") &&
        err.getMessage.contains("16..20"), err.getMessage)
      // disk footprint bounded: cadence wrote v4,v8,v12,v16,v20; the
      // oldest retained version (16) replays from base v16, so v4/v8/v12
      // are unreachable and must be GONE; v16 and v20 remain
      val dirs = cadenceDirs("RetR")
      assert(dirs.size === 1, s"expected one cadence dir: $dirs")
      val fs = dirs.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(dirs.head).map(_.getPath.getName).sorted.toSeq
      assert(files === Seq("v16.parquet", "v20.parquet"),
        s"retention vacuum left: $files")
      // a trimmed chain saves and loads with its absolute numbering
      val dir = java.nio.file.Files.createTempDirectory("graft_cat_ret").toString
      cat.save(dir)
      val cat2 = Catalog.load(spark, dir)
      assert(cat2.version("RetR") === 20)
      assert(cat2.relvarAt("RetR", 17).count() === 17)
      // loading must not write snapshots of its own: the restored floor
      // once shifted the load-time define onto a cadence boundary, leaking
      // a spurious v16 under the LOADING catalog's namespace
      assert(cadenceDirs("RetR").size === 1,
        s"load wrote a spurious cadence snapshot: ${cadenceDirs("RetR")}")
      val err2 = intercept[IllegalArgumentException] {
        cat2.relvarAt("RetR", 12) }
      assert(err2.getMessage.contains("retention window"), err2.getMessage)
      cat.close()
    } finally {
      spark.conf.unset("spark.graft.catalog.keepVersions")
      spark.conf.unset("spark.graft.catalog.materializeEvery")
    }
  }

  test("keepVersions=1 (empty archived history) still persists the " +
    "retention floor across save/load: version numbers stay absolute " +
    "instead of silently resetting to 1") {
    // the memory-bounding extreme: the history Vector is EMPTY after
    // every write, so no relvar_version line can carry the floor — the
    // explicit relvar_floor record must
    spark.conf.set("spark.graft.catalog.keepVersions", "1")
    try {
      val cat = new Catalog(spark)
      cat.define("FloorR", Rel.distinct(Seq((1L, "v")).toDF("id", "v")))
      (2L to 9L).foreach(i => cat.insert("FloorR",
        Rel.distinct(Seq((i, "v")).toDF("id", "v"))))
      assert(cat.version("FloorR") === 9)
      val err = intercept[IllegalArgumentException] {
        cat.relvarAt("FloorR", 8) }
      assert(err.getMessage.contains("retention window"), err.getMessage)
      val dir = java.nio.file.Files.createTempDirectory("graft_cat_flr").toString
      cat.save(dir)
      val cat2 = Catalog.load(spark, dir)
      assert(cat2.version("FloorR") === 9,
        "reload reset the absolute version numbering")
      assert(cat2.relvarAt("FloorR", 9).count() === 9)
      val err2 = intercept[IllegalArgumentException] {
        cat2.relvarAt("FloorR", 3) }
      assert(err2.getMessage.contains("retention window"), err2.getMessage)
      // the chain keeps counting absolutely after the reload
      cat2.insert("FloorR", Rel.distinct(Seq((10L, "v")).toDF("id", "v")))
      assert(cat2.version("FloorR") === 10)
      cat.close(); cat2.close()
    } finally spark.conf.unset("spark.graft.catalog.keepVersions")
  }

  test("close() reclaims the cadence dirs of relvars DROPPED before " +
    "close: the namespace scan needs no live relvar name") {
    val cat = new Catalog(spark)
    cat.define("DropMe", Rel.distinct(Seq((0L, "x")).toDF("id", "v")))
    (1L to 8L).foreach(i => cat.insert("DropMe",
      Rel.distinct(Seq((i, "x")).toDF("id", "v")))) // crosses cadence (8)
    assert(cadenceDirs("DropMe").nonEmpty,
      "test setup: no cadence snapshot was written")
    cat.drop("DropMe")
    intercept[Exception] { cat.relvar("DropMe") }
    cat.close()
    assert(cadenceDirs("DropMe").isEmpty,
      "dropped relvar's cadence dir leaked past close()")
  }

  test("NULL-predicate mutations are SQL-shaped and storage-independent: " +
    "updateWhere keeps a NULL-predicate row UNCHANGED, deleteWhere keeps " +
    "it, and the plain and bucketed paths agree exactly") {
    val rows = Seq((1L, "alpha"), (2L, null.asInstanceOf[String]),
      (3L, "avocado"), (4L, "beta")).toDF("k", "tag")
    def run(bucketed: Boolean): Set[(Long, String)] = {
      val cat = new Catalog(spark)
      if (bucketed) cat.defineBucketed("N", Rel.distinct(rows), Seq("k"), 2)
      else cat.define("N", Rel.distinct(rows))
      // pred is NULL on row 2 — it must survive BOTH mutations unchanged
      cat.updateWhere("N", col("tag").startsWith("a"),
        "tag" -> concat(lit("U_"), col("tag")))
      val afterUpd = cat.relvar("N").df.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(afterUpd === Set((1L, "U_alpha"), (2L, null),
        (3L, "U_avocado"), (4L, "beta")),
        s"updateWhere (bucketed=$bucketed) broke the NULL contract")
      cat.deleteWhere("N", col("tag").startsWith("U"))
      val afterDel = cat.relvar("N").df.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(afterDel === Set((2L, null), (4L, "beta")),
        s"deleteWhere (bucketed=$bucketed) broke the NULL contract")
      cat.close()
      afterDel
    }
    assert(run(bucketed = false) === run(bucketed = true))
  }

  test("bucketed mutations run under the layout's WriterLease: a rival " +
    "writer's live lease makes insert, deleteWhere and updateWhere fail " +
    "LOUD (no silent interleaving), and the same mutations succeed once " +
    "the rival releases") {
    import graft.sources.WriterLease
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-lease").toString
    val cat = new Catalog(spark)
    cat.defineBucketed("BL", Rel.distinct(
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 2)
    cat.save(dir)
    cat.close()
    // attach-loaded: the shared saved layout is exactly the two-session
    // scenario the lease exists for
    val cat2 = Catalog.load(spark, dir)
    val path = s"$dir/_bucketed/BL"
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val rival = new Thread(() =>
      WriterLease.withLease(spark, path, "rival-writer") {
        started.countDown(); release.await()
      })
    rival.start()
    assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
    try {
      intercept[WriterLease.LeaseConflictException] {
        cat2.deleteWhere("BL", col("k") === 1L)
      }
      intercept[WriterLease.LeaseConflictException] {
        cat2.updateWhere("BL", col("k") === 2L, "v" -> lit("x"))
      }
      intercept[WriterLease.LeaseConflictException] {
        cat2.insert("BL", Rel.distinct(Seq((99L, "z")).toDF("k", "v")))
      }
      // the refused mutations left the relvar untouched
      assert(cat2.relvar("BL").count() === 20)
    } finally { release.countDown(); rival.join() }
    // rival gone: the same mutations go through
    cat2.deleteWhere("BL", col("k") === 1L)
    cat2.insert("BL", Rel.distinct(Seq((99L, "z")).toDF("k", "v")))
    assert(cat2.relvar("BL").count() === 20)
    assert(!new java.io.File(s"$path/_writer.lock").exists,
      "mutation did not release the layout lease")
    cat2.close()
  }

  test("layout-generation retention: with keepVersions set, each mutation " +
    "vacuums the generations no retained version pins (disk bounded by " +
    "the window, flat gen-0 included), every retained as-of read stays " +
    "exact, and unbounded retention keeps every pinned generation") {
    def genDirs(path: String): Set[String] =
      new java.io.File(path).listFiles.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("_gen-"))
        .map(_.getName).toSet
    def rootFlat(path: String): Boolean =
      new java.io.File(path).listFiles.toSeq
        .exists(f => f.isFile && f.getName.startsWith("part-"))
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-ret").toString
    val seed = new Catalog(spark)
    seed.defineBucketed("BR", Rel.distinct(
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 2)
    seed.save(dir)
    seed.close()
    val path = s"$dir/_bucketed/BR"
    spark.conf.set("spark.graft.catalog.keepVersions", "2")
    try {
      val cat = Catalog.load(spark, dir) // v1 pins flat gen 0
      (1 to 5).foreach(i => cat.deleteWhere("BR", col("k") === i.toLong))
      // versions 1..6; window keeps v5 (gen 4) and v6 (gen 5) — the
      // attach-loaded grace (layoutKeepPrior=1) is inside the pin span
      assert(cat.version("BR") === 6)
      assert(cat.relvar("BR").count() === 35)
      assert(cat.relvarAt("BR", 5).count() === 36,
        "retained as-of read lost its generation")
      intercept[IllegalArgumentException] { cat.relvarAt("BR", 4) }
      assert(genDirs(path) === Set("_gen-4", "_gen-5"),
        s"mutation chain left unpinned generations: ${genDirs(path)}")
      assert(!rootFlat(path),
        "flat gen-0 files survived past the retention window")
      cat.close()
    } finally spark.conf.unset("spark.graft.catalog.keepVersions")
    // unbounded retention (the default): every version stays addressable,
    // so every generation stays pinned on disk
    val dir2 = java.nio.file.Files.createTempDirectory("graft-cat-ret0").toString
    val seed2 = new Catalog(spark)
    seed2.defineBucketed("BU", Rel.distinct(
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 2)
    seed2.save(dir2)
    seed2.close()
    val cat2 = Catalog.load(spark, dir2)
    cat2.deleteWhere("BU", col("k") === 1L)
    cat2.deleteWhere("BU", col("k") === 2L)
    val p2 = s"$dir2/_bucketed/BU"
    assert(genDirs(p2) === Set("_gen-1", "_gen-2") && rootFlat(p2),
      "unbounded retention must keep every pinned generation")
    assert(cat2.relvarAt("BU", 1).count() === 10)
    assert(cat2.relvarAt("BU", 2).count() === 9)
    assert(cat2.relvar("BU").count() === 8)
    // layoutStats shares the vacuum's pin arithmetic: with every
    // generation pinned, NOTHING is reported reclaimable (a raw
    // keepPrior=1 listing would claim gen-0 as superseded bytes the
    // retention vacuum will never touch)
    val st2 = cat2.layoutStats("BU")
    assert(st2.supersededGens === 0 && st2.supersededBytes === 0L,
      s"layoutStats reported phantom reclaimable storage: $st2")
    cat2.close()
  }

  test("loading a save WITH archived history keys the attach pin to the " +
    "attachment's TRUE version: retention releases it on the real window, " +
    "so an in-window as-of read never loses its generation to the vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-ldpin").toString
    val seed = new Catalog(spark)
    seed.defineBucketed("BH", Rel.distinct(
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 2)
    seed.deleteWhere("BH", col("k") === 1L) // archives v1 → save carries history
    seed.save(dir)
    seed.close()
    spark.conf.set("spark.graft.catalog.keepVersions", "3")
    try {
      val cat = Catalog.load(spark, dir)
      // floor 0 + history [v1] + current ⇒ the loaded attachment is v2
      assert(cat.version("BH") === 2)
      cat.deleteWhere("BH", col("k") === 2L) // v3
      cat.deleteWhere("BH", col("k") === 3L) // v4
      // window keeps v2..v4; v2 is the LOADED attachment reading the
      // saved gen-0 — a pin keyed to the pre-history placeholder version
      // would be released here and the vacuum would delete gen-0 under it
      assert(cat.relvarAt("BH", 2).count() === 39,
        "in-window as-of read lost the loaded attachment's generation")
      assert(cat.relvarAt("BH", 3).count() === 38)
      assert(cat.relvar("BH").count() === 37)
      // one more mutation rolls v2 out of the window: NOW gen-0 may go
      cat.deleteWhere("BH", col("k") === 4L) // v5; retained v3..v5
      intercept[IllegalArgumentException] { cat.relvarAt("BH", 2) }
      assert(cat.relvarAt("BH", 3).count() === 38,
        "the rolled window lost a still-retained generation")
      cat.close()
    } finally spark.conf.unset("spark.graft.catalog.keepVersions")
  }

  test("durable CROSS-SESSION layout pins: a rival's keepVersions vacuum " +
    "honors this session's pin file past the layoutKeepPrior grace, its " +
    "in-window as-of read keeps serving, a clean close releases the pin, " +
    "and a crashed session's stale pin TTLs out") {
    import spark.implicits._
    def genDirs(path: String): Set[String] =
      new java.io.File(path).listFiles.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("_gen-"))
        .map(_.getName).toSet
    def rootFlat(path: String): Boolean =
      new java.io.File(path).listFiles.toSeq
        .exists(f => f.isFile && f.getName.startsWith("part-"))
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-xpin").toString
    val seed = new Catalog(spark)
    seed.defineBucketed("BP", Rel.distinct(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 2)
    seed.save(dir)
    seed.close()
    val path = s"$dir/_bucketed/BP"
    // session B: pure reader, attached to the saved flat generation 0 —
    // its attach stamps a durable pin file beside the layout
    val b = Catalog.load(spark, dir)
    assert(new java.io.File(s"$path/_pins").listFiles.count(
      _.getName.endsWith(".pin")) === 1, "attach did not stamp a pin file")
    spark.conf.set("spark.graft.catalog.keepVersions", "1")
    try {
      // session A mutates THREE generations past B's attachment — two
      // beyond what the layoutKeepPrior=1 grace alone would keep
      val a = Catalog.load(spark, dir)
      (1 to 3).foreach(i => a.deleteWhere("BP", col("k") === i.toLong))
      assert(rootFlat(path),
        "rival vacuum deleted the generation B's durable pin holds")
      assert(b.relvar("BP").count() === 30,
        "B's attached read lost rows to the rival's vacuum")
      assert(b.relvarAt("BP", 1).count() === 30,
        "B's in-window as-of read lost its pinned generation")
      a.close()
      // B closes CLEANLY: its pin releases, and the next rival mutation's
      // vacuum reclaims everything below its own window
      b.close()
      val a2 = Catalog.load(spark, dir)
      a2.deleteWhere("BP", col("k") === 4L)
      assert(!rootFlat(path),
        "a cleanly released pin kept holding the superseded generation")
      // crashed-session story: a THIRD reader attaches (pin stamped),
      // then vanishes without close; its pin ages out after pinTtlMs and
      // stops holding generations
      val ghost = Catalog.load(spark, dir)
      assert(ghost.relvar("BP").count() === 26)
      // no ghost.close() — simulate a crash; make its pin stale
      spark.conf.set("spark.graft.catalog.pinTtlMs", "1")
      Thread.sleep(50)
      a2.deleteWhere("BP", col("k") === 5L)
      a2.deleteWhere("BP", col("k") === 6L)
      val gens = genDirs(path).map(_.stripPrefix("_gen-").toInt)
      assert(gens.max - gens.min <= 1,
        s"a STALE pin kept holding generations past its TTL: $gens")
      a2.close()
    } finally {
      spark.conf.unset("spark.graft.catalog.keepVersions")
      spark.conf.unset("spark.graft.catalog.pinTtlMs")
    }
  }

  test("insertBucketed never shuffles the history: the set-semantics " +
    "dedup narrows history to the delta's bucket keys with a broadcast " +
    "semi-join (bare bucketed scan, zero exchange) before the " +
    "all-attribute anti-join — shuffled records stay DELTA-scale however " +
    "large the relvar") {
    val cat = new Catalog(spark)
    val n = 20000L
    cat.defineBucketed("BIG", Rel.distinct(
      (1L to n).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 4)
    @volatile var shuffleRecords = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffleRecords += m.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    // at test size the planner would BROADCAST the history side of a
    // naive all-attribute anti-join and hide its scale cost; kill
    // auto-broadcast so the plan is the one a 100 TB relvar would get —
    // the explicit broadcast(dk) hint inside insertBucketed still applies
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 2 novel rows + 1 re-delivered: dedup work is real, not vacuous
      cat.insert("BIG", Rel.distinct(
        Seq((n + 1, "a"), (n + 2, "b"), (5L, "v5")).toDF("k", "v")))
      var last = -1L
      var spins = 0
      while (shuffleRecords != last && spins < 40) {
        last = shuffleRecords; spins += 1; Thread.sleep(100)
      }
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(shuffleRecords <= 100L,
      s"insertBucketed shuffled $shuffleRecords records on a $n-row " +
      "relvar — the history side re-entered an exchange")
    assert(cat.relvar("BIG").count() === n + 2)
    cat.close()
  }

  test("a plain write that drops the bucket binding does NOT orphan the " +
    "pin: archived attach versions keep re-stamping it on as-of reads, " +
    "so a rival's vacuum still honors them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-pinsurv").toString
    val seed = new Catalog(spark)
    seed.defineBucketed("PS", Rel.distinct(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 2)
    seed.save(dir)
    seed.close()
    val path = s"$dir/_bucketed/PS"
    def rootFlat: Boolean =
      new java.io.File(path).listFiles.toSeq
        .exists(f => f.isFile && f.getName.startsWith("part-"))
    val b = Catalog.load(spark, dir)
    // plain write: binding and bucket spec drop, but v1 (the attachment)
    // is ARCHIVED and still scans the shared layout's files
    b.define("PS", Rel.distinct(Seq((99L, "plain")).toDF("k", "v")))
    assert(b.relvarAt("PS", 1).count() === 30) // re-stamps the pin
    spark.conf.set("spark.graft.catalog.keepVersions", "1")
    try {
      val a = Catalog.load(spark, dir)
      (1 to 3).foreach(i => a.deleteWhere("PS", col("k") === i.toLong))
      assert(rootFlat,
        "rival vacuum reclaimed the generation an archived version reads")
      assert(b.relvarAt("PS", 1).count() === 30,
        "archived attach version lost its files after the binding dropped")
      a.close()
    } finally spark.conf.unset("spark.graft.catalog.keepVersions")
    b.close()
    assert(!new java.io.File(s"$path/_pins").exists() ||
      new java.io.File(s"$path/_pins").listFiles.count(
        _.getName.endsWith(".pin")) === 0,
      "close left a pin file behind after the binding dropped")
  }

  test("crash-atomic bucketed ingest: an insert killed between file " +
    "lands is INVISIBLE — a fresh attach serves the pre-insert set " +
    "exactly — and re-delivering the same insert commits exactly once") {
    import graft.sources.BucketedStore
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-crash").toString
    val seed = new Catalog(spark)
    seed.defineBucketed("CA", Rel.distinct(
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 4)
    seed.save(dir)
    seed.close()
    val lay = s"$dir/_bucketed/CA"
    val fs = new org.apache.hadoop.fs.Path(lay)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rootNames: Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(lay))
        .map(_.getPath.getName).toSet
    val delta = Seq((21L, "a"), (22L, "b"), (23L, "c")).toDF("k", "v")

    // CRASH WINDOW 1: killed after staging, BEFORE the intent marker —
    // the staged files were never visible; heal just drops them
    BucketedStore.write(delta, s"$lay/_stage-crash0", Seq("k"), 4)
    val c1 = Catalog.load(spark, dir)
    assert(c1.relvar("CA").count() === 20)
    assert(!rootNames.exists(_.startsWith("_stage-")),
      "attach left the pre-marker staging debris")
    c1.close()

    // CRASH WINDOW 2: killed BETWEEN file lands — stage written, intent
    // marker committed, ONE of the delta's files already moved into the
    // live generation (this is the window the old in-place INSERT served
    // as a partial delta forever)
    BucketedStore.write(delta, s"$lay/_stage-crash1", Seq("k"), 4)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(s"$lay/_stage-crash1"))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.getName).toSeq.sorted
    assert(staged.size >= 2, s"need a multi-file delta to crash between lands: $staged")
    BucketedStore.writeMeta(spark, lay, "_append-crash1.json",
      s"""{"gen":0,"files":[${staged.map(graft.types.Json.str).mkString(",")}]}""")
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$lay/_stage-crash1/${staged.head}"),
      new org.apache.hadoop.fs.Path(s"$lay/${staged.head}")),
      "test setup: partial move failed")
    // a fresh attach sees the PRE-INSERT set exactly, not the partial delta
    val c2 = Catalog.load(spark, dir)
    assert(c2.relvar("CA").count() === 20,
      "fresh attach served a crashed insert's partial delta")
    assert(!rootNames.exists(n =>
      n.startsWith("_stage-") || n.startsWith("_append-")),
      s"heal left crash debris: $rootNames")
    // RE-DELIVERY of the same insert commits exactly once
    c2.insert("CA", Rel.distinct(delta))
    assert(c2.relvar("CA").count() === 23)
    assert(c2.relvar("CA").where(col("k") >= 21L).count() === 3)
    // and a second re-delivery is idempotent (set semantics)
    c2.insert("CA", Rel.distinct(delta))
    assert(c2.relvar("CA").count() === 23,
      "re-delivered insert double-committed")
    c2.close()
  }

  test("insertBucketed BOUNDS the delta-key broadcast: past " +
    "spark.graft.catalog.insertBroadcastBytes the hint drops and the " +
    "dedup degrades to a shuffled semi-join — identical results, never " +
    "a corpus-sized driver broadcast on a bulk backfill") {
    val cat = new Catalog(spark)
    val n = 20000L
    cat.defineBucketed("BIGF", Rel.distinct(
      (1L to n).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 4)
    @volatile var shuffleRecords = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffleRecords += m.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // force EVERY delta over the bound: the explicit broadcast(dk) hint
    // must drop, leaving the planner's shuffled semi-join
    spark.conf.set("spark.graft.catalog.insertBroadcastBytes", "1")
    try {
      cat.insert("BIGF", Rel.distinct(
        Seq((n + 1, "a"), (n + 2, "b"), (5L, "v5")).toDF("k", "v")))
      var last = -1L
      var spins = 0
      while (shuffleRecords != last && spins < 40) {
        last = shuffleRecords; spins += 1; Thread.sleep(100)
      }
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.graft.catalog.insertBroadcastBytes")
      spark.sparkContext.removeSparkListener(listener)
    }
    // the fallback PLAN is observable as the history keys re-entering an
    // exchange (the broadcast path's pinned contract is ≤100 records)
    assert(shuffleRecords > 1000L,
      s"only $shuffleRecords records shuffled — the forced-low bound did " +
      "not drop the broadcast hint")
    // and the RESULTS are identical to the broadcast path's
    assert(cat.relvar("BIGF").count() === n + 2)
    assert(cat.relvar("BIGF").where(col("k") === (n + 1)).count() === 1)
    assert(cat.relvar("BIGF").where(col("k") === 5L).count() === 1,
      "re-delivered row double-inserted on the fallback path")
    cat.close()
  }

  test("shared-layout inserts from two catalogs stay set-semantic: the " +
    "dedup anti-join runs against the current ON-DISK listing under the " +
    "lease, so a row a rival session already landed is never re-inserted " +
    "and every reader converges on the exact union") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-share").toString
    val seed = new Catalog(spark)
    seed.defineBucketed("SH", Rel.distinct(
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 2)
    seed.save(dir)
    seed.close()
    val a = Catalog.load(spark, dir)
    val b = Catalog.load(spark, dir) // attached BEFORE a's insert commits
    a.insert("SH", Rel.distinct(Seq((100L, "x"), (101L, "ya")).toDF("k", "v")))
    // b's attached plan predates a's delta; its insert re-delivers (100,x)
    b.insert("SH", Rel.distinct(Seq((100L, "x"), (102L, "zb")).toDF("k", "v")))
    // b converged on the union with NO duplicate (100,x)
    val bRows = b.relvar("SH").df.collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(bRows.length === 13 && bRows.toSet.size === 13,
      s"shared layout double-inserted: ${bRows.sorted.toSeq}")
    // the next session's fresh attach sees exactly the union too
    val c = Catalog.load(spark, dir)
    assert(c.relvar("SH").count() === 13)
    a.close(); b.close(); c.close()
  }

  test("a mutated attach-loaded layout round-trips: a fresh load attaches " +
    "the CURRENT generation (never the superseded flat gen-0 files), the " +
    "zero-Exchange contract holds on it, and re-saving to a NEW dir " +
    "rebuilds a standalone layout that loads back whole") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-rt").toString
    val seed = new Catalog(spark)
    seed.defineBucketed("RT", Rel.distinct(
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 2)
    seed.save(dir)
    seed.close()
    val cat = Catalog.load(spark, dir)
    cat.deleteWhere("RT", col("k") <= 5L)                     // _gen-1
    cat.updateWhere("RT", col("k") === 6L, "v" -> lit("u6"))  // _gen-2
    // a second session loading the same dir sees the mutated state
    val cat2 = Catalog.load(spark, dir)
    assert(cat2.relvar("RT").count() === 15)
    assert(cat2.relvar("RT").df.where(col("v") === "u6").count() === 1)
    assert(cat2.relvar("RT").df.where(col("k") <= 5L).count() === 0,
      "fresh load served the superseded flat generation")
    val l = cat2.relvar("RT").df.select(col("k"), col("v").as("v1"))
    val r = cat2.relvar("RT").df.select(col("k"), col("v").as("v2"))
    val p = l.hint("merge").join(r, "k").queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("Exchange"),
      s"fresh attach of the mutated generation lost the bucket spec:\n${p.take(2000)}")
    // re-save to a DIFFERENT dir: the bound-path skip must not fire; the
    // new dir gets a standalone layout that loads back whole
    val dir2 = java.nio.file.Files.createTempDirectory("graft-cat-rt2").toString
    cat2.save(dir2)
    val cat3 = Catalog.load(spark, dir2)
    assert(cat3.relvar("RT").count() === 15)
    assert(cat3.relvar("RT").df.where(col("v") === "u6").count() === 1)
    cat3.close(); cat2.close(); cat.close()
  }

  test("layoutStats + maintainLayout: delta inserts fragment the layout, " +
    "the policy fold brings it back to one file per bucket WITHOUT a " +
    "version bump (physical fold, identical content), archived versions " +
    "keep their pinned generations, and a healthy layout is left alone") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-mnt").toString
    val seed = new Catalog(spark)
    seed.defineBucketed("BM", Rel.distinct(
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 2)
    seed.save(dir)
    seed.close()
    val cat = Catalog.load(spark, dir)
    // three delta appends → up to 4 files per bucket
    (1 to 3).foreach(i => cat.insert("BM", Rel.distinct(
      Seq((100L + i, s"d$i")).toDF("k", "v"))))
    val fragged = cat.layoutStats("BM")
    assert(fragged.maxFilesPerBucket > 2,
      s"test setup did not fragment: $fragged")
    // healthy budget: nothing folds
    assert(!cat.maintainLayout("BM", maxFilesPerBucket = 8))
    val vBefore = cat.version("BM")
    assert(cat.maintainLayout("BM", maxFilesPerBucket = 2))
    assert(cat.version("BM") === vBefore,
      "a physical fold must not bump the version")
    val after = cat.layoutStats("BM")
    assert(after.maxFilesPerBucket === 1 && after.gen === 1,
      s"fold did not de-fragment: $after")
    assert(cat.relvar("BM").count() === 23)
    // archived pre-insert version still serves its pinned generation
    assert(cat.relvarAt("BM", 1).count() === 20)
    // the fold kept the zero-Exchange contract
    val l = cat.relvar("BM").df.select(col("k"), col("v").as("v1"))
    val r = cat.relvar("BM").df.select(col("k"), col("v").as("v2"))
    val p = l.hint("merge").join(r, "k").queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("Exchange"),
      s"maintainLayout dropped the bucket spec:\n${p.take(2000)}")
    cat.close()
  }

  test("updateWhere resolves set-column names loud and Spark-style: a " +
    "typo'd set fails instead of rewriting nothing, a case-mismatched " +
    "set resolves (and a case-mismatched BUCKET-KEY set still re-clusters)") {
    val cat = new Catalog(spark)
    cat.defineBucketed("BRes", Rel.distinct(
      (1L to 8L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 2)
    val vBefore = cat.version("BRes")
    // typo'd set column: LOUD refusal, no rewrite, no version bump
    val e = intercept[IllegalArgumentException] {
      cat.updateWhere("BRes", col("k") === 1L, "vv" -> lit("x"))
    }
    assert(e.getMessage.contains("no column 'vv'"), e.getMessage)
    assert(cat.version("BRes") === vBefore,
      "a refused update still bumped the version")
    // two bindings landing on one column (here via a case variant) refuse
    // like SQL UPDATE, instead of silently applying only the first
    val e2 = intercept[IllegalArgumentException] {
      cat.updateWhere("BRes", col("k") === 1L,
        "v" -> lit("a"), "V" -> lit("b"))
    }
    assert(e2.getMessage.contains("assigned more than once"), e2.getMessage)
    assert(cat.version("BRes") === vBefore)
    // a set name with NO exact hit but TWO case-insensitive matches is
    // reported as AMBIGUOUS (Spark-style), distinctly from a plain miss
    val cat2 = new Catalog(spark)
    cat2.define("Amb", Rel.distinct(
      Seq((1L, "a", "b")).toDF("k", "val", "VAL")))
    val e3 = intercept[IllegalArgumentException] {
      cat2.updateWhere("Amb", col("k") === 1L, "Val" -> lit("x"))
    }
    assert(e3.getMessage.contains("ambiguous") &&
      e3.getMessage.contains("val") && e3.getMessage.contains("VAL"),
      e3.getMessage)
    cat2.close()
    // case-mismatched non-key set resolves like Spark name resolution
    cat.updateWhere("BRes", col("k") === 1L, "V" -> lit("upd"))
    assert(cat.relvar("BRes").where(col("v") === "upd").count() === 1,
      "case-insensitive set resolution lost the update")
    // case-mismatched BUCKET-KEY set is detected as a key move: rows
    // relocate correctly and the layout stays one file per bucket
    cat.updateWhere("BRes", col("k") <= 2L, "K" -> (col("k") + 100L))
    val got = cat.relvar("BRes").df.select("k").collect()
      .map(_.getLong(0)).toSet
    assert(got === ((3L to 8L) ++ Seq(101L, 102L)).toSet, got.toSeq.sorted)
    assert(cat.layoutStats("BRes").maxFilesPerBucket === 1,
      "case-mismatched key set skipped the re-cluster")
    cat.close()
  }

  test("saving a bucketed relvar to a new dir is an exchange-free layout " +
    "COPY (one partition per bucket in, one file per bucket out) — the " +
    "bucketing shuffle is never re-paid per save") {
    val cat = new Catalog(spark)
    cat.defineBucketed("BSave", Rel.distinct(
      (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")), Seq("k"), 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-sv0").toString
    @volatile var shuffleRecords = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffleRecords += m.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      cat.save(dir)
      var last = -1L
      var spins = 0
      while (shuffleRecords != last && spins < 40) {
        last = shuffleRecords; spins += 1; Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(shuffleRecords === 0L,
      s"save shuffled $shuffleRecords records — the layout copy re-paid " +
      "the bucketing shuffle")
    val st = graft.sources.BucketedStore.stats(spark, s"$dir/_bucketed/BSave")
    assert(st.maxFilesPerBucket === 1,
      s"saved layout not one file per bucket: $st")
    val back = Catalog.load(spark, dir)
    assert(back.relvar("BSave").count() === 400)
    back.close(); cat.close()
  }

  test("two-session mutation STRESS over one shared layout: interleaved " +
    "inserts and deletes with retry-on-conflict converge on the exact " +
    "expected set — no lost update, no duplicate, no torn generation") {
    import graft.sources.WriterLease
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-stress").toString
    val seedCat = new Catalog(spark)
    seedCat.defineBucketed("SX", Rel.distinct(
      (1L to 10L).map(i => (i, s"s$i")).toDF("k", "v")), Seq("k"), 2)
    seedCat.save(dir)
    seedCat.close()
    // thread t ∈ {0,1} owns key range 1000·(t+1)..: it inserts its own
    // keys and deletes a subset of its own earlier inserts, so the final
    // set is deterministic REGARDLESS of interleaving — the property under
    // test is that the lease + on-disk-listing discipline preserves it
    // through genuinely concurrent rewrites (conflicts retry)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def worker(t: Int): Thread = new Thread(() => {
      try {
        val cat = Catalog.load(spark, dir)
        val base = 1000L * (t + 1)
        def retry(op: () => Unit): Unit = {
          var done = false
          while (!done) {
            try { op(); done = true }
            catch { case _: WriterLease.LeaseConflictException =>
              conflicts.incrementAndGet(); Thread.sleep(20) }
          }
        }
        (0 until 5).foreach { i =>
          retry(() => cat.insert("SX", Rel.distinct(
            Seq((base + i, s"t$t-$i")).toDF("k", "v"))))
        }
        // delete inserts 0 and 1 of this thread's own range
        retry(() => cat.deleteWhere("SX",
          col("k") >= base && col("k") <= base + 1))
        cat.close()
      } catch { case e: Throwable => failures.add(e) }
    })
    val ws = Seq(worker(0), worker(1))
    ws.foreach(_.start()); ws.foreach(_.join())
    assert(failures.isEmpty, s"worker died: ${failures.peek()}")
    // expected: seed ∪ each thread's inserts 2..4
    val expect = (1L to 10L).toSet ++
      Set(1002L, 1003L, 1004L, 2002L, 2003L, 2004L)
    val check = Catalog.load(spark, dir)
    val got = check.relvar("SX").df.collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.map(_._1).toSet === expect,
      s"stress diverged (conflicts=${conflicts.get()}): " +
      s"${got.map(_._1).toSeq.sorted}")
    assert(got.length === got.toSet.size && got.length === expect.size,
      s"duplicates after stress: ${got.sorted.toSeq}")
    check.close()
  }

  test("bucket-key updates re-cluster ONCE and land de-fragmented: a " +
    "non-key update rewrites exchange-free with one file per bucket; a " +
    "key update moves rows across buckets, stays exact, and still lands " +
    "one file per bucket instead of file-per-(task x bucket)") {
    val cat = new Catalog(spark)
    val base = Rel.distinct(
      (1L to 40L).map(i => (i, i % 4, s"v$i")).toDF("k", "g", "v"))
    cat.defineBucketed("BKey", base, Seq("k"), 4)
    assert(cat.layoutStats("BKey").maxFilesPerBucket === 1)
    // non-key update: the when/otherwise select keeps the bucket-key
    // attribute, so the set-semantics dedup clusters on the stored
    // hash-partitioning — zero shuffle-write records across the rewrite
    @volatile var shuffleRecords = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffleRecords += m.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      cat.updateWhere("BKey", col("g") === 1, "v" -> lit("nk"))
      var last = -1L
      var spins = 0
      while (shuffleRecords != last && spins < 40) {
        last = shuffleRecords; spins += 1; Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(shuffleRecords === 0L,
      s"non-key update shuffled $shuffleRecords records — the dedup " +
      "stopped clustering on the stored bucketing")
    val nonKey = cat.layoutStats("BKey")
    assert(nonKey.maxFilesPerBucket === 1,
      s"non-key update fragmented the layout: $nonKey")
    // key update: rows 1..8 move to keys 101..108 — different buckets.
    // The rewrite re-clusters by the bucket keys once, so the relocated
    // rows land ONE file per bucket (the unguarded bucketed write would
    // emit a file per task x bucket)
    cat.updateWhere("BKey", col("k") <= 8L, "k" -> (col("k") + 100L))
    val keyUpd = cat.layoutStats("BKey")
    assert(keyUpd.maxFilesPerBucket === 1,
      s"key update re-fragmented the layout: $keyUpd")
    val got = cat.relvar("BKey").df.select("k").collect()
      .map(_.getLong(0)).toSet
    assert(got === ((9L to 40L) ++ (101L to 108L)).toSet,
      s"key update lost or duplicated rows: ${got.toSeq.sorted}")
    // k=1 (g=1) took the earlier non-key update, then moved to 101
    assert(cat.relvar("BKey").where(col("k") === 101L)
      .lift("v") === "nk", "moved row lost its non-key attributes")
    assert(cat.relvar("BKey").where(col("k") === 102L)
      .lift("v") === "v2", "moved row k=2 lost its value")
    // the spec survived the cross-bucket move: merge self-join, no Exchange
    val l = cat.relvar("BKey").df.select(col("k"), col("v").as("v1"))
    val r = cat.relvar("BKey").df.select(col("k"), col("v").as("v2"))
    val p = l.hint("merge").join(r, "k").queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("Exchange"),
      s"key update dropped the bucket spec:\n${p.take(2000)}")
    // a key update that COLLAPSES tuples keeps set semantics through the
    // re-cluster (dedup runs on the re-clustered rows)
    cat.defineBucketed("BKey2", Rel.distinct(
      Seq((1L, "a"), (2L, "a")).toDF("k", "v")), Seq("k"), 2)
    cat.updateWhere("BKey2", lit(true), "k" -> lit(7L))
    assert(cat.relvar("BKey2").count() === 1,
      "collapsing key update violated set semantics")
    cat.close()
  }

  // a relvar whose heading mixes non-nullable primitives with nested,
  // decimal and timestamp columns: the read-back must surface it as
  // inference would (all nullable), not as the in-memory frame had it
  private def mixedHeading(id: Long): Rel = Rel.distinct(
    Seq((id, id.toInt, Seq(id.toDouble), s"r$id")).toDF("id", "n", "xs", "s")
      .select(col("id"), col("n"), col("xs"), col("s"),
        struct(col("n"), col("s")).as("st"),
        col("n").cast("decimal(18,2)").as("d"),
        timestamp_seconds(col("id")).as("ts")))

  // the schema-inference job runs outside any SQL execution (a write's
  // jobs all carry an execution id), so it is the one non-SQL job here
  private def nonSqlJobs(jobs: Seq[org.apache.spark.scheduler.SparkListenerJobStart]) =
    jobs.filter(j => Option(j.properties)
      .forall(_.getProperty("spark.sql.execution.id") == null))

  private def readBackRoot(r: Rel): String =
    new org.apache.hadoop.fs.Path(r.df.inputFiles.head).getParent.toString

  test("cadence snapshot reads back under the written heading: schema " +
    "equals a fresh inferring read, and the read-back launches no job") {
    val cat = new Catalog(spark)
    cat.define("M", mixedHeading(0))
    val cadence = spark.conf.getOption("spark.graft.catalog.materializeEvery")
      .map(_.toInt).getOrElse(8)
    (1 until cadence - 1).foreach(i => cat.insert("M", mixedHeading(i)))
    val (_, jobs) = jobsDuring(cat.insert("M", mixedHeading(cadence - 1)))
    assert(cat.version("M") === cadence)
    val snap = readBackRoot(cat.relvar("M"))
    assert(snap.endsWith(s"v$cadence.parquet"),
      s"version $cadence is not a snapshot read: $snap")
    assert(cat.relvar("M").df.schema === spark.read.parquet(snap).schema)
    assert(nonSqlJobs(jobs).isEmpty,
      s"the snapshot read-back launched ${nonSqlJobs(jobs).size} inference job(s)")
    assert(cat.relvar("M").count() === cadence)
  }

  test("save rebinds each relvar to its file under the written heading: " +
    "schema equals a fresh inferring read, and the rebind launches no job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_rebind").toString
    val cat = new Catalog(spark)
    cat.define("A", mixedHeading(1))
    cat.define("B", S)
    val (_, jobs) = jobsDuring(cat.save(dir))
    Seq("A", "B").foreach { n =>
      assert(readBackRoot(cat.relvar(n)).endsWith(s"$n.parquet"))
      assert(cat.relvar(n).df.schema ===
        spark.read.parquet(s"$dir/$n.parquet").schema, n)
    }
    assert(nonSqlJobs(jobs).isEmpty,
      s"the save rebind launched ${nonSqlJobs(jobs).size} inference job(s)")
    assert(cat.relvar("B").relEquals(S))
  }
}

/** Test-only Hadoop filesystem on a scheme Spark has no default binding
  * for: RawLocalFileSystem re-rooted at `mockfs://` — any code path that
  * bypasses the Hadoop FS API (java.nio writes) misses it and the spec's
  * location assertions fail. */
class MockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}
