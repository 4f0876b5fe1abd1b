package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.HttpGateway

/** Integration test for the HTTP gateway: a REAL localhost round trip over
  * jdk.httpserver + java.net.http, driving the reference's Gateway verb set
  * (Andl.Gateway/Gateway.cs:32-102) end to end — define relvar over the
  * wire, run a script against it, read the result back — the
  * Readme.txt:81-98 Workbench workflow minus the UI. */
class HttpGatewaySpec extends SparkSpec {

  private val mapper = new ObjectMapper
  private lazy val gw = { val g = new HttpGateway(spark); g.start(); g }
  private lazy val base = s"http://127.0.0.1:${gw.boundPort}/api"
  private lazy val http = HttpClient.newHttpClient()

  private def send(method: String, path: String, body: String = ""): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"$base$path"))
    val req = (method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, BodyPublishers.ofString(body))
    }).build()
    val r = http.send(req, BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("wire round trip: PUT relvar -> POST script -> GET result, " +
    "plus Evaluate, entry info, CloseSession and loud errors") {
    // SetValue: the S suppliers over the wire as a JSON row array
    val sJson = """[
      {"S#":"S1","SNAME":"Smith","STATUS":20,"CITY":"London"},
      {"S#":"S2","SNAME":"Jones","STATUS":10,"CITY":"Paris"},
      {"S#":"S3","SNAME":"Blake","STATUS":30,"CITY":"Paris"},
      {"S#":"S4","SNAME":"Clark","STATUS":20,"CITY":"London"},
      {"S#":"S5","SNAME":"Adams","STATUS":30,"CITY":"Athens"}]"""
    val (pc, pb) = send("PUT", "/db1/S", sJson)
    assert(pc === 200, pb)

    // RunScript: derive a relvar from it and emit some output
    val script =
      """high := S .where(STATUS >= 20) .select{ SNAME, STATUS }
        |def double(n:number) => n * 2
        |write('script done')
        |""".stripMargin
    val (rc, rb) = send("POST", "/db1", script)
    assert(rc === 200, rb)
    assert(mapper.readTree(rb).get("output").asText().contains("script done"))

    // GetValue: the derived relvar back as JSON rows
    val (gc, gb) = send("GET", "/db1/high")
    assert(gc === 200, gb)
    val rows = mapper.readTree(gb)
    assert(rows.isArray && rows.size === 4, gb)
    val names = (0 until rows.size).map(i => rows.get(i).get("SNAME").asText()).toSet
    assert(names === Set("Smith", "Blake", "Clark", "Adams"))

    // Evaluate: call the stored function with JSON args
    val (ec, eb) = send("POST", "/db1/double", "[21]")
    assert(ec === 200, eb)
    assert(mapper.readTree(eb).get("value").asText() === "42")

    // entry info: both relvars visible
    val (lc, lb) = send("GET", "/db1")
    assert(lc === 200, lb)
    assert(lb.contains("\"S\"") && lb.contains("\"high\""))

    // schema-driven SetValue round trip: replacing an existing relvar
    // parses with ITS schema, so the reread is exact
    val (p2c, _) = send("PUT", "/db1/high", gb)
    assert(p2c === 200)
    assert(send("GET", "/db1/high")._2.length === gb.length)

    // loud errors: unknown relvar, bad script, bad args
    assert(send("GET", "/db1/nope")._1 === 400)
    assert(send("POST", "/db1", "this is not andl ::=")._1 === 400)
    assert(send("POST", "/db1/double", """{"not":"array"}""")._1 === 400)
    assert(send("PATCH", "/db1")._1 === 404)

    // databases are isolated sessions
    assert(!send("GET", "/db2")._2.contains("high"))

    // CloseSession drops the state; next touch is a fresh session
    assert(send("DELETE", "/db1")._1 === 200)
    assert(send("GET", "/db1/high")._1 === 400)

    // concurrent scripts to ONE database must serialize on the
    // interpreter (the env is single-threaded state): 20 parallel
    // increments may not lose updates
    assert(send("POST", "/dbc", "n := 0")._1 === 200)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 20).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = send("POST", "/dbc", "n := n + 1")._1
        })
      }
      assert(futures.map(_.get()).forall(_ === 200))
    } finally pool.shutdown()
    val (nc, nb) = send("POST", "/dbc", "write(n)")
    assert(nc === 200, nb)
    assert(mapper.readTree(nb).get("output").asText().trim === "20",
      s"lost updates under concurrency: $nb")
  }

  test("two databases with OPPOSITE decimal modes serve concurrently: " +
    "each request computes in its own numeric domain") {
    import graft.lang.AndlInterp
    val g = new HttpGateway(spark, modes = Map(
      "dec" -> AndlInterp.Modes(decimalNumbers = true, collation = None),
      "dbl" -> AndlInterp.Modes(decimalNumbers = false, collation = None)))
    g.start()
    try {
      val b2 = s"http://127.0.0.1:${g.boundPort}/api"
      def post(db: String, script: String): (Int, String) = {
        val req = HttpRequest.newBuilder(URI.create(s"$b2/$db"))
          .method("POST", BodyPublishers.ofString(script)).build()
        val r = http.send(req, BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // 100 × 0.1 summed on the engine: exact 10 in the decimal domain,
      // float drift in the double domain — the fingerprint of each mode
      val script = "write(seq(100) .select{ (fold(+, 0.1)) })"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futures = (1 to 16).map { i =>
          val db = if (i % 2 == 0) "dec" else "dbl"
          db -> pool.submit(new java.util.concurrent.Callable[(Int, String)] {
            def call(): (Int, String) = post(db, script)
          })
        }
        val results = futures.map { case (db, f) => db -> f.get() }
        assert(results.forall(_._2._1 == 200), results.toString)
        def out(body: String): Double =
          mapper.readTree(body).get("output").asText().trim.toDouble
        results.foreach {
          case ("dec", (_, body)) =>
            assert(out(body) === 10.0, s"decimal db drifted: $body")
          case (_, (_, body)) =>
            val v = out(body)
            assert(v !== 10.0, s"double db was exact — mode leaked: $body")
            assert(math.abs(v - 10.0) < 1e-9, body)
        }
      } finally pool.shutdown()
      // Evaluate rejects a path segment that is not an identifier — it is
      // interpolated into Andl source and must never execute as script
      val evalReq = HttpRequest.newBuilder(
          URIBuilder(s"$b2/dec/x)%20write(1")) // "x) write(1" url-encoded
        .method("POST", BodyPublishers.ofString("[]")).build()
      val er = http.send(evalReq, BodyHandlers.ofString())
      assert(er.statusCode() === 400 &&
        er.body().contains("not an Andl identifier"), er.body())
    } finally g.stop()
  }

  test("concurrent relvar MUTATIONS over one database interleave without " +
    "loss: parallel insert (update R union) and delete (update .where " +
    ".select{}) verbs from many clients converge on the exact final set, " +
    "duplicates stay set-semantic, and a failed script mutates nothing") {
    val g = new HttpGateway(spark)
    g.start()
    try {
      val b2 = s"http://127.0.0.1:${g.boundPort}/api"
      def wire(method: String, path: String, body: String = ""): (Int, String) = {
        val b = HttpRequest.newBuilder(URI.create(s"$b2$path"))
        val req = (method match {
          case "GET" => b.GET()
          case m => b.method(m, BodyPublishers.ofString(body))
        }).build()
        val r = http.send(req, BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // seed rows 1..20 over the wire
      val seed = (1 to 20).map(i => s"""{"k":$i,"v":"s$i"}""")
        .mkString("[", ",", "]")
      assert(wire("PUT", "/dbm/R", seed)._1 === 200)
      // 8 inserters (distinct rows), 8 deleters (distinct seed rows), and
      // TWO rivals inserting the SAME row — all in flight together
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val scripts =
          (1 to 8).map(i => s"update R union {{ k:=${100 + i}, v:='n${100 + i}' }}") ++
          (1 to 8).map(i => s"update R .where(k = $i) .select{}") ++
          Seq("update R union {{ k:=500, v:='dup' }}",
              "update R union {{ k:=500, v:='dup' }}")
        val futures = scripts.map { s =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int = wire("POST", "/dbm", s)._1
          })
        }
        assert(futures.map(_.get()).forall(_ === 200), "a mutation verb failed")
      } finally pool.shutdown()
      // a FAILED script (unknown relvar) must not have torn anything
      assert(wire("POST", "/dbm", "update NOPE union {{ k:=1, v:='x' }}")._1 === 400)
      val (gc, gb) = wire("GET", "/dbm/R")
      assert(gc === 200, gb)
      val rows = mapper.readTree(gb)
      val ks = (0 until rows.size).map(i => rows.get(i).get("k").asLong())
      assert(ks.toSet === ((9 to 20).map(_.toLong) ++
        (101 to 108).map(_.toLong) ++ Seq(500L)).toSet,
        s"interleaved verbs lost or invented rows: ${ks.sorted}")
      assert(ks.distinct.length === ks.length,
        s"rival same-row inserts broke set semantics: ${ks.sorted}")
    } finally g.stop()
  }

  test("JSON edge no-NULL discipline: PUT with null/missing fields lands " +
    "type defaults (never NULL), and script update-set / delete over the " +
    "wire keep the q_update_null contract — no silent row loss") {
    val g = new HttpGateway(spark)
    g.start()
    try {
      val b2 = s"http://127.0.0.1:${g.boundPort}/api"
      def wire(method: String, path: String, body: String = ""): (Int, String) = {
        val b = HttpRequest.newBuilder(URI.create(s"$b2$path"))
        val req = (method match {
          case "GET" => b.GET()
          case m => b.method(m, BodyPublishers.ofString(body))
        }).build()
        val r = http.send(req, BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // k=2 carries an EXPLICIT null, k=3 is MISSING the field entirely —
      // the two inlet shapes the SQL JSON codec turns into real NULLs
      val put = """[{"k":1,"v":10.5,"tag":"a"},
                   |{"k":2,"v":null,"tag":"b"},
                   |{"k":3,"tag":"c"}]""".stripMargin
      assert(wire("PUT", "/dbn/R", put)._1 === 200)
      val rows = mapper.readTree(wire("GET", "/dbn/R")._2)
      assert(rows.size === 3)
      val byK = (0 until rows.size).map(i => rows.get(i))
        .map(r => r.get("k").asLong() -> r).toMap
      byK.values.foreach { r =>
        assert(r.has("v") && !r.get("v").isNull,
          s"NULL leaked through the JSON edge: $r")
      }
      assert(byK(2L).get("v").asDouble() === 0.0, "explicit null -> type default")
      assert(byK(3L).get("v").asDouble() === 0.0, "missing field -> type default")
      assert(byK(1L).get("v").asDouble() === 10.5)
      // update-set over the wire: only v>5 rows change; NOTHING is lost
      assert(wire("POST", "/dbn",
        "update R .where(v > 5) .select{ tag := 'hit' }")._1 === 200)
      val after = mapper.readTree(wire("GET", "/dbn/R")._2)
      assert(after.size === 3, "update-set dropped rows at the gateway edge")
      val tags = (0 until after.size).map(i =>
        after.get(i).get("k").asLong() -> after.get(i).get("tag").asText()).toMap
      assert(tags === Map(1L -> "hit", 2L -> "b", 3L -> "c"))
      // delete over the wire: only v>5 rows go; the defaulted rows survive
      assert(wire("POST", "/dbn",
        "update R .where(v > 5) .select{}")._1 === 200)
      val left = mapper.readTree(wire("GET", "/dbn/R")._2)
      val leftK = (0 until left.size).map(i => left.get(i).get("k").asLong()).toSet
      assert(leftK === Set(2L, 3L), s"delete over the wire diverged: $leftK")
    } finally g.stop()
  }

  test("interpreter NULL-predicate defense (inlet bypassed): a relvar " +
    "holding real NULLs updates/deletes with the SQL contract — NULL-pred " +
    "rows kept unchanged on update, never deleted on delete") {
    import graft.lang.AndlInterp
    import org.apache.spark.sql.functions._
    // inject NULLs BELOW the gateway edge (defineRelvar takes any engine
    // DataFrame) — the interpreter must defend on its own, same contract
    // as Catalog.updateWhere/deleteWhere (q_update_null)
    val df = {
      import spark.implicits._
      Seq((1.0, Some(10.0), "a"), (2.0, None, "b"), (3.0, Some(2.0), "c"))
        .toDF("k", "v", "tag")
    }
    val upd = new AndlInterp(spark, ".")
    upd.defineRelvar("R", df)
    upd.run("update R .where(v > 5) .select{ tag := 'hit' }", "nulltest")
    val afterUpd = upd.relvar("R").collect()
      .map(r => r.getDouble(r.fieldIndex("k")) -> r.getString(r.fieldIndex("tag"))).toMap
    assert(afterUpd === Map(1.0 -> "hit", 2.0 -> "b", 3.0 -> "c"),
      s"NULL-predicate row lost or changed on update: $afterUpd")
    val del = new AndlInterp(spark, ".")
    del.defineRelvar("R", df)
    del.run("update R .where(v > 5) .select{}", "nulltest")
    val afterDel = del.relvar("R").select("k").collect().map(_.getDouble(0)).toSet
    assert(afterDel === Set(2.0, 3.0),
      s"NULL-predicate row deleted (or survivor dropped): $afterDel")
  }

  test("interpreter update-sets keep a bounded plan: 8 update-sets on a " +
    "parquet-backed relvar leave one scan in its optimized plan") {
    import graft.lang.AndlInterp
    // parquet, not a local frame: Catalyst folds filters over a
    // LocalRelation, which would hide a plan that doubles per update
    val path = java.nio.file.Files.createTempDirectory("graft-upd-plan")
      .resolve("r.parquet").toString
    spark.range(64).selectExpr("id AS k", "id % 8 AS c", "CAST(id AS DOUBLE) AS v")
      .write.parquet(path)
    val in = new AndlInterp(spark, ".")
    in.defineRelvar("R", spark.read.parquet(path))
    (0 until 8).foreach(c =>
      in.run(s"update R .where(c = $c) .select{ *v := v + 1 }", "plantest"))
    val r = in.relvar("R")
    val leaves = r.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves === 1, s"8 update-sets left $leaves plan leaves")
    val got = r.collect().map(x => x.getDouble(x.fieldIndex("k")) ->
      x.getDouble(x.fieldIndex("v"))).toMap
    assert(got === (0 until 64).map(k => k.toDouble -> (k + 1.0)).toMap)
  }

  test("HTTP edge: GET /api replies without the Nagle/delayed-ACK stall " +
    "(median warm round trip under 15 ms)") {
    // GET /api does no interpreter or Spark work, so its round trip is the
    // HTTP edge alone; a reply whose body waits on the client's delayed
    // ACK of the headers takes ~45 ms instead of ~2 ms
    val g = new HttpGateway(spark)
    g.start()
    try {
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${g.boundPort}/api")).GET().build()
      def roundTripMs(): Double = {
        val t0 = System.nanoTime()
        val r = http.send(req, BodyHandlers.ofString())
        assert(r.statusCode() === 200, r.body())
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 5).foreach(_ => roundTripMs())
      val ms = (1 to 20).map(_ => roundTripMs()).sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 15.0,
        f"GET /api median $median%.1f ms: ${ms.map(m => f"$m%.1f").mkString(" ")}")
    } finally g.stop()
  }

  test("stop() releases the worker pool: no graft-http- thread outlives it") {
    import scala.jdk.CollectionConverters._
    val g = new HttpGateway(spark)
    g.start()
    val r = http.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${g.boundPort}/api")).GET().build(),
      BodyHandlers.ofString())
    assert(r.statusCode() === 200, r.body())
    def workers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-http-"))
    assert(workers.nonEmpty, "the request ran on no graft-http- worker")
    g.stop()
    val alive = workers
    assert(alive.isEmpty, s"worker threads outlived stop(): ${alive.map(_.getName)}")
  }

  private def URIBuilder(s: String): URI = URI.create(s)

  override def withFixture(test: NoArgTest) = {
    try super.withFixture(test)
    finally if (test.name.startsWith("wire round trip")) gw.stop()
  }
}
