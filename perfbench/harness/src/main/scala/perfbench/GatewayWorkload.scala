package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.time.Duration
import java.util.concurrent.{Callable, Executors}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import graft.api.HttpGateway

/** One generated request. `verb` names the operation for per-verb
  * latency; `write` marks the writes. */
final case class Req(verb: String, method: String, path: String, body: String) {
  def write: Boolean = Req.writes(verb)
}

object Req {
  val verbs: Seq[String] = Seq("get", "eval", "put", "reload", "script",
    "update_set", "insert", "delete")
  private val writes = Set("put", "reload", "update_set", "insert", "delete")
}

/** The generated traffic: per client, its set-up requests and its cycles.
  * Every cycle starts by reloading the client's `orders` slice. The probe
  * set-up and cycle are for [[Probes]], on a database of their own. */
final case class Traffic(setup: IndexedSeq[IndexedSeq[Req]],
                         cycles: IndexedSeq[IndexedSeq[IndexedSeq[Req]]],
                         probeSetup: IndexedSeq[Req], probeCycle: IndexedSeq[Req])

object Traffic {
  private def reqs(n: JsonNode): IndexedSeq[Req] =
    n.elements().asScala.map(r => Req(r.get("verb").asText, r.get("method").asText,
      r.get("path").asText, r.get("body").asText)).toIndexedSeq

  def load(path: String): Traffic = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    Traffic(
      root.get("setup").elements().asScala.map(reqs).toIndexedSeq,
      root.get("cycles").elements().asScala
        .map(c => c.elements().asScala.map(reqs).toIndexedSeq).toIndexedSeq,
      reqs(root.get("probe").get("setup")), reqs(root.get("probe").get("cycle")))
  }
}

/** A reply's latency, tagged with its request's verb. */
final case class Lat(verb: String, write: Boolean, ms: Double)

object Lat {
  /** The `api.*` per-layer metrics: p50 per verb, of reads and of writes. */
  def perVerb(lat: Seq[Lat]): Seq[(String, Double)] = {
    def p50(f: Lat => Boolean) = Stats.median(lat.filter(f).map(_.ms))
    Req.verbs.map(v => s"api.${v}_ms" -> p50(_.verb == v)) ++ Seq(
      "api.read_p50_ms" -> p50(!_.write), "api.write_p50_ms" -> p50(_.write))
  }
}

/** A small HTTP client with a timeout on every request. */
final class Client(base: String) {
  private val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  def send(r: Req): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + r.path))
      .timeout(Duration.ofSeconds(60))
    val req = r.method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, BodyPublishers.ofString(r.body))
    }
    val resp = http.send(req.build(), BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
}

/** A closed loop of clients, each with its own database on one in-process
  * [[HttpGateway]] over loopback; a client sends its next request only
  * after the previous reply. A round is one cycle per client, run side by
  * side; rounds are separated so the heap can be sampled between them.
  * Every reply is logged for run.py to check against its reply model. */
final class GatewayWorkload(spark: SparkSession, a: Args, report: Report) {
  private val traffic = Traffic.load(a.requests)
  private val nClients = traffic.setup.size
  private val gw = new HttpGateway(spark)
  gw.start()
  private val clients = (0 until nClients).map(_ =>
    new Client(s"http://127.0.0.1:${gw.boundPort}/api"))
  private val pool = Executors.newFixedThreadPool(nClients)
  private val log = new java.io.PrintWriter(s"${a.work}/replies.jsonl", "UTF-8")
  private val spans = new Spans(a.trace)


  /** Sends `reqs` in order from client `c`; `tag` names them in the log. */
  private def sequence(c: Int, tag: String, reqs: Seq[Req]): Seq[Lat] =
    reqs.zipWithIndex.flatMap { case (r, i) =>
      report.synchronized(report.attempted += 1)
      val t0 = System.nanoTime()
      try {
        val (status, body) = spans(s"request:${r.verb}")(clients(c).send(r))
        val ms = (System.nanoTime() - t0) / 1e6
        log.synchronized {
          log.println(s"""{"client":$c,"tag":${graft.types.Json.str(tag)},"i":$i,""" +
            f""""verb":"${r.verb}","ms":$ms%.1f,"status":$status,""" +
            s""""body":${graft.types.Json.str(body)}}""")
        }
        Some(Lat(r.verb, r.write, ms))
      } catch {
        case e: Throwable => report.fail(s"client $c $tag #$i ${r.verb}", e); None
      }
    }

  /** Runs `f(c)` for every client side by side; wall seconds and results. */
  private def together[A](f: Int => A): (Double, Seq[A]) = {
    val t0 = System.nanoTime()
    val fs = (0 until nClients).map(c => pool.submit(new Callable[A] { def call(): A = f(c) }))
    val out = fs.map(_.get())
    (Stats.seconds(t0, System.nanoTime()), out)
  }

  private def setupOnce(rep: Int): Double =
    together { c =>
      val fresh = Req("close", "DELETE", s"/c$c", "")
      sequence(c, s"setup$rep", fresh +: traffic.setup(c))
    }._1

  /** Client `c` runs its `k`-th cycle (wrapping); seconds and latencies. */
  private def cycle(c: Int, k: Int): (Double, Seq[Lat]) = {
    val cyc = traffic.cycles(c)
    val t0 = System.nanoTime()
    val lats = spans(s"cycle:c$c")(sequence(c, s"cycle${k % cyc.size}", cyc(k % cyc.size)))
    (Stats.seconds(t0, System.nanoTime()), lats)
  }

  /** Every client runs cycles back to back from its `first`-th until
    * `seconds` have passed and it has run `least`, finishing the cycle it
    * is in; returns every client's cycles. */
  private def closedLoop(first: Int, seconds: Double,
                         least: Int): Seq[Seq[(Double, Seq[Lat])]] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val (s, perClient) = together { c =>
      val out = mutable.ArrayBuffer.empty[(Double, Seq[Lat])]
      while (out.size < least || System.nanoTime() < deadline) out += cycle(c, first + out.size)
      out.toSeq
    }
    Main.log(f"loop from cycle $first: $s%.2f s, cycles " +
      perClient.map(_.map(x => f"${x._1}%.2f").mkString("/")).mkString(" "))
    perClient
  }

  def run(): Unit = {
    try {
      val setups = (1 to 3).map(setupOnce)
      Main.log(s"setup ${setups.mkString(" ")} s")
      val heap = mutable.ArrayBuffer.empty[Double]
      val (_, cold) = together(c => cycle(c, 0))
      heap += Stats.liveHeapMb()
      // untimed warm-up: cycle times fall by a third over the first few
      // warm cycles while the JIT compiles, as in the batch workload
      val warmup = closedLoop(1, a.seconds * Main.warmShare, 1)
      val first = 1 + warmup.map(_.size).max
      val perClient = closedLoop(first, a.seconds * (1 - Main.warmShare), 2)
      heap += Stats.liveHeapMb()
      val warm = perClient.flatten
      val lat = warm.flatMap(_._2)
      val cycleS = Stats.median(warm.map(_._1))
      report.endToEnd ++= Seq(
        "setup_s" -> Stats.median(setups),
        "cold_s" -> Stats.median(cold.map(_._1)),
        "pass_s" -> cycleS,
        "op_gmean_ms" -> Stats.geomean(lat.map(_.ms)),
        // closed loop: each client's requests over its own busy time
        "ops_per_s" -> perClient.map(cs => cs.map(_._2.size).sum / cs.map(_._1).sum).sum,
        "peak_heap_mb" -> heap.max)
      if (a.trace) traced(lat, cycleS, first + perClient.map(_.size).max)
    } finally {
      log.close()
      pool.shutdownNow()
      gw.stop()
    }
  }

  /** Per-verb latency from the untraced loop, then one cycle per client
    * with the listeners attached for the Spark and Catalyst numbers.
    * The untraced cycles just before and after it give the tracing
    * overhead, so the warming trend cancels. */
  private def traced(lat: Seq[Lat], untracedBefore: Double, k0: Int): Unit = {
    def cycleS(k: Int) = Stats.median(together(c => cycle(c, k))._2.map(_._1))
    report.perLayer ++= Lat.perVerb(lat)
    val layers = new Layers(spark)
    val sc = spark.sparkContext
    layers.attach()
    val pinsBefore = sc.getPersistentRDDs.size
    val before = layers.snapshot()
    val t0 = System.currentTimeMillis()
    val (_, cycles) = together(c => cycle(c, k0))
    val total = Layers.windowed(Layers.delta(before, layers.snapshot()), t0,
      System.currentTimeMillis())
    layers.detach()
    val untracedAfter = cycleS(k0 + 1)
    // per client cycle, like the end-to-end pass_s
    report.perLayer("rel.pins_left") = (sc.getPersistentRDDs.size - pinsBefore).toDouble / nClients
    report.perLayer ++= Layers.metrics(total, nClients, a.cpus)
    report.perLayer("trace.overhead_frac") =
      Stats.median(cycles.map(_._1)) / ((untracedBefore + untracedAfter) / 2) - 1
    spans.write(s"${a.work}/spans.jsonl")
  }
}
