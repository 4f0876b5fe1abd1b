package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.HttpGateway
import graft.functions.{AdcLutSum, CharNgramHashes, FloatVecL2Sq, MinHashSig, ShingleHashes, SimHash64}
import graft.lang.{AndlInterp, AndlParser}
import graft.sources.Sources

/** Fixed per-layer probes run after the workload in every traced run, so
  * each traced run reports every per-layer metric: the `functions`
  * kernels as narrow selects over the corpus, the `lang` parser and
  * interpreter in-process, the HTTP/JSON edge (a request minus the same
  * call in-process), the JSON source edge, and the read cost after a
  * chain of update-sets. Each timing is a median of repeats. */
final class Probes(spark: SparkSession, a: Args, report: Report) {
  private val traffic = Traffic.load(a.requests)
  private val setup = traffic.probeSetup
  private val cycle = traffic.probeCycle
  private val scripts = cycle.filter(_.verb == "script").map(_.body).distinct

  private def timeMs[A](n: Int)(body: => A): Double =
    Stats.median((1 to n).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def kernels(): Unit = {
    val docs = spark.read.parquet(s"${a.data}/documents.parquet")
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
    val vecs = Sources.embeddingToFloat(spark.read.parquet(s"${a.data}/embeddings.parquet"))
      .select(col("vec_id"), col("embedding"))
    val queries = vecs.where(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("q"))
    val codes = vecs.select(col("vec_id"), expr(
      "transform(sequence(0, 7), i -> cast((vec_id * 31 + i * 7) % 256 - 128 as tinyint))")
      .as("codes"))
    val luts = queries.select(col("qid"), expr(
      "transform(sequence(0, 2047), j -> cast((j * 13 + qid) % 97 as double))").as("lut"))
    def sec(df: => DataFrame): Double = timeMs(3)(noop(df)) / 1e3
    report.perLayer ++= Seq(
      "functions.minhash_s" -> sec(docs.select(MinHashSig(ShingleHashes(col("toks"), 3), 128, 42L))),
      "functions.simhash_s" -> sec(docs.select(SimHash64(ShingleHashes(col("toks"), 3)))),
      "functions.ngram_s" -> sec(docs.select(CharNgramHashes(col("text"), 5))),
      "functions.l2_s" -> sec(vecs.crossJoin(queries)
        .select(FloatVecL2Sq(col("embedding"), col("q")))),
      "functions.adc_s" -> sec(codes.crossJoin(luts)
        .select(AdcLutSum(col("codes"), col("lut"), 256))))
  }

  /** An interpreter holding what the set-up requests PUT, in-process. */
  private def loadedInterp(): AndlInterp = {
    val in = new AndlInterp(spark, ".")
    setup.foreach { r =>
      if (r.method == "PUT") in.defineRelvar(r.path.split("/").last,
        Sources.jsonEdge(spark, r.body, None))
      else in.run(r.body, "probe-setup")
    }
    in
  }

  private def lang(): Unit = {
    val parseMs = scripts.map(s => timeMs(5)(AndlParser.parse(s, "probe")))
    report.perLayer("lang.parse_ms") = parseMs.sum / parseMs.size
    val in = loadedInterp()
    scripts.foreach(s => in.run(s, "probe-warm"))
    val interpMs = scripts.map(s => timeMs(3)(in.run(s, "probe")))
    report.perLayer("lang.interp_ms") = interpMs.sum / interpMs.size
    // the same scripts over HTTP to a fresh gateway database
    val gw = new HttpGateway(spark)
    gw.start()
    try {
      val client = new Client(s"http://127.0.0.1:${gw.boundPort}/api")
      def send(r: Req): Unit = {
        val (status, body) = client.send(r)
        require(status == 200, s"probe ${r.verb} ${r.path}: $status $body")
      }
      setup.foreach(send)
      // the HTTP/JSON edge: Evaluate over HTTP minus the same call made
      // in-process, alternating, on the cheapest verb so engine noise
      // stays small beside the edge's own cost
      val ev = cycle.find(_.verb == "eval").get
      val call = ev.path.split("/").last
      val args = new com.fasterxml.jackson.databind.ObjectMapper().readTree(ev.body)
      val inProc = s"write($call(${(0 until args.size).map(args.get(_).asText).mkString(", ")}))"
      send(ev); in.run(inProc, "probe-eval")
      val pairs = (1 to 7).map(_ => (timeMs(1)(send(ev)), timeMs(1)(in.run(inProc, "probe-eval"))))
      report.perLayer("api.http_json_ms") =
        Stats.median(pairs.map(_._1)) - Stats.median(pairs.map(_._2))
      if (!report.perLayer.contains("api.get_ms")) {
        // batch workloads: per-verb latency from the probe cycle, twice
        report.perLayer ++= Lat.perVerb((1 to 2).flatMap(_ =>
          cycle.map(r => Lat(r.verb, r.write, timeMs(1)(send(r))))))
      }
    } finally gw.stop()
    if (!report.perLayer.contains("rel.build_s")) {
      // gateway: relation building is the assignment part of each script,
      // run in-process without the write that materializes it
      val assigns = scripts.map(_.linesIterator.next()).filter(_.contains(":="))
      report.perLayer("rel.build_s") =
        assigns.map(s => timeMs(3)(in.run(s, "probe-build"))).sum / 1e3 / assigns.size
    }
  }

  private def jsonEdge(): Unit = {
    val orders = setup.find(_.path.endsWith("/orders")).get.body
    report.perLayer("sources.json_edge_ms") =
      timeMs(3)(noop(Sources.jsonEdge(spark, orders, None)))
  }

  /** Read time of the orders relvar after a fixed chain of update-sets,
    * over the read time before it. */
  private def readAfterUpdate(): Unit = {
    val in = loadedInterp()
    def read(): Double = timeMs(3)(in.relvar("orders").toJSON.collect())
    read()
    val before = read()
    Probes.updateChain.foreach(s => in.run(s, "probe-chain"))
    report.perLayer("lang.read_after_update_ratio") = read() / before
  }

  def run(): Unit = {
    kernels()
    Main.log("probe: kernels")
    lang()
    Main.log("probe: lang and api")
    jsonEdge()
    readAfterUpdate()
    Main.log("probe: json edge and update chain")
  }
}

object Probes {
  /** The fixed chain: four update-sets on different customers. */
  val updateChain: Seq[String] = (1 to 4).map(c =>
    s"update orders .where(o_custkey = $c) .select{ *o_totalprice := o_totalprice + 1 }")
}
