package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap
import graft.lang.AndlInterp
import graft.types.Json.{str => jstr}

/** The engine served over a wire — the reference's third entry point.
  * Mirrors `Andl.Server`'s REST conventions (route `api/{database}/{name}`,
  * `Andl.Server/App_Start/WebApiConfig.cs:21`; verb mapping
  * `Andl.Server/Controllers/AndlController.cs:21-58`) over the GatewayBase
  * verb set (`Andl.Gateway/Gateway.cs:32-102`): OpenSession / CloseSession /
  * GetValue / SetValue / Evaluate / RunScript, JSON at the boundary.
  *
  * Routes (all JSON):
  *   - `GET    /api`               → list open databases
  *   - `GET    /api/{db}`          → catalog entry info (relvar names) —
  *                                   GetEntryInfoDict analogue
  *   - `POST   /api/{db}`          → RunScript: body is Andl source; reply
  *                                   `{"ok":true,"output":…}` with the
  *                                   script's write()/noisy output
  *   - `DELETE /api/{db}`          → CloseSession (drops in-memory state)
  *   - `GET    /api/{db}/{name}`   → GetValue: relvar as a JSON row array
  *   - `PUT    /api/{db}/{name}`   → SetValue: body is a JSON row array (or
  *                                   JSON lines); schema follows an existing
  *                                   relvar of that name, else inferred
  *   - `POST   /api/{db}/{name}`   → Evaluate: body is a JSON array of
  *                                   scalar arguments; calls the stored
  *                                   function and replies its rendered value
  *
  * Sessions open implicitly on first touch (the reference's OpenSession is
  * folded into GetGateway the same way, `AndlController.cs:13-15`). One
  * interpreter per database; requests serialize per database (the language
  * env is single-threaded state), while distinct databases run concurrently.
  *
  * SCALE: the gateway is a control-plane edge, not a data plane — GetValue
  * is bounded by `maxRows` and fails loud past it (a 100 TB relvar is not a
  * JSON payload; page it with where/take in a script first), and everything
  * heavy the scripts do stays distributed in Spark. */
final class HttpGateway(spark: SparkSession, port: Int = 0,
                        maxRows: Int = 1 << 20,
                        modes: Map[String, AndlInterp.Modes] = Map.empty) {

  // per-database language modes (numeric domain / collation): explicit
  // entry in `modes` wins, else the session conf. Modes are per-interp
  // state, so databases with different domains serve CONCURRENTLY on the
  // worker pool — only statements within one database serialize.
  private val sessions = TrieMap.empty[String, AndlInterp]
  private def interp(db: String): AndlInterp =
    sessions.getOrElseUpdate(db, new AndlInterp(spark, ".",
      modes.getOrElse(db, AndlInterp.Modes.fromConf(spark))))

  // jdk.httpserver writes a reply's headers and body as two TCP segments
  // and never sets TCP_NODELAY, so Nagle holds the body back until the
  // client ACKs the headers, which it delays by ~40 ms, on every reply.
  // The JDK reads this property once, when the first server in the JVM is
  // built, so it is set here, before HttpServer.create.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/api", (ex: HttpExchange) => handle(ex))
  // a couple of worker threads: per-db serialization happens inside
  private val pool = {
    val n = new AtomicInteger
    Executors.newFixedThreadPool(4, (r: Runnable) =>
      new Thread(r, s"graft-http-${n.incrementAndGet()}"))
  }
  server.setExecutor(pool)

  /** The bound port (useful with port=0 for an ephemeral test server). */
  def boundPort: Int = server.getAddress.getPort
  def start(): Unit = server.start()
  /** Closes the socket, then lets in-flight requests finish (bounded) and
    * releases the worker threads, so a JVM that used a gateway can exit. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
    sessions.clear()
  }

  // ----------------------------------------------------------- dispatch

  private def handle(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val parts = ex.getRequestURI.getPath.stripPrefix("/api")
      .split("/").filter(_.nonEmpty).toList
    val method = ex.getRequestMethod.toUpperCase
    val reply =
      try {
        (method, parts) match {
          case ("GET", Nil) =>
            200 -> sessions.keys.toSeq.sorted.map(jstr).mkString(
              """{"databases":[""", ",", "]}")
          case ("GET", db :: Nil) =>
            val in = interp(db)
            in.synchronized {
              200 -> in.relvarNames.sorted.map(jstr).mkString(
                """{"relvars":[""", ",", "]}")
            }
          case ("POST", db :: Nil) =>
            val in = interp(db)
            in.synchronized {
            val mark = in.output.length
            in.run(body, s"$db.http")
            200 -> s"""{"ok":true,"output":${jstr(in.output.substring(mark))}}"""
          }
          case ("DELETE", db :: Nil) =>
            sessions.remove(db)
            200 -> """{"ok":true}"""
          case ("GET", db :: name :: Nil) =>
            val in = interp(db)
            in.synchronized {
            200 -> graft.sources.Sources.jsonOut(in.relvar(name), maxRows,
              s"GetValue($name)")
          }
          case ("PUT", db :: name :: Nil) =>
            val in = interp(db)
            in.synchronized {
            val prior = if (in.relvarNames.contains(name))
              Some(in.relvar(name).schema) else None
            in.defineRelvar(name, parseRows(body, prior))
            200 -> """{"ok":true}"""
          }
          case ("POST", db :: name :: Nil) =>
            // the path segment is interpolated into Andl source below —
            // it must BE an identifier, not a script fragment (a name
            // with operator syntax would execute as arbitrary Andl and
            // surface as a confusing parse error)
            require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
              s"Evaluate: '$name' is not an Andl identifier")
            val in = interp(db)
            in.synchronized {
            // Evaluate (AndlController.cs PostEvaluate): args as a JSON
            // array of scalars, the call routed through the language
            // itself — write(name(args…)) — so overload resolution,
            // funvals and rendering are exactly the script path's
            val mark = in.output.length
            in.run(s"write($name(${jsonArgsToAndl(body)}))", s"$db.$name.http")
            200 -> s"""{"ok":true,"value":${jstr(in.output.substring(mark).stripSuffix("\n"))}}"""
          }
          case _ => 404 -> s"""{"ok":false,"error":"no route: $method ${parts.mkString("/")}"}"""
        }
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
          400 -> s"""{"ok":false,"error":${jstr(msg)}}"""
      }
    val bytes = reply._2.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(reply._1, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  // ------------------------------------------------------------- codecs

  /** JSON row array (or JSON lines) → DataFrame: THE shared no-NULL
    * boundary parse ([[graft.sources.Sources.jsonEdge]] — literally the
    * same code path [[Session.setValueJson]] uses, so the two inlets can
    * never diverge): schema-driven when the relvar exists, inferred
    * otherwise, missing/null fields defaulted at every nesting level. */
  private def parseRows(json: String,
                        schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    graft.sources.Sources.jsonEdge(spark, json, schema)

  /** A JSON array of scalar args → Andl literal syntax ("x" → 'x', numbers
    * and booleans verbatim). Scalars only, matching the reference's
    * JsonConvert per-argument deserialization to primitive setter types. */
  private def jsonArgsToAndl(body: String): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper
    val node = m.readTree(if (body.trim.isEmpty) "[]" else body)
    require(node.isArray, "Evaluate body must be a JSON array of arguments")
    (0 until node.size).map { i =>
      val a = node.get(i)
      if (a.isTextual) "'" + a.asText.replace("'", "''") + "'"
      else if (a.isNumber || a.isBoolean) a.asText
      else throw new IllegalArgumentException(s"argument $i: scalars only, got $a")
    }.mkString(", ")
  }
}
