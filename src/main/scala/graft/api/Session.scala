package graft.api

import org.apache.spark.sql.{Column, SparkSession}
import graft.catalog.{Catalog, FunDef, UdtDef}
import graft.rel.Rel

/** Embedding facade — the reference's Gateway surface (GatewayBase:
  * OpenSession / GetValue / SetValue / Evaluate / Command / RunScript,
  * Andl.Gateway/Gateway.cs:32-102) over a SparkSession + Catalog.
  *
  * The reference's hosts (REST server, Thrift, Workbench) all drive this
  * one verb set; here the "script" surface is (a) a Scala function over the
  * session — the DSL is the language — and (b) Spark SQL over the catalog's
  * relvars exposed as temp views, which doubles as the JSON-boundary story
  * (DataFrame JSON codecs at the edges).
  */
final class Session private (val spark: SparkSession, val catalog: Catalog) {

  /** GetValue: read a relvar (Gateway.cs GetValue). */
  def getValue(name: String): Rel = catalog.relvar(name)

  /** SetValue: write a relvar. */
  def setValue(name: String, r: Rel): Unit = catalog.define(name, r)

  def getScalar(name: String): Any = catalog.get(name)
  def setScalar(name: String, v: Any): Unit = catalog.set(name, v)

  /** GetValue at the JSON boundary (Gateway.cs JsonCall → GetValue): the
    * relvar as a JSON array of row objects, through the shared
    * [[graft.sources.Sources.jsonOut]] outlet — bounded by `maxRows`, past
    * which it fails loud (use getValue and keep the data distributed). */
  def getValueJson(name: String, maxRows: Int = 1 << 20): String =
    graft.sources.Sources.jsonOut(catalog.relvar(name).df, maxRows,
      s"getValueJson($name)")

  /** SetValue at the JSON boundary (Gateway.cs JsonCall → SetValue): parse
    * a JSON array (or JSON-lines) payload with the DataFrame JSON codec.
    * If the relvar already exists, its schema drives the parse — exact
    * round-trip with [[getValueJson]] including timestamp/decimal columns;
    * otherwise the schema is inferred from the payload.
    *
    * No-NULL discipline at the edge: a MISSING or explicitly-null field
    * coalesces to the column type's default AT EVERY NESTING LEVEL
    * (struct fields, array elements, map values included), exactly like
    * the CSV reader's `coalesce(cast, default)` — the shared
    * [[graft.sources.Sources.jsonEdge]] parse. Without this, JSON — the
    * one source whose codec emits real NULLs — would smuggle NULLs into a
    * no-NULL engine, where a later `update .where(p)` predicate evaluates
    * to NULL and every mutation surface has to re-defend against it. */
  def setValueJson(name: String, json: String): Unit = {
    val df = graft.sources.Sources.jsonEdge(spark, json,
      if (catalog.names.contains(name))
        Some(catalog.relvar(name).df.schema) else None)
    // a wire payload can carry duplicate rows — wrap as a bag so the Rel
    // layer dedupes to set semantics (Rel.distinct only MARKS, never dedupes)
    setValue(name, Rel.bag(df))
  }

  /** Evaluate: call a stored function as a Column expression
    * (Gateway.cs Evaluate). */
  def evaluate(name: String, args: Column*): Column = catalog.call(name, args: _*)

  def defineFun(fd: FunDef): Unit = catalog.defineFun(fd)
  def defineType(u: UdtDef): Unit = catalog.defineType(u)

  /** RunScript, DSL form: a program is a Scala function over the session. */
  def runScript[A](script: Session => A): A = script(this)

  /** RunScript, SQL form: every relvar becomes a temp view, stored
    * functions are already registered in the session — ANSI SQL against
    * the catalog. */
  def sql(query: String): Rel = {
    catalog.names.foreach(n => catalog.relvar(n).df.createOrReplaceTempView(n))
    Rel.bag(spark.sql(query))
  }

  /** Persist the whole catalog (relvars + scalars + functions + types). */
  def save(dir: String): Unit = catalog.save(dir)

  /** CloseSession (Gateway.cs CloseSession): reclaim everything this
    * session's catalog owns on disk — bucketed physical generations and
    * cadence snapshots. Call after [[save]] if the state should survive;
    * the session is unusable afterwards. */
  def close(): Unit = catalog.close()
}

object Session {
  /** OpenSession with an empty catalog. */
  def open(spark: SparkSession): Session = new Session(spark, new Catalog(spark))

  /** OpenSession restoring a persisted catalog (SuiteUpdateCat2 flow). */
  def open(spark: SparkSession, dir: String): Session =
    new Session(spark, Catalog.load(spark, dir))
}
