package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import graft.rel.Rel

/** Import sources (SURVEY §2.8): typed CSV with `name:type` header peek and
  * the no-NULL discipline, and serial text files as a one-attribute `Line`
  * relation — mirrors of the reference's stream sources
  * (Andl.Runtime/DataSourceStream.cs: csv Create/Peek/Read :72-121, txt
  * DataSourceFile :126-150).
  *
  * Andl scalar types in headers map to Spark as: `text`→string (default for
  * un-annotated attributes, DataType.cs:74), `number`→double (documented
  * deviation from C# decimal — SURVEY §1.2), `time`→timestamp,
  * `bool`→boolean, `binary`→binary.
  *
  * No-NULL discipline (DataType.DefaultValue, DataType.cs:152-155): an
  * absent or unparseable CSV field becomes the attribute type's DEFAULT,
  * never NULL — `coalesce(cast(...), default)` per column, all codegen'd.
  *
  * Scale: the header peek is one tiny Spark job (first line of the first
  * file); the data read is Spark's parallel CSV scan — schema applied at
  * scan, casts pushed into the same whole-stage-codegen pass.
  */
object Sources {

  /** Andl type name → Spark type (SURVEY §1.2 table). */
  def andlType(name: String): DataType = name.trim.toLowerCase match {
    case "" | "text"  => StringType
    case "number"     => DoubleType
    case "time"       => TimestampType
    case "bool"       => BooleanType
    case "binary"     => BinaryType
    case other => throw new IllegalArgumentException(s"unknown Andl type: $other")
  }

  /** Peek the CSV header and return the typed heading: `name:type` pairs,
    * un-annotated names default to text (DataSourceCsv.Peek,
    * DataSourceStream.cs:81-94; DataHeading.Create parses `name:type`). */
  def peekCsvHeading(spark: SparkSession, path: String): Seq[(String, DataType)] = {
    val header = spark.read.text(path).limit(1).collect()(0).getString(0)
    splitCsvLine(header).map { field =>
      field.split(":", 2) match {
        case Array(n, t) => (n.trim, andlType(t))
        case Array(n)    => (n.trim, StringType)
      }
    }
  }

  // minimal CSV field split for the header line only (data rows go through
  // Spark's CSV parser); handles double-quoted fields with commas
  private def splitCsvLine(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQ = false
    line.foreach {
      case '"' => inQ = !inQ
      case ',' if !inQ => out += sb.toString; sb.clear()
      case c => sb += c
    }
    out += sb.toString
    out.toSeq.map(_.stripPrefix("﻿")) // BOM on first header field
  }

  /** Typed CSV import. `heading` overrides the peeked types (the
    * `var S:{S#,SNAME,STATUS:number,CITY}(csv)` form — declared heading
    * wins over the file's, names matched positionally); when empty the
    * header's own `name:type` annotations decide. Absent values become
    * type defaults, never NULL. */
  def csv(spark: SparkSession, path: String,
          heading: Seq[(String, DataType)] = Nil): Rel = {
    val hd = if (heading.nonEmpty) heading else peekCsvHeading(spark, path)
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)
    require(raw.columns.length == hd.length,
      s"CSV has ${raw.columns.length} columns, heading declares ${hd.length}")
    val cols = raw.columns.toSeq.zip(hd).map { case (rawName, (name, dt)) =>
      coalesce(col(s"`$rawName`").cast(dt), Rel.defaultCol(dt)).as(name)
    }
    // a CSV is a bag on disk; relation semantics dedup lazily downstream
    // (AddRow enforces the no-duplicates invariant eagerly in the reference,
    // DataTableLocal.cs:138-147)
    Rel.bag(raw.select(cols: _*))
  }

  /** Serial text file → relation with the single attribute `Line`
    * (DataSourceFile.Peek, DataSourceStream.cs:140-142). Duplicate lines
    * collapse (set semantics). */
  def txt(spark: SparkSession, path: String): Rel =
    Rel.bag(spark.read.text(path).select(col("value").as("Line")))

  /** `con` source: prompt, read ONE console line, one-tuple relation with
    * attribute `line` (DataSourceCon, DataSourceStream.cs:153-171 —
    * "really!"). Driver-side by nature; the reader is injectable so the
    * console dependency is testable headless. */
  def con(spark: SparkSession, prompt: String = "",
          in: java.io.BufferedReader = Console.in): Rel = {
    import spark.implicits._
    if (prompt.nonEmpty) Console.out.println(prompt)
    val line = Option(in.readLine()).getOrElse("")
    Rel.distinct(Seq(line).toDF("line"))
  }

  /** JSON-Lines reader — the loader interchange format
    * [[graft.pipeline.Pack.writeShardsJsonl]] emits (gzip decompresses
    * transparently; a directory of `bucket=N/` shards reads as one bag
    * with `bucket` recovered as a partition column). At scale ALWAYS pass
    * `schema`: inference is an extra full scan of the corpus, and an
    * explicit schema makes the read one pass with corrupt lines surfacing
    * as nulls under PERMISSIVE mode instead of failing the job. */
  def jsonl(spark: SparkSession, path: String,
            schema: Option[StructType] = None): Rel = {
    val r = spark.read.option("mode", "PERMISSIVE")
    Rel.bag(schema.fold(r)(s => r.schema(s)).json(path))
  }

  /** THE JSON boundary parse, shared by Session.setValueJson and
    * HttpGateway's PUT so the two inlets can never diverge: a top-level
    * array is ONE record (the SQL JSON codec unrolls it; embedded
    * newlines are fine), JSON-lines split per line, malformed rows are
    * LOUD (FAILFAST), an existing relvar's schema drives the parse when
    * given (exact round trip incl. timestamps) else it is inferred — and
    * the result is NULL-FREE at every nesting level
    * ([[graft.rel.Rel.fillDefaults]]): JSON is the one inlet whose codec
    * emits real NULLs, and the engine behind it is no-NULL. */
  def jsonEdge(spark: SparkSession, json: String,
               schema: Option[StructType] = None): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val records =
      if (json.trim.startsWith("[")) Seq(json)
      else json.linesIterator.filter(_.trim.nonEmpty).toSeq
    val ds = spark.createDataset(records)
    val reader = spark.read.option("mode", "FAILFAST")
    Rel.fillDefaults(schema.fold(reader.json(ds))(s => reader.schema(s).json(ds)))
  }

  /** THE JSON boundary write, shared by Session.getValueJson and
    * HttpGateway's GET: `df` as a JSON array of row objects through the
    * DataFrame JSON codec (types, nesting and escaping follow the SQL
    * codec, not hand-rolled strings). An edge for API-sized results: past
    * `maxRows` rows it fails loud, naming `what` — a 100 TB relvar is not
    * a JSON payload; page it with where/take first. */
  def jsonOut(df: org.apache.spark.sql.DataFrame, maxRows: Int, what: => String): String = {
    val rows = df.toJSON.take(maxRows + 1)
    require(rows.length <= maxRows,
      s"$what: over $maxRows rows — page with where/take")
    rows.mkString("[", ",", "]")
  }

  /** THE library read of a parquet path. A base relvar's heading is fixed
    * for its lifetime (DataHeading), but `spark.read.parquet` re-infers it
    * on every call, and inference is a Spark job (footer read through
    * `parallelize(…).collect()`) even for one file. The first read of a
    * path is exactly that read; it records the resolved schema. Later
    * reads hand the schema to the reader (`read.schema(s)`), so only the
    * driver-side file listing remains.
    *
    * The cached schema is used only under the footprint it was inferred
    * under: the data files Spark's own [[PartitioningAwareFileIndex]]
    * listed for the read (path, length, modification time — `_`/`.` files
    * skipped as Spark skips them) and every set `spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.*` and partition-type-inference setting
    * (`nanosAsLong` retypes columns). A warm read takes its listing from
    * the index its own frame built (one listing per read); on any
    * mismatch that frame is discarded and the path is re-read with
    * inference, so a stale heading cannot surface.
    *
    * `written`: the schema of a frame the caller has just written to
    * `path` — the read takes it (Spark's relation makes it nullable, as
    * inference would) and neither consults nor fills the cache. */
  def parquet(spark: SparkSession, path: String,
              written: Option[StructType] = None): DataFrame = written match {
    case Some(s) => spark.read.schema(s).parquet(path)
    case None =>
      val settings = parquetSettings(spark)
      val warm = schemaCache.synchronized(Option(schemaCache.get(path)))
        .collect { case (fp, s) if fp.settings == settings =>
          (fp, spark.read.schema(s).parquet(path)) }
        .collect { case (fp, df) if listing(df).contains(fp.files) => df }
      warm.getOrElse {
        val df = spark.read.parquet(path)
        listing(df).foreach { files =>
          schemaCache.synchronized(
            schemaCache.put(path, (Footprint(settings, files), df.schema)))
        }
        df
      }
  }

  private final case class Footprint(settings: Seq[(String, String)],
                                     files: Seq[(String, Long, Long)])

  /** Paths kept, least recently read evicted first: a long-lived gateway
    * reading ever-new paths must not grow the cache without limit. */
  private val SchemaCacheSize = 256

  private val schemaCache =
    new java.util.LinkedHashMap[String, (Footprint, StructType)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Footprint, StructType)]): Boolean =
        size > SchemaCacheSize
    }

  private def parquetSettings(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
      k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.sources.partitionColumnTypeInference.enabled"
    }.toSeq.sorted

  /** The data files the frame's own file index listed; None when the read
    * is not a listed file relation (nothing to key a cache entry on). */
  private def listing(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location }.collect {
      case index: PartitioningAwareFileIndex =>
        index.allFiles()
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sorted
    }

  /** JDBC import (DataSourceSql, Andl.Runtime/DataSourceSql.cs:29-80):
    * the full source surface includes sql/odbc/oledb connections; on Spark
    * this is the built-in JDBC reader (exercised in SourcesSpec against an
    * embedded Derby database — the same engine Spark's metastore uses). */
  def jdbc(spark: SparkSession, url: String, table: String,
           props: java.util.Properties = new java.util.Properties()): Rel =
    Rel.bag(spark.read.jdbc(url, table, props))

  /** Event-time ingest normalization → TIMESTAMP (instant). The generated
    * events table has shipped with BOTH parquet timestamp precisions
    * across rounds — TIMESTAMP(NANOS), which surfaces as LongType under
    * `spark.sql.legacy.parquet.nanosAsLong=true` (truncate to micros and
    * rebuild), and TIMESTAMP(MICROS) without UTC adjustment, which
    * surfaces as TIMESTAMP_NTZ (cast to instant under the session's UTC
    * zone — identical micros, and watermarks/windows require the instant
    * type). ONE shared schema-driven coercion for the batch events loader
    * and the streaming source, so the two cannot drift — hardcoding one
    * unit is what flipped the round-9 streaming gates red when the
    * producer changed precision. */
  /** Embedding ingest normalization: the ANN/dedup vector stack
    * (FloatVecDot, codebooks, int8 quantizer) is typed array<float> — if a
    * generated table ships array<double> (producer drift of the same kind
    * as the round-9 ts-precision flip), cast ONCE at the scan instead of
    * failing analysis in every vector expression. No-op (no cast node)
    * when the schema already matches. */
  def embeddingToFloat(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) => df
      case _ => df.withColumn(vecCol, col(vecCol).cast(ArrayType(FloatType)))
    }

  def nanosTsToMicros(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema.find(_.name == tsCol).map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn(tsCol, timestamp_micros(expr(s"`$tsCol` div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df // no such column (non-event table) or already micros
    }
}
