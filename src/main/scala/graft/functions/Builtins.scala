package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.rel.Rel
import graft.types.AndlTypes

/** The small-builtin sweep (SURVEY §2.1/2.7): relation introspection
  * (`schema`, `seq`), conversions (`text format type pp`), binary ops
  * (`bget bset blength`), and time (`now`, `time(d)`).
  * Reference: Andl.Runtime/Builtin.cs:759-819 (conversions, schema, seq),
  * :883-899 (binary), :968-971 (now/time). */
object Builtins {

  // ------------------------------------------------------- introspection

  /** schema(r): the heading as a {Name, Type} relation
    * (Builtin.Schema, Builtin.cs:799-806). Driver-side by design — degree
    * is tiny and the reference materializes a local table too. */
  def schemaOf(r: Rel): Rel = {
    val sp = r.spark
    import sp.implicits._
    Rel.distinct(r.schema.fields.toSeq
      .map(f => (f.name, AndlTypes.nameOf(f.dataType)))
      .toDF("Name", "Type"))
  }

  /** seq(n): relation {N} of 0..n-1 (Builtin.Sequence, Builtin.cs:809-819;
    * reference N is `number`, we keep the natural long of spark.range and
    * document the width deviation). Distributed — spark.range partitions
    * like any table. */
  def seq(spark: SparkSession, n: Long): Rel =
    Rel.distinct(spark.range(n).toDF("N"))

  // --------------------------------------------------------- conversions

  /** text(v): any value to text (Builtin.Text, Builtin.cs:759-762). */
  def textOf(v: Column): Column = v.cast(StringType)

  /** format(fmt, args): printf-style formatting
    * (Builtin.Format's Format(), Builtin.cs:764-767). */
  def format(fmt: String, args: Column*): Column = format_string(fmt, args: _*)

  /** type(v): type name as text — compile-time in our engine, like the
    * reference's parse-time typing (Builtin.Type, Builtin.cs:784-786). */
  def typeNameOf(r: Rel, attr: String): String =
    AndlTypes.nameOf(r.schema(attr).dataType)

  /** pp(r): render a relation to text (Builtin.PrettyPrint,
    * Builtin.cs:769-781 → DataSinkStream.OutputTable). Driver-side
    * presentation op — rows capped, sorted for determinism. */
  def pp(r: Rel, maxRows: Int = 100, sortBy: Seq[Column] = Nil): String = {
    val cols = r.attrs
    // Sort BEFORE the cap (distributed TakeOrderedAndProject -- never a
    // full collect), so the row subset shown is deterministic, not
    // whichever partitions answered first. String sort order is the
    // presentation contract, matching the reference's text rendering —
    // unless the relation carries a stored `.order` (sortBy), which the
    // reference's pp would show.
    val sortCols =
      if (sortBy.nonEmpty) sortBy
      else cols.map(c => col(c).cast(StringType))
    // numbers render like the reference's decimals (no trailing ".0")
    def show(v: Any): String = v match {
      case d: java.lang.Double =>
        val dd = d.doubleValue
        if (dd == math.rint(dd) && math.abs(dd) < 1e15) dd.toLong.toString
        else java.math.BigDecimal.valueOf(dd).stripTrailingZeros.toPlainString
      case other => String.valueOf(other)
    }
    val rows = r.df
      .orderBy(sortCols: _*)
      .limit(maxRows).collect()
      .map(row => cols.indices.map(i => show(row.get(i))))
    val widths = cols.indices.map(i =>
      (cols(i).length +: rows.map(_(i).length)).max)
    def line(vals: Seq[String]) = vals.zip(widths)
      .map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val sep = widths.map("-" * _).mkString("|-", "-|-", "-|")
    (line(cols) +: sep +: rows.map(line)).mkString("\n")
  }

  // -------------------------------------------------------------- binary

  /** blength(b) (Builtin.BinaryLength, Builtin.cs:883-885). */
  def blength(b: Column): Column = length(b)

  /** bget(b, i): byte at 0-based index as a number
    * (Builtin.BinaryGet, Builtin.cs:887-891). Hex-string arithmetic —
    * stays in codegen, no UDF. */
  def bget(b: Column, i: Column): Column =
    conv(substring(hex(b), (i * 2 + 1).cast(IntegerType), lit(2)), 16, 10)
      .cast(IntegerType)

  /** bset(b, i, v): copy with byte i replaced
    * (Builtin.BinarySet, Builtin.cs:893-899). v is masked to its low byte
    * like the reference's cast-to-byte — without the mask, lpad(hex(v))
    * would keep the LEFTMOST hex digits of an out-of-range v (300 → 0x12)
    * and any negative v would store 0xFF. */
  def bset(b: Column, i: Column, v: Column): Column =
    unhex(concat(
      substring(hex(b), lit(1), (i * 2).cast(IntegerType)),
      lpad(hex(v.cast(LongType).bitwiseAND(lit(0xFFL))), 2, "0"),
      substring(hex(b), (i * 2 + 3).cast(IntegerType), (length(b) * 2).cast(IntegerType))))

  // -------------------------------------------------------- IO / control
  // (Builtin.cs:978-1010 — console IO and assertions; driver-side by
  // nature, like the reference's single-process console)

  /** write(s): emit a line (Builtin.Write). */
  def write(s: String): Unit = Console.out.println(s)

  /** read(): one line from the console, "" at EOF — the `con` source reads
    * the same way (DataSourceStream.cs:153-171). */
  def read(): String = Option(scala.io.StdIn.readLine()).getOrElse("")

  /** pause(s): prompt and wait for enter (Builtin.Pause). */
  def pause(s: String = ""): Unit = { if (s.nonEmpty) write(s); read(); () }

  /** fail(code, message): abort evaluation (Builtin.Fail). */
  def fail(code: String, message: String): Nothing =
    throw new RuntimeException(s"$code: $message")

  // ---------------------------------------------------------------- time

  /** now() (Builtin.cs:968-970). Nondeterministic by nature — fixed per
    * query by Spark (evaluated once at plan time). */
  def now(): Column = current_timestamp()

  /** time(d): date → time value (date is a subtype of time,
    * Builtin.cs:1050-1055). */
  def timeOf(d: Column): Column = d.cast(TimestampType)
}
