package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Andl's builtin scalar function library (SURVEY §2.7;
  * Andl.Runtime/Builtin.cs text ops :900-975, math :678-702,
  * date UDT :968-971,1022-1068) as pure `Column` combinators.
  *
  * Everything here composes from `org.apache.spark.sql.functions._` — no
  * UDFs, so every function stays inside whole-stage codegen and is
  * pushdown/prune-transparent to Catalyst.
  */
object Scalar {

  // ------------------------------------------------------------------ text

  /** `a & b` — concat, converts any argument to text (Builtin.cs:907-909). */
  def cat(a: Column, b: Column): Column =
    concat(a.cast("string"), b.cast("string"))

  /** left(s,n): pad right with spaces OR truncate to exactly n
    * (Builtin.cs:918-925). */
  def left(s: Column, n: Column): Column =
    when(n < 0, lit(""))
      .otherwise(when(length(s) >= n, s.substr(lit(1), n))
        .otherwise(rpad(s, n, lit(" "))))

  /** right(s,n): pad left with spaces OR keep rightmost n
    * (Builtin.cs:928-934). */
  def right(s: Column, n: Column): Column =
    when(n < 0, lit(""))
      .otherwise(when(length(s) >= n, s.substr(length(s) - n + 1, n))
        .otherwise(lpad(s, n, lit(" "))))

  /** fill(s,n): repeat s to exactly length n (Builtin.cs:937-944). */
  def fill(s: Column, n: Column): Column =
    when(n < 0, lit(""))
      .otherwise(repeat(s, ceil(n.cast("double") / length(s)).cast("int")).substr(lit(1), n))

  /** before(s,sub): part of s before first sub, or s if not found
    * (Builtin.cs:947-950). */
  def before(s: Column, sub: Column): Column =
    when(instr(s, sub) === 0, s).otherwise(s.substr(lit(1), instr(s, sub) - 1))

  /** after(s,sub): part of s after first sub, or "" if not found
    * (Builtin.cs:953-956). */
  def after(s: Column, sub: Column): Column =
    when(instr(s, sub) === 0, lit(""))
      .otherwise(s.substr(instr(s, sub) + length(sub), length(s)))

  /** s =~ 're' — regex match, unanchored like .NET IsMatch
    * (Builtin.Match, Builtin.cs:736-739). */
  def matches(s: Column, re: String): Column = s.rlike(re)

  // ------------------------------------------------------------------ math

  /** div: integer division truncating toward zero (C# semantics,
    * Builtin.cs:685-687). Uses Spark's integral `div` operator directly —
    * it truncates toward zero on longs and, unlike the (a - a%b)/b double
    * formulation this replaces, is exact for |a| > 2^53. */
  def divTrunc(a: Column, b: Column): Column =
    call_function("div", a.cast("long"), b.cast("long"))

  /** mod: remainder with sign of dividend (C# and Spark agree). */
  def modTrunc(a: Column, b: Column): Column = a % b

  def power(a: Column, b: Column): Column = pow(a, b)

  // ------------------------------------------------------------------ date
  // `date` is a user subtype of `time` in the reference (Builtin.cs:1022-1048)

  def yearOf(d: Column): Column = year(d)
  def monthOf(d: Column): Column = month(d)
  def dayOf(d: Column): Column = dayofmonth(d)

  /** dow: day of week, Sunday=1 .. Saturday=7 (C# DayOfWeek+1,
    * Builtin.cs:1057-1059 uses DayOfWeek enum where Sunday=0 → +1 here to
    * keep 1-based like Spark's dayofweek). */
  def dowOf(d: Column): Column = dayofweek(d)

  def daysDiff(a: Column, b: Column): Column = datediff(a, b)

  // ------------------------------------------------------------- control

  /** if(c,a,b) with lazy branches (Builtin.If, Builtin.cs:200-205) —
    * `when` is lazily evaluated per-row in codegen, same effect. */
  def iif(c: Column, a: Column, b: Column): Column = when(c, a).otherwise(b)
}
