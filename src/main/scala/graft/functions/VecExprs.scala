package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftExprBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native codegen'd float-vector dot product (accumulated in double).
  * Replaces `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — two interpreted
  * higher-order passes plus an intermediate array per call — with one
  * generated multiply-accumulate loop. Dots are the inner loop of every
  * similarity operator (scoring is O(corpus·queries·dim)), so this is the
  * hottest scalar in the engine at 100 TB.
  *
  * NULL semantics match the combinator it replaces: mismatched lengths or
  * a null element yield NULL (zip_with pads with nulls, null poisons the
  * sum) — a ragged/corrupt embedding stays a detectable data error, never
  * a fabricated partial score. */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot needs two array<float>, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

object FloatVecDot {
  def apply(a: Column, b: Column): Column =
    GraftExprBridge.column(
      FloatVecDot(GraftExprBridge.expression(a), GraftExprBridge.expression(b)))
}

/** Native codegen'd squared-L2 distance between two float arrays
  * (accumulated in double). Replaces `aggregate(zip_with(a, b, (x, y) =>
  * (xd - yd)²), 0.0, _+_)` — two interpreted higher-order passes plus an
  * intermediate array per call, in the INNER loop of PQ codebook
  * training/encoding (every (subvector × code) pair scores one l2sq:
  * O(corpus · m · codes) calls per build). Same left-fold accumulation
  * order → bit-identical doubles; NULL semantics match the combinator
  * (mismatched lengths or a null element yield NULL). */
case class FloatVecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_l2sq needs two array<float>, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = (double) $x.getFloat($i) - (double) $y.getFloat($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FloatVecL2Sq =
    copy(left = newLeft, right = newRight)
}

object FloatVecL2Sq {
  def apply(a: Column, b: Column): Column =
    GraftExprBridge.column(
      FloatVecL2Sq(GraftExprBridge.expression(a), GraftExprBridge.expression(b)))
}

/** Native codegen'd ADC lookup-table sum: Σ_i lut[i·nCodes + (codes_i &
  * 0xff)] over an m-byte PQ code array and a query's flattened
  * (sub_id × unsigned code)-ordered LUT. Replaces
  * `aggregate(transform(codes, (c, i) => element_at(lut, i·nCodes +
  * (c & 255) + 1)), 0.0, _+_)` — two interpreted higher-order passes and
  * an intermediate array PER (corpus row × query), the inner loop of every
  * PQ/IVF-PQ search and serve path. Index-order left-fold accumulation →
  * bit-identical doubles. NULL semantics: a null code element, a null
  * LUT slot or an index past the LUT's end (a short or mismatched LUT)
  * yields NULL (as element_at + null-poisoned fold did). */
case class AdcLutSum(left: Expression, right: Expression, nCodes: Int)
    extends BinaryExpression {
  require(nCodes >= 1 && nCodes <= 256, s"adc_lut_sum: nCodes=$nCodes")

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc_lut_sum needs (array<tinyint>, array<double>), got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_lut_sum"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val n = codes.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (codes.isNullAt(i)) return null
      val idx = i * nCodes + (codes.getByte(i) & 0xff)
      if (idx >= lut.numElements() || lut.isNullAt(idx)) return null
      acc += lut.getDouble(idx)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val idx = ctx.freshName("idx")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $codes.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($codes.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  int $idx = $i * $nCodes + ($codes.getByte($i) & 0xff);
         |  if ($idx >= $lut.numElements() || $lut.isNullAt($idx)) {
         |    ${ev.isNull} = true; break;
         |  }
         |  $acc += $lut.getDouble($idx);
         |}
         |if (!${ev.isNull}) ${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): AdcLutSum =
    copy(left = newLeft, right = newRight)
}

object AdcLutSum {
  def apply(codes: Column, lut: Column, nCodes: Int): Column =
    GraftExprBridge.column(AdcLutSum(
      GraftExprBridge.expression(codes), GraftExprBridge.expression(lut), nCodes))
}

/** Native codegen'd int8 dot product: Σ qa_i·qb_i over two byte arrays,
  * accumulated in int (dim·127² ≪ 2³¹, exact). Replaces the
  * `aggregate(zip_with(qa, qb, (x, y) => int(x)·int(y)), 0, _+_)` inner
  * loop of quantized scoring. Same fold order (trivially — int adds are
  * associative and exact); NULL semantics match zip_with (length mismatch
  * or null element → NULL). */
case class I8Dot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"i8_dot needs two array<tinyint>, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "i8_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getByte(i).toInt * y.getByte(i).toInt
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $acc = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (int) $x.getByte($i) * (int) $y.getByte($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): I8Dot =
    copy(left = newLeft, right = newRight)
}

object I8Dot {
  def apply(a: Column, b: Column): Column =
    GraftExprBridge.column(
      I8Dot(GraftExprBridge.expression(a), GraftExprBridge.expression(b)))
}

/** Native codegen'd 64-bit SimHash from an array of token hashes
  * (Charikar '02): one pass accumulating 64 signed bit votes in a local
  * long[64], then the sign vector. Replaces the interpreted
  * aggregate-of-zip_with vote fold (O(tokens·64) lambda evaluations and an
  * intermediate 64-long array per token). */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 needs array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Long](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) != 0L) votes(j) += 1L else votes(j) -= 1L
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val votes = ctx.freshName("votes")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |long[] $votes = new long[64];
         |final int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $arr.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    $votes[$j] += ((($h >>> $j) & 1L) != 0L) ? 1L : -1L;
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($votes[$j] > 0) $out |= (1L << $j);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def apply(hashes: Column): Column =
    GraftExprBridge.column(SimHash64(GraftExprBridge.expression(hashes)))
}

/** Fused cosine-LSH hyperplane signature (Charikar '02): all `planes` sign
  * bits in ONE pass over the vector, with the per-(plane, index)
  * pseudo-random components memoized across rows (they depend only on the
  * position, not the data — the combinator version rehashed every component
  * for every row). Bit-identical to the combinator formulation: component =
  * pmod(xxhash64(i, a_p), 2000001)/1e6 - 1, accumulated in index order.
  * Generated code calls the instance directly (addReferenceObj) so the
  * containing operator stays inside whole-stage codegen — the r18
  * CodegenFallback form demoted the whole projection. */
case class HyperplaneSig(child: Expression, planes: Int, seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig needs array<float>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  @transient private lazy val planeSeeds: Array[Long] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes)(rnd.nextLong())
  }
  // components[p][i] memo, grown on demand to the widest vector seen.
  // Tasks normally deserialize their own expression copy, but growth is
  // synchronized (and the buffer swapped atomically) in case an instance
  // is ever shared across threads.
  @transient private lazy val components: Array[java.util.concurrent.atomic.AtomicReference[Array[Double]]] =
    Array.fill(planes)(new java.util.concurrent.atomic.AtomicReference(Array.empty[Double]))

  private def component(p: Int, i: Int): Double = {
    var buf = components(p).get()
    if (i >= buf.length) {
      components(p).synchronized {
        buf = components(p).get()
        if (i >= buf.length) {
          val grown = java.util.Arrays.copyOf(buf, i + 1)
          var idx = buf.length
          while (idx <= i) {
            // xxhash64(idx: int, a_p: long), Spark's default seed 42, chained
            val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(
              planeSeeds(p),
              org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(idx, 42L))
            val m = ((h % 2000001L) + 2000001L) % 2000001L
            grown(idx) = m.toDouble / 1000000.0 - 1.0
            idx += 1
          }
          components(p).set(grown)
          buf = grown
        }
      }
    }
    buf(i)
  }

  /** The per-row kernel, shared by interpreted eval and generated code. */
  def sigOf(vec: ArrayData): Long = {
    val n = vec.numElements()
    // combinator edge semantics: an empty vector or any null element makes
    // every plane's projection NULL, and `when(null >= 0, bit)` takes the
    // otherwise-0 branch — signature 0
    if (n == 0) return 0L
    val proj = new Array[Double](planes)
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return 0L
      val x = vec.getFloat(i).toDouble
      var p = 0
      while (p < planes) {
        proj(p) += x * component(p, i)
        p += 1
      }
      i += 1
    }
    var sig = 0L
    var p = 0
    while (p < planes) {
      if (proj(p) >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    sigOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hps", this, classOf[HyperplaneSig].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.sigOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

object HyperplaneSig {
  def apply(vec: Column, planes: Int, seed: Long): Column =
    GraftExprBridge.column(
      HyperplaneSig(GraftExprBridge.expression(vec), planes, seed))
}
