package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pre-fusion Column-combinator formulations of the native kernels — the
  * differential oracles `HashExprsSpec` and `PipelineSpec` compare the
  * fused expressions against. Each one is the combinator chain its kernel
  * replaced; nothing outside the tests evaluates them. */
object KernelReference {

  /** Column-level let-binding (a copy of `TextAnalysis.bind`): evaluate `x`
    * once per row and use it many times in `body`. */
  private def bind(x: Column)(body: Column => Column): Column =
    transform(array(x), x0 => body(x0)).getItem(0)

  /** `Similarity.dot`. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** `Similarity.hyperplaneSig`. */
  def hyperplaneSig(vec: Column, planes: Int = 8, seed: Long = 7L): Column = {
    val rnd = new scala.util.Random(seed)
    val bits = (0 until planes).map { p =>
      // per-plane pseudo-random component for index i: hash(seed, p, i) → [-1,1]
      val a = rnd.nextLong()
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) =>
          x.cast("double") *
            (pmod(xxhash64(i, lit(a)), lit(2000001L)).cast("double") / 1000000.0 - 1.0)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((x, y) => x.bitwiseOR(y))
  }

  /** `Similarity.dotI8`. */
  def dotI8(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.getField("q"), b.getField("q"),
        (x, y) => x.cast("int") * y.cast("int")),
      lit(0), (acc, v) => acc + v)
      .cast("double") * a.getField("scale") * b.getField("scale")

  /** `Similarity.l2sq`. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** `TextAnalysis.hashedShingles`. */
  def hashedShingles(text: Column, k: Int = 3): Column =
    bind(split(lower(trim(text)), "[^a-z0-9]+")) { toks =>
      val idx = sequence(lit(0), greatest(size(toks) - k, lit(0)))
      array_distinct(transform(idx,
        i => xxhash64(array_join(slice(toks, i + 1, lit(k)), " "))))
    }

  /** `TextAnalysis.hashedCharNgrams`. */
  def hashedCharNgrams(text: Column, n: Int = 5): Column =
    bind(regexp_replace(lower(trim(text)), "\\s+", " ")) { s =>
      val idx = sequence(lit(1), greatest(length(s) - (n - 1), lit(1)))
      array_distinct(transform(idx, i => xxhash64(s.substr(i, lit(n)))))
    }

  /** `Dedup.minhashSignature` (same coefficient stream; must agree
    * value-for-value on non-empty input). */
  def minhashSignature(hashedShingles: Column, numHashes: Int = 64,
                       seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    // 2^31-1 (Mersenne prime): keeps h*a < 2^62, no ANSI long overflow
    val p = 2147483647L
    val coeffs = Seq.fill(numHashes)((math.abs(rnd.nextLong()) % (p - 1) + 1,
                                      math.abs(rnd.nextLong()) % p))
    // let-bind the reduced hashes: inlined, they (and the whole upstream
    // shingle expression) would be re-evaluated once per coefficient
    bind(transform(hashedShingles, s => pmod(s.cast("long"), lit(p)))) { hashes =>
      array(coeffs.map { case (a, b) =>
        array_min(transform(hashes, h => pmod(h * lit(a) + lit(b), lit(p))))
      }: _*)
    }
  }

  /** `Dedup.simhash`. */
  def simhash(text: Column): Column = {
    val toks = split(lower(trim(text)), "[^a-z0-9]+")
    // constant-folded literal array of the 64 bit masks
    val masks = array((0 until 64).map(i => lit(1L << i)): _*)
    bind(transform(filter(toks, t => length(t) > 0), t => xxhash64(t))) { hashes =>
      val votes = aggregate(hashes, array_repeat(lit(0L), 64),
        (acc, h) => zip_with(acc, masks,
          (a, m) => a + when(h.bitwiseAND(m) =!= 0, 1L).otherwise(-1L)))
      aggregate(zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
        lit(0L), (acc, b) => acc.bitwiseOR(b))
    }
  }
}
