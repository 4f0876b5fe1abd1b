package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.rel.{Rel, WhileFix}

/** Property-based relational-algebra laws over random small relations —
  * the TTM identities the engine must preserve regardless of data shape
  * (duplicates in the input bag, empty relations, skewed keys). Each law is
  * checked on a handful of generated cases; Spark-job cost keeps the count
  * deliberately small. */
class AlgebraPropSpec extends SparkSpec {
  import spark.implicits._

  // deterministic scalacheck sampling (scalatestplus bridge not shipped):
  // 5 cases per law, fixed seeds, size 12 — failures reproduce exactly
  private def cases[T](g: Gen[T], n: Int = 5): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default.withSize(12), Seed(i.toLong)))

  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    cases(g).foreach(f)

  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    cases(g1).zip(cases(g2, 7).drop(2)).foreach { case (a, b) => f(a, b) }

  // random bag of (k, v) tuples — small domains force duplicates and
  // overlapping keys between two generated relations
  private val tupleGen = Gen.listOf(
    Gen.zip(Gen.choose(0, 5), Gen.choose(0, 3)))

  private def rel(ts: List[(Int, Int)], a: String = "k", b: String = "v"): Rel =
    Rel.bag(
      if (ts.isEmpty) Seq.empty[(Int, Int)].toDF(a, b)
      else ts.toDF(a, b))

  private def set(ts: List[(Int, Int)]) = ts.toSet

  test("union/intersect/minus agree with Scala set algebra") {
    forAll(tupleGen, tupleGen) { (xs, ys) =>
      val (r, s) = (rel(xs), rel(ys))
      assert(r.union(s).df.collect().map(t => (t.getInt(0), t.getInt(1))).toSet
        === (set(xs) | set(ys)))
      assert(r.intersect(s).df.collect().map(t => (t.getInt(0), t.getInt(1))).toSet
        === (set(xs) & set(ys)))
      assert(r.minus(s).df.collect().map(t => (t.getInt(0), t.getInt(1))).toSet
        === (set(xs) -- set(ys)))
    }
  }

  test("symdiff = (r minus s) union (s minus r); rminus is the mirror") {
    forAll(tupleGen, tupleGen) { (xs, ys) =>
      val (r, s) = (rel(xs), rel(ys))
      assert(r.symdiff(s).relEquals(r.minus(s).union(s.minus(r))))
      assert(r.rminus(s).relEquals(s.minus(r)))
    }
  }

  test("sub/sup/relEquals are consistent orderings") {
    forAll(tupleGen, tupleGen) { (xs, ys) =>
      val (r, s) = (rel(xs), rel(ys))
      assert(r.sub(s) === set(xs).subsetOf(set(ys)))
      assert(r.sup(s) === set(ys).subsetOf(set(xs)))
      assert(r.relEquals(s) === (set(xs) == set(ys)))
      assert(r.union(s).sup(r) && r.intersect(s).sub(r))
    }
  }

  test("natural join on common key = Scala key-match; semijoin/ajoin partition r") {
    forAll(tupleGen, tupleGen) { (xs, ys) =>
      val r = rel(xs)                  // (k, v)
      val s = rel(ys, "k", "w")        // (k, w) — join on k
      val expected = for ((k, v) <- set(xs); (k2, w) <- set(ys) if k == k2)
        yield (k, v, w)
      assert(r.join(s).df.select("k", "v", "w").collect()
        .map(t => (t.getInt(0), t.getInt(1), t.getInt(2))).toSet === expected)
      // semijoin ∪ ajoin = r, and they are disjoint
      assert(r.semijoin(s).union(r.ajoin(s)).relEquals(r))
      assert(r.semijoin(s).sep(r.ajoin(s)) || r.semijoin(s).count() == 0
        || r.ajoin(s).count() == 0)
    }
  }

  test("project dedups; heading order never matters for equality") {
    forAll(tupleGen) { xs =>
      val r = rel(xs)
      assert(r.project("k").count() === set(xs).map(_._1).size)
      val flipped = Rel.bag(r.df.select(col("v"), col("k")))
      assert(flipped.relEquals(r))
    }
  }

  test("divide and compose agree with Scala-set definitions") {
    forAll(tupleGen, tupleGen) { (xs, ys) =>
      val r = rel(xs)                  // (k, v)
      val s = rel(ys, "k", "w")        // (k, w)
      val sKeys = set(ys).map(_._1)
      // divide (Andl joinl): {v | ∃k: (k,v) ∈ r ∧ k matches s}
      val wantDiv = set(xs).collect { case (k, v) if sKeys(k) => v }
      assert(r.divide(s).df.collect().map(_.getInt(0)).toSet === wantDiv)
      // compose: {(v,w) | ∃k: (k,v) ∈ r ∧ (k,w) ∈ s}
      val wantComp = for ((k, v) <- set(xs); (k2, w) <- set(ys) if k == k2) yield (v, w)
      assert(r.compose(s).df.select("v", "w").collect()
        .map(t => (t.getInt(0), t.getInt(1))).toSet === wantComp)
    }
  }

  test("grouped fold(+) agrees with Scala groupBy-sum") {
    forAll(tupleGen) { xs =>
      if (xs.nonEmpty) {
        val got = rel(xs).aggregate(Seq("k"), "s" -> sum(col("v")))
          .df.collect().map(t => (t.getInt(0), t.getLong(1))).toMap
        val want = set(xs).groupBy(_._1).map { case (k, ts) =>
          (k, ts.map(_._2.toLong).sum) }
        assert(got === want)
      }
    }
  }

  test("stored .order drives later grouped concat folds (language semantics)") {
    // r2 := r .order(k, v) stored, THEN a separate statement folds — the
    // concat must come out per-k in (k, v) order regardless of the bag's
    // generation order (the reference's sorted-stored-table semantics)
    import graft.lang.AndlInterp
    import graft.lang.AndlValues._
    forAll(tupleGen) { xs0 =>
      val xs = xs0.map { case (k, v) => (k, ('a' + v).toChar.toString) }
      if (xs.nonEmpty) {
        val lits = xs.map { case (k, v) => s"{k := $k, v := '$v'}" }
        val i = new AndlInterp(spark, ".")
        i.run(
          s"r := {${lits.mkString(",")}}\n" +
            "r2 := r .order(k, v)\n" +
            "a := r2 .select{ k, t := fold(&, v) }", "prop")
        val got: Map[Int, String] = i.global.lookup("a") match {
          case Some(RelV(_, rel)) => rel.df.select("k", "t").collect()
            .map(r => r.getDouble(0).toInt -> r.getString(1)).toMap
          case Some(LRelV(_, rows)) => rows.map { t =>
            val m = t.fields.toMap
            (m("k").asInstanceOf[NumV].d.toInt, m("t").asInstanceOf[TextV].s)
          }.toMap
          case other => fail(s"a is $other")
        }
        val want = xs.distinct.sorted.groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).mkString }
        assert(got === want, s"input $xs")
      }
    }
  }

  test("nest/unnest round-trip is identity on random relations") {
    import graft.rel.Nest
    forAll(tupleGen) { xs =>
      val r = rel(xs)
      val nested = Nest.nest(r, "rva", Seq("v"))
      assert(Nest.unnest(nested, "rva").relEquals(r), s"input $xs")
      // nest groups exactly the distinct keys
      assert(nested.count() === set(xs).map(_._1).size)
    }
  }

  test("transformOrdered %k subtotal collapse equals Scala groupBy-sum") {
    import graft.rel.{Ordered, OrderSpec}
    forAll(tupleGen) { xs =>
      if (xs.nonEmpty) {
        // distinct (k, v) pairs: v is then a total order within each k group
        val r = rel(xs)
        val spec = OrderSpec(Seq("k"), Seq(col("v")))
        val out = Ordered.transformOrdered(r, spec,
          nonFold = Seq("k" -> col("k")),
          folds = Seq(("s", "+", col("v"))))
        val got = out.df.collect().map(t => (t.getInt(0), t.getLong(1))).toMap
        val want = set(xs).groupBy(_._1)
          .map { case (k, ts) => k -> ts.map(_._2.toLong).sum }
        assert(got === want, s"input $xs")
      }
    }
  }

  test("withGlobalOrdinal numbers 1..n consistently with the total order") {
    import graft.rel.Ordered
    forAll(tupleGen) { xs =>
      if (xs.nonEmpty) {
        val df = rel(xs).df // distinct (k, v): (k, v) is a total order
        val got = Ordered.withGlobalOrdinal(df, Seq(col("k"), col("v")), "i")
          .collect().map(t => ((t.getInt(0), t.getInt(1)), t.getLong(2)))
        val want = set(xs).toSeq.sorted.zipWithIndex
          .map { case (kv, i) => (kv, (i + 1).toLong) }.toMap
        assert(got.toMap === want, s"input $xs")
        assert(got.map(_._2).sorted.toSeq === (1L to set(xs).size).toSeq)
      }
    }
  }

  test("while-fixpoint equals naive iterate-to-fixpoint on random successor graphs") {
    // step: k -> (k + d) mod 7 for a random d per relation; fixpoint =
    // closure of repeated application, computed naively in Scala
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 6)), Gen.choose(1, 6)) { (seeds, d) =>
      val seed = Rel.distinct(seeds.map(k => Tuple1(k)).toDF("k"))
      val out = WhileFix.rel(seed, r => r.transform("k" -> ((col("k") + d) % 7)))
      var want = seeds.toSet
      var grew = true
      while (grew) {
        val next = want ++ want.map(k => (k + d) % 7)
        grew = next.size > want.size
        want = next
      }
      assert(out.df.collect().map(_.getInt(0)).toSet === want)
    }
  }

  // read a language result as its rows of (attr -> int) maps, either tier;
  // a set-valued result holds no row twice
  private def relRows(i: graft.lang.AndlInterp, name: String): Seq[Map[String, Int]] = {
    import graft.lang.AndlValues._
    i.global.lookup(name) match {
      case Some(RelV(_, rel)) =>
        val cols = rel.attrs
        rel.df.collect().toSeq.map(r => cols.map(c =>
          c -> r.getAs[Any](c).asInstanceOf[Number].intValue).toMap)
      case Some(LRelV(_, rows)) => rows.map(_.fields.toMap.map {
        case (k, NumV(d)) => k -> d.toInt
        case (k, other) => fail(s"$name.$k is $other")
      })
      case other => fail(s"$name is $other")
    }
  }

  private def relSet(i: graft.lang.AndlInterp, name: String): Set[Map[String, Int]] =
    relRows(i, name).toSet

  // one update statement over r(k, v) and its replay on a Scala set
  private case class Verb(andl: String, replay: Set[(Int, Int)] => Set[(Int, Int)])

  // every tuple with k >= c becomes (k, 0): tuples that share a key merge,
  // so the update's deferred dedup has work to do
  private def collapse(c: Int) = Verb(s"update r .where(k >= $c) .select{ *v := 0 }",
    _.map { case (k, v) => if (k >= c) (k, 0) else (k, v) })

  private val verbGen: Gen[Verb] = Gen.oneOf(
    Gen.zip(Gen.choose(0, 5), Gen.choose(0, 3)).map { case (k, v) =>
      Verb(s"update r union {{k := $k, v := $v}}", _ + ((k, v))) },
    Gen.choose(0, 5).map(c =>
      Verb(s"update r .where(k = $c) .select{}", _.filterNot(_._1 == c))),
    Gen.zip(Gen.choose(0, 6), Gen.choose(1, 3)).map { case (t, d) =>
      Verb(s"update r .where(v >= $t) .select{ *v := v + $d }",
        _.map { case (k, v) => if (v >= t) (k, v + d) else (k, v) }) },
    Gen.choose(0, 5).map(collapse))

  // up to 32 statements, at least one of them a collapsing update
  private val verbsGen: Gen[List[Verb]] = for {
    vs <- Gen.choose(0, 31).flatMap(Gen.listOfN(_, verbGen))
    at <- Gen.choose(0, vs.size)
    c <- Gen.choose(0, 5)
  } yield vs.patch(at, Seq(collapse(c)), 0)

  test("random update verbs (insert/delete/set) agree with a Scala replay") {
    import graft.lang.AndlInterp
    forAll(tupleGen, verbsGen) { (xs, verbs) =>
      if (xs.nonEmpty) {
        val script = verbs.map(_.andl).mkString("\n")
        val want = verbs.foldLeft(set(xs))((s, v) => v.replay(s))
          .map(t => Map("k" -> t._1, "v" -> t._2))
        // the row count catches an update whose merged tuples were not deduped
        def check(in: AndlInterp, tier: String): Unit = {
          val got = relRows(in, "r")
          assert(got.toSet === want && got.size === want.size,
            s"$tier relvar, input $xs:\n$script")
        }
        val rl = xs.map { case (k, v) => s"{k := $k, v := $v}" }.mkString(",")
        val onLiteral = new AndlInterp(spark, ".")
        onLiteral.run(s"r := {$rl}\n$script", "prop3")
        check(onLiteral, "literal")
        // the same rows from parquet: a relvar whose plan Catalyst cannot
        // fold, so every statement stacks on a real scan
        val path = java.nio.file.Files.createTempDirectory("graft-prop3")
          .resolve("r.parquet").toString
        set(xs).toSeq.toDF("k", "v").write.parquet(path)
        val onParquet = new AndlInterp(spark, ".")
        onParquet.defineRelvar("r", spark.read.parquet(path))
        onParquet.run(script, "prop3")
        check(onParquet, "parquet")
      }
    }
  }

  test("random language scripts (join/union/minus/fold) agree with set algebra") {
    import graft.lang.AndlInterp
    forAll(tupleGen, tupleGen) { (xs, ys) =>
      if (xs.nonEmpty && ys.nonEmpty) {
        val rl = xs.map { case (k, v) => s"{k := $k, v := $v}" }.mkString(",")
        val sl = ys.map { case (k, w) => s"{k := $k, w := $w}" }.mkString(",")
        val i = new AndlInterp(spark, ".")
        i.run(
          s"""r := {$rl}
             |s := {$sl}
             |j := r join s
             |u := (r .where(k < 3)) union (r .where(k >= 2))
             |m := r minus (r .where(v = 1))
             |a := r .select{ k, t := fold(+, v) }
             |sj := r semijoin s
             |aj := r ajoin s
             |co := r compose s
             |dv := r divide s""".stripMargin, "prop2")
        val (rs, ss) = (set(xs), set(ys))
        val sKeys = ss.map(_._1)
        def rm(t: (Int, Int)) = Map("k" -> t._1, "v" -> t._2)
        val wantJ = for ((k, v) <- rs; (k2, w) <- ss if k == k2)
          yield Map("k" -> k, "v" -> v, "w" -> w)
        assert(relSet(i, "j") === wantJ, s"join: $xs $ys")
        assert(relSet(i, "u") ===
          rs.filter(t => t._1 < 3 || t._1 >= 2).map(rm),
          s"union: $xs")
        assert(relSet(i, "m") === rs.filterNot(_._2 == 1).map(rm),
          s"minus: $xs")
        assert(relSet(i, "a") ===
          rs.groupBy(_._1).map { case (k, ts) =>
            Map("k" -> k, "t" -> ts.map(_._2).sum) }.toSet,
          s"fold: $xs")
        assert(relSet(i, "sj") === rs.filter(t => sKeys(t._1)).map(rm),
          s"semijoin: $xs $ys")
        assert(relSet(i, "aj") === rs.filterNot(t => sKeys(t._1)).map(rm),
          s"ajoin: $xs $ys")
        assert(relSet(i, "co") ===
          (for ((k, v) <- rs; (k2, w) <- ss if k == k2)
            yield Map("v" -> v, "w" -> w)),
          s"compose: $xs $ys")
        assert(relSet(i, "dv") ===
          rs.collect { case (k, v) if sKeys(k) => Map("v" -> v) },
          s"divide: $xs $ys")
      }
    }
  }

  test("winnow equals the naive window-min selection on random token streams") {
    // small alphabet forces repeated tokens (the MOSS edge case: equal
    // gram hashes inside one window)
    val docGen = Gen.nonEmptyListOf(Gen.oneOf("aa", "bb", "cc", "dd"))
    val (k, w) = (3, 4)
    forAll(docGen) { toks =>
      val text = toks.mkString(" ")
      val got = Seq(Tuple1(text)).toDF("text")
        .select(explode(graft.pipeline.TextAnalysis.winnow(col("text"), k, w)))
        .collect().map(_.getString(0)).toSet
      // naive replay: md5 per k-gram (same truncating slice conventions),
      // min per w-window, distinct
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(
          s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val grams = (1 to math.max(toks.length - (k - 1), 1))
        .map(i => md5hex(toks.slice(i - 1, i - 1 + k).mkString(" ")))
      val want = (1 to math.max(grams.length - (w - 1), 1))
        .map(i => grams.slice(i - 1, i - 1 + w).min).toSet
      assert(got === want, s"tokens $toks")
    }
  }

  test("quantileBand equals naive sorted-rank selection on random multisets") {
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 20L)),
           Gen.zip(Gen.choose(1, 49), Gen.choose(50, 99))) { case (vs, (lo, hi)) =>
      val (qLo, qHi) = (lo / 100.0, hi / 100.0)
      val got = graft.pipeline.Profile.quantileBand(vs.toDF("v"), "v", qLo, qHi)
      val sorted = vs.sorted
      def at(q: Double): Long =
        sorted(math.max(1, math.ceil(q * vs.length).toInt) - 1)
      assert(got === (at(qLo), at(qHi)), s"values $vs q=($qLo,$qHi)")
    }
  }
}
