package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. `df.sample()` is
  * seed-stable only for a FIXED partitioning — repartition the corpus (or
  * rerun at another scale) and the kept set changes, which breaks
  * train/test splits, A/B corpus freezes, and any downstream cache. These
  * samplers hash row CONTENT instead, so membership is a pure function of
  * the row: stable across partitioning, cluster size, engine version, and
  * even engines (the oracle recomputes it in SQL).
  *
  * The hash is the first 4 bytes of md5 — uniform enough for rate control,
  * available identically everywhere, and cheap (one codegen'd expression;
  * no shuffle, no UDF: sampling stays a narrow map over the scan at any
  * scale).
  */
object Sampling {

  /** Uniform bucket in [0, buckets) from row content. */
  def hashBucket(key: Column, buckets: Int = 100): Column =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10)
      .cast("int") % buckets

  /** [[hashBucket]] fused and MEMOIZED ([[graft.functions.Md5Bucket]] —
    * bit-identical, HashExprsSpec pins it differentially): for GRAM-level
    * keys, whose stream is Zipf-distributed, the bounded per-task memo
    * turns one md5 per occurrence into one md5 per distinct gram seen
    * (measured 0.67–0.74× on the DSIR rows). For unique-per-row keys
    * (doc ids — hashSample/hashSplit) prefer [[hashBucket]]: the memo
    * can never hit and the combinator chain stays whole-stage-codegen'd
    * in the surrounding filter (measured faster there). */
  def hashBucketMemo(key: Column, buckets: Int = 100): Column =
    graft.functions.Md5Bucket(key.cast("string"), buckets)

  /** Keep ~rate of rows, deterministically by `key` content. The same key
    * is kept or dropped identically in every run — a train/test split is a
    * pair of these with complementary predicates. */
  def hashSample(df: DataFrame, key: Column, rate: Double,
                 buckets: Int = 100): DataFrame =
    df.filter(hashBucket(key, buckets) < math.round(rate * buckets).toInt)

  /** Deterministic train/val/test split: every row gets a split label from
    * its content-hash bucket (cumulative fraction thresholds), so the
    * partition is a pure function of the key — stable across runs,
    * engines, partitioning, and corpus growth (a new document never moves
    * an old one between splits). Fractions must sum to ≤ 1; any remainder
    * bucket falls into the LAST split. Narrow map, no shuffle. */
  def hashSplit(df: DataFrame, key: Column,
                fractions: Seq[(String, Double)] = Seq(
                  "train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                buckets: Int = 100): DataFrame = {
    require(fractions.nonEmpty && fractions.map(_._2).sum <= 1.0 + 1e-9)
    val cuts = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val b = hashBucket(key, buckets)
    val label = fractions.zip(cuts).init.foldRight(
      lit(fractions.last._1)) { case (((name, _), cut), rest) =>
      when(b < math.round(cut * buckets).toInt, lit(name)).otherwise(rest)
    }
    // evaluate the CASE once via a single projection
    df.withColumn("split", label)
  }

  /** Temperature-balanced corpus mixing (the multilingual/multi-source
    * α-sampling recipe): source s with share p_s = n_s/N is sampled with
    * probability ∝ p_s^α, flattening the mix toward uniform as α → 0.
    * Keep rate r_s = min(1, target·N·n_s^(α-1)/Σ n^α), so the expected
    * output is ~target·N rows distributed by the tempered shares.
    *
    * The per-source rate table is computed INSIDE the plan (two tiny
    * aggregations, broadcast back) — no driver round trip — and
    * membership is the same content-hash predicate as [[hashSample]], so
    * the kept set is deterministic and engine-portable. Rates are rounded
    * to 6dp so the bucket comparison replays identically in SQL. */
  def temperatureMix(df: DataFrame, stratum: Column, key: Column,
                     alpha: Double = 0.5, target: Double = 0.5,
                     buckets: Int = 100): DataFrame = {
    val counts = df.groupBy(stratum.as("__s")).agg(count(lit(1)).as("__n"))
    val tot = counts.agg(
      sum(col("__n")).cast("double").as("__N"),
      sum(pow(col("__n").cast("double"), lit(alpha))).as("__Z"))
    // tot derives from counts — alias both sides so the self-join's cloned
    // attributes stay unambiguous
    val rates = counts.alias("c").crossJoin(broadcast(tot.alias("t")))
      .select(col("c.__s").as("__s"),
        round(least(lit(1.0),
          lit(target) * col("t.__N") *
            pow(col("c.__n").cast("double"), lit(alpha - 1.0)) / col("t.__Z")), 6)
          .as("__r"))
    df.join(broadcast(rates), stratum === col("__s"))
      .filter(hashBucket(key, buckets) < round(col("__r") * buckets).cast("int"))
      .drop("__s", "__r")
  }

  /** Per-ROW keep rate (soft quality filtering): row kept with
    * probability `rate` — a Column in [0,1] computed from the row itself
    * (a quality score, a perplexity bucket), so high-quality documents are
    * oversampled instead of hard-thresholded. Membership is the same
    * content-hash bucket as [[hashSample]] and the rate is rounded to 2dp
    * before the bucket compare, so the kept set is a pure deterministic
    * function of the row — engine-portable and partitioning-stable. Still
    * a narrow map over the scan: no shuffle at any scale. */
  def weightedHashSample(df: DataFrame, key: Column, rate: Column,
                         buckets: Int = 100): DataFrame =
    df.filter(hashBucket(key, buckets) <
      round(round(rate, 2) * buckets).cast("int"))

  /** Per-stratum rates: keep ~rates(stratum) of each group. Strata missing
    * from the map are dropped — a corpus-mix recipe ("3% of web, 40% of
    * books") is exactly this call. Broadcast map lookup, still a narrow
    * map: no shuffle at any scale. */
  def stratifiedHashSample(df: DataFrame, stratum: Column, key: Column,
                           rates: Map[String, Double],
                           buckets: Int = 100): DataFrame = {
    val rateCol = rates.foldLeft(lit(0.0)) { case (acc, (s, r)) =>
      when(stratum === s, lit(r)).otherwise(acc)
    }
    df.filter(hashBucket(key, buckets) < round(rateCol * buckets).cast("int"))
  }

  /** Per-group ADAPTIVE value floor: keep rows whose `value` is at or above
    * their group's exact `pctNum/pctDen` quantile — "drop the bottom 40%
    * of each source by quality", with the cutoff computed per source so a
    * high-quality source isn't gutted by a global threshold and a spammy
    * one isn't waved through.
    *
    * Exact, not approximate, via the histogram route: one hash aggregate
    * over (group, value) — map-side combinable, cardinality = distinct
    * values per group, NOT rows — then a cumulative count over that small
    * histogram (windowed per group, bounded by distinct values), and a
    * broadcast-sized (group → threshold) table joined back. The corpus
    * itself is touched by exactly two narrow passes and one aggregate; no
    * per-row window, no sort of the data. The quantile rank compare is
    * kept integral (`pctDen·cum ≥ pctNum·total`) so it replays bit-exactly
    * in SQL.
    *
    * Returns rows with `value ≥ threshold(group)` (ties at the cutoff are
    * kept). `value` should be pre-rounded if float-derived, so both engines
    * agree on the histogram keys. */
  def adaptiveFloor(df: DataFrame, group: Column, value: Column,
                    pctNum: Int, pctDen: Int): DataFrame = {
    require(pctNum >= 0 && pctNum <= pctDen && pctDen > 0,
      s"adaptiveFloor: bad quantile $pctNum/$pctDen")
    val hist = df.groupBy(group.as("__g"), value.as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__tot", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))))
    val thresholds = cum
      .where(col("__cum") * pctDen >= col("__tot") * pctNum)
      .groupBy(col("__g")).agg(min(col("__v")).as("__thr"))
    df.join(broadcast(thresholds), group === col("__g"))
      .where(value >= col("__thr"))
      .drop("__g", "__thr")
  }
}
