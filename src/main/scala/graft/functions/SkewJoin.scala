package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.StageBoundaryOps

/** Salted equi-join for skewed keys (the manual fallback when AQE's
  * skew-join splitting isn't enough — e.g. a single pathological key that
  * dominates a partition).
  *
  * Salting is **hot-key-scoped**: only keys detected (or declared) as hot
  * are spread. Hot probe rows get a deterministic salt in [0, saltFactor)
  * hashed from a secondary column (same row → same salted partition —
  * important for retries/speculation); cold probe rows get the fixed salt
  * 0. On the build side, hot-key rows are replicated once per salt value
  * while cold-key rows keep the single salt 0 — so the replication cost
  * is `saltFactor × (build rows of hot keys)`, proportional to the skew,
  * not to the data. The naive formulation — replicating the WHOLE build
  * side saltFactor times — multiplies shuffle volume on the entire build
  * side to fix a handful of keys and is a scale-killer at 100 TB.
  *
  * Everything stays a single equi-join on (key, salt): one scan per
  * side, no split/union, and one hot key spreads over saltFactor
  * reducers. Results are identical to the unsalted join; only the
  * partitioning changes. With no hot keys (detection returns empty) the
  * plan degrades to exactly the plain join.
  */
object SkewJoin {

  /** Detect hot keys from a small sample of `df`: a key is hot when its
    * estimated row count exceeds `skewFactor` × the mean per-shuffle-
    * partition share — i.e. it would dominate a reducer. Returns at most
    * `maxKeys` values (the salt expressions `isin`-test them, so the set
    * must stay literal-sized; genuinely skewed data has few hot keys by
    * definition). The sampling pass costs one scan of `sampleFraction`
    * of the probe-side key column — at 100 TB, a column-pruned 1% scan,
    * far cheaper than any replication.
    */
  def detectHotKeys(
      df: DataFrame,
      key: String,
      sampleFraction: Double = 0.01,
      skewFactor: Double = 2.0,
      maxKeys: Int = 100,
      seed: Long = 42L): Seq[Any] = {
    val sampled = df.select(col(key)).where(col(key).isNotNull)
      .sample(withReplacement = false, sampleFraction, seed)
      .groupBy(col(key)).count().cachedStageBoundary
    try {
      val agg = sampled.agg(sum(col("count")), count(lit(1))).head()
      if (agg.isNullAt(0)) return Seq.empty
      val totalSampled = agg.getLong(0).toDouble
      val parts = df.sparkSession.sessionState.conf.numShufflePartitions.toDouble
      val threshold = math.max(skewFactor * totalSampled / parts, 2.0)
      sampled.filter(col("count") >= threshold)
        .orderBy(col("count").desc)
        .limit(maxKeys)
        .collect()
        .map(_.get(0))
        .toSeq
    } finally sampled.unpersist()
  }

  /** Build side with hot-key rows replicated once per salt in
    * [0, saltFactor) and cold-key rows kept at the single salt 0 —
    * exposed so SkewJoinSpec can pin that cold keys are NOT replicated. */
  private[graft] def replicatedBuildSide(
      other: DataFrame,
      otherKey: String,
      hot: Seq[Any],
      saltFactor: Int): DataFrame = {
    val isHot = coalesce(col(otherKey).isin(hot: _*), lit(false))
    other.withColumn("__salt",
      explode(when(isHot, sequence(lit(0), lit(saltFactor - 1)))
        .otherwise(array(lit(0)))))
  }

  def saltedJoin(
      skewed: DataFrame,
      other: DataFrame,
      skewedKey: String,
      otherKey: String,
      saltSource: Column,
      saltFactor: Int = 8,
      hotKeys: Option[Seq[Any]] = None): DataFrame = {
    val hot = hotKeys.getOrElse(detectHotKeys(skewed, skewedKey))
    if (hot.isEmpty) {
      // no skew → the plain join IS the right plan
      skewed.join(other, skewed(skewedKey) === other(otherKey))
    } else {
      val probeHot = coalesce(col(skewedKey).isin(hot: _*), lit(false))
      val saltedLeft = skewed.withColumn("__salt",
        when(probeHot, pmod(hash(saltSource), lit(saltFactor))).otherwise(lit(0)))
      val saltedRight = replicatedBuildSide(other, otherKey, hot, saltFactor)
      saltedLeft.join(saltedRight,
          saltedLeft(skewedKey) === saltedRight(otherKey) &&
            saltedLeft("__salt") === saltedRight("__salt"))
        .drop("__salt")
    }
  }
}
