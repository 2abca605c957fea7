package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** Bloom-filter semi-join pruning — the scan-side runtime-filter lever,
  * exposed as a first-class operator.
  *
  * The 100 TB shape: a fact-side shuffle semi-join against a dim too big
  * to broadcast EXACTLY still fits a Bloom filter of its keys in a few
  * megabytes (9.6 bits/key at 1% fpp vs ≥16 bytes/key for a hash table).
  * Building the filter is one aggregate over the dim keys; probing is a
  * codegen'd predicate evaluated INSIDE the fact scan stage, so rows
  * that cannot match never reach the join's exchange — shuffle volume
  * drops by the join selectivity before any network cost is paid. False
  * positives pass the probe but are removed by the exact semi-join that
  * follows, so the answer is IDENTICAL to the plain semi-join (the
  * DuckDB oracle states exactly that relation).
  *
  * This is the manual, composable form of what Spark's
  * `InjectRuntimeFilter` rule automates (same catalyst expression pair:
  * `BloomFilterAggregate` build, `BloomFilterMightContain` probe, both
  * over xxhash64 of the key); owning the operator lets a pipeline build
  * the filter ONCE and push it into many consumers — cross-query reuse
  * the optimizer rule cannot see.
  */
object BloomPrune {

  /** Register the catalyst Bloom expression pair under session function
    * names (they ship in Spark but are not in the public registry). */
  def register(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_bloom_agg",
      exprs => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2)),
      "built-in")
    reg.createOrReplaceTempFunction("graft_might_contain",
      exprs => BloomFilterMightContain(exprs(0), exprs(1)),
      "built-in")
  }

  /** Serialized Bloom filter over `dim`'s `dimKey` values (xxhash64'd —
    * the same keying [[bloomSemiJoin]] probes with). Null when `dim` is
    * empty. Driver-sized: `numBits/8` bytes regardless of dim row count
    * — the point of the structure. */
  def buildFilter(dim: DataFrame, dimKey: String,
                  expectedItems: Long, fpp: Double): Array[Byte] = {
    val s = dim.sparkSession
    register(s)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    dim.select(call_function("graft_bloom_agg",
        xxhash64(col(dimKey)), lit(expectedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** `fact LEFT SEMI JOIN dim ON factKey = dimKey`, with the fact side
    * pre-pruned by a Bloom filter of the dim keys. Result is exactly the
    * plain semi-join (false positives fall to the exact join); only the
    * shuffle volume changes. */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame,
                    factKey: String, dimKey: String,
                    expectedItems: Long = 1000000L,
                    fpp: Double = 0.01): DataFrame = {
    val bytes = buildFilter(dim, dimKey, expectedItems, fpp)
    // side-qualify BOTH join columns: an unqualified col(dimKey) would be
    // ambiguous (or silently resolve against the fact side) whenever the
    // fact frame also has a column named dimKey — e.g. a doc_id-to-doc_id
    // self-keyed semi-join
    val d = dim.select(col(dimKey))
    if (bytes == null) {
      // empty dim → empty semi-join; keep the exact-join plan shape
      fact.join(d, fact(factKey) === d(dimKey), "left_semi")
    } else {
      val pruned = fact.filter(call_function("graft_might_contain",
        lit(bytes), xxhash64(col(factKey))))
      pruned.join(d, pruned(factKey) === d(dimKey), "left_semi")
    }
  }
}
