package graft

import org.apache.spark.sql.functions._

import graft.functions.BloomPrune
import graft.sources.{StateStore, Tables}

class BloomPruneSpec extends SparkSpec {

  test("bloom-pruned semi-join returns exactly the plain semi-join rows") {
    val fact = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"))
    val dim = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val plain = fact.join(dim, fact("l_orderkey") === col("o_orderkey"), "left_semi")
    val bloomed = BloomPrune.bloomSemiJoin(fact, dim, "l_orderkey", "o_orderkey")
    assert(bloomed.count() == plain.count())
    assert(bloomed.except(plain).isEmpty && plain.except(bloomed).isEmpty)
  }

  test("false positives never reach the answer, even with a saturated filter") {
    val s = spark
    import s.implicits._
    // 16 expected items / 50% fpp over 5k dim keys: the filter is
    // deliberately useless (nearly every probe passes) — the exact join
    // must still produce precisely the true matches
    val fact = s.range(0, 20000).select(col("id").as("k"))
    val dim = s.range(0, 10000).filter(col("id") % 2 === 0).select(col("id").as("dk"))
    val bloomed = BloomPrune.bloomSemiJoin(fact, dim, "k", "dk",
      expectedItems = 16, fpp = 0.5)
    val plain = fact.join(dim, col("k") === col("dk"), "left_semi")
    assert(bloomed.except(plain).isEmpty && plain.except(bloomed).isEmpty)
  }

  test("the might_contain probe sits in the fact scan stage, before the join") {
    val fact = Tables.lineitem(spark, sfDir).select(col("l_orderkey"))
    val dim = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val df = BloomPrune.bloomSemiJoin(fact, dim, "l_orderkey", "o_orderkey")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"bloom probe must appear as a predicate in the plan:\n$p")
    val probeAt = p.indexOf("might_contain")
    val joinAt = p.indexOf("Join")
    assert(joinAt >= 0 && probeAt > joinAt,
      // plan trees print top-down: the probe BELOW the join node means it
      // executes before rows reach the join
      s"probe must be beneath (execute before) the semi-join:\n$p")
  }

  test("filter size is driver-bounded by numBits, not by dim cardinality") {
    val bytes = BloomPrune.buildFilter(
      Tables.orders(spark, sfDir).select(col("o_orderkey")),
      "o_orderkey", expectedItems = 1L << 20, fpp = 0.01)
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(1L << 20, 0.01)
    // serialized form = header + bit array
    assert(bytes.length <= numBits / 8 + 64,
      s"filter must serialize at ~numBits/8 bytes, got ${bytes.length}")
  }

  test("one built filter serves many consumers (the cross-query reuse InjectRuntimeFilter can't see)") {
    val dim = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val bf = BloomPrune.buildFilter(dim, "o_orderkey", 1L << 20, 0.01)
    BloomPrune.register(spark)
    def prunedCount(fact: org.apache.spark.sql.DataFrame, key: String): Long =
      fact.filter(call_function("graft_might_contain", lit(bf), xxhash64(col(key))))
        .join(dim, col(key) === col("o_orderkey"), "left_semi").count()
    // the same serialized filter probes two different fact tables
    val li = prunedCount(Tables.lineitem(spark, sfDir).select(col("l_orderkey")), "l_orderkey")
    val oo = prunedCount(Tables.orders(spark, sfDir).select(col("o_orderkey").as("k")), "k")
    val liPlain = Tables.lineitem(spark, sfDir)
      .join(dim, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    val ooPlain = Tables.orders(spark, sfDir).select(col("o_orderkey").as("k"))
      .join(dim, col("k") === col("o_orderkey"), "left_semi").count()
    assert(li == liPlain && oo == ooPlain,
      s"reused filter must stay answer-invisible: $li/$liPlain, $oo/$ooPlain")
  }

  test("empty build side yields an empty result, not a crash") {
    val fact = Tables.lineitem(spark, sfDir).select(col("l_orderkey"))
    val dim = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") < 0).select(col("o_orderkey"))
    assert(BloomPrune.bloomSemiJoin(fact, dim, "l_orderkey", "o_orderkey").isEmpty)
  }

  /** A family no earlier run has used, so the key's state starts absent. */
  private def freshFamily(name: String): String =
    s"test_${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  test("persistedFilter builds once, then serves every later call from disk") {
    val dim = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val key = StateStore.key(freshFamily("bloom"), dim)
    var builds = 0
    def build: Array[Byte] = { builds += 1; BloomPrune.buildFilter(dim, "o_orderkey", 1L << 20, 0.01) }
    val first = StateStore.bytes(key)(build)
    val second = StateStore.bytes(key)(build)
    assert(builds == 1, s"second call must read the published state, built $builds times")
    assert(java.util.Arrays.equals(first, second))
  }

  test("persistedFilter never publishes an empty-dim (null) build") {
    val empty = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") < 0).select(col("o_orderkey"))
    val key = StateStore.key(freshFamily("bloom_null"), empty)
    var builds = 0
    def build: Array[Byte] = { builds += 1; BloomPrune.buildFilter(empty, "o_orderkey", 1L << 20, 0.01) }
    assert(StateStore.bytes(key)(build) == null)
    assert(StateStore.bytes(key)(build) == null)
    assert(builds == 2, "a null build must not be published as reusable state")
    assert(!key.dir.exists(), s"nothing may appear at ${key.dir}")
  }
}
