package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col

import graft.ops.{Analytics, Dedup, Similarity, Temporal}

/** Physical-plan assertions: these pin the properties that make the
  * queries scale — filter pushdown into the parquet scan, column pruning,
  * broadcast joins for dimensions, map-side partial aggregation, and
  * top-k window pushdown. A regression here is a 100 TB performance bug
  * even when results stay correct. */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def scans(df: DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")

  test("q02: predicates are pushed into the parquet scan") {
    val s = scans(Analytics.q02SelectiveFilter.run(spark, sfDir))
    assert(s.contains("PushedFilters") && s.contains("GreaterThanOrEqual(l_shipda"))
    assert(s.contains("LessThan(l_quantity") || s.contains("l_quantity"), s)
  }

  test("q02: scan is pruned to the referenced columns only") {
    val s = scans(Analytics.q02SelectiveFilter.run(spark, sfDir))
    assert(s.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"))
    assert(!s.contains("l_comment") && !s.contains("l_returnflag"))
  }

  test("q05: all dimension joins are broadcast (no shuffle joins)") {
    val p = planOf(Analytics.q05LocalRevenue.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dims must broadcast at this scale")
  }

  test("q05: date filter is pushed into the orders scan") {
    val s = scans(Analytics.q05LocalRevenue.run(spark, sfDir))
    assert(s.contains("GreaterThanOrEqual(o_orderd"))
  }

  test("aggregations are two-phase (map-side partials before the shuffle)") {
    val p = planOf(Analytics.q01PricingSummary.run(spark, sfDir))
    assert(p.contains("partial_sum") || p.contains("Partial"), p)
  }

  test("q12: rank-filter is pushed down as WindowGroupLimit") {
    val p = planOf(Analytics.q12WindowRank.run(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), "top-3-per-brand must limit before the shuffle")
  }

  test("q14: global top-k plans as TakeOrderedAndProject, not full sort") {
    val p = planOf(Analytics.q14TopOrders.run(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q46: as-of join is one window pass, not a range join") {
    val p = planOf(Temporal.q46AsofJoin.run(spark, sfDir))
    assert(p.contains("Window") || p.contains("RunningWindowFunction"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the quadratic range-join formulation must not appear")
  }

  test("q31: LSH candidate join is an equi-join on band buckets") {
    val p = planOf(Dedup.q31MinhashLsh.run(spark, sfDir))
    assert(!p.contains("CartesianProduct"), "near-dedup must never go all-pairs")
  }

  test("q38: query vector is broadcast, not shuffled") {
    val p = planOf(Similarity.q38AnnBruteforce.run(spark, sfDir))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("q43: multimodal metadata query never materializes the payload in the scan") {
    val s = scans(graft.ops.Multimodal.q43MultimodalMeta.run(spark, sfDir))
    assert(s.contains("ReadSchema: struct<doc_id:bigint,text:string"))
  }

  test("q56: supplier/nation broadcast, per-nation top-k is WindowGroupLimit") {
    val df = Analytics.q56SupplierRanking.run(spark, sfDir)
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin"),
      "nation is forced-broadcast; AQE broadcasts supplier at fixture scale")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), "rnk<=3 must limit before ranking the full set")
  }

  test("q57: the UDAF aggregates two-phase (map-side partials before the shuffle)") {
    val p = planOf(Analytics.q57WeightedMean.run(spark, sfDir))
    assert(p.contains("partial_weightedmean") || p.contains("Partial"), p)
  }

  test("q31: signatures are one kernel call, no Generate or Aggregate") {
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    // lineage through the stage boundaries, so the band relation's own
    // plan is in q31's
    val plan = withConf(graft.ops.StageBoundaryModeKey -> "none") {
      Dedup.q31MinhashLsh.run(spark, sfDir).queryExecution.sparkPlan
    }
    def kernelCalls(p: SparkPlan): Int =
      p.expressions.map(_.collect { case m: graft.functions.MinHash => m }.size).sum
    // the band explode: one per self-join side
    val bandGens = plan.collect { case g: GenerateExec => g }
    assert(bandGens.nonEmpty, plan.toString)
    bandGens.foreach { g =>
      val below = g.child
      assert(below.collect { case x: GenerateExec => x }.isEmpty &&
        below.collect { case x: BaseAggregateExec => x }.isEmpty,
        s"no explode or aggregate between the scan and the bands:\n$below")
      assert(below.collect { case p => kernelCalls(p) }.sum == 1,
        s"the kernel must run exactly once per doc:\n$below")
      val host = below.collect { case p: ProjectExec if kernelCalls(p) == 1 => p }
      assert(host.size == 1 && host.head.collect {
        case x: ShuffleExchangeExec if x.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => x
      }.nonEmpty, s"the kernel must run above the fan-out's exchange:\n$below")
    }
  }

  test("Dedup.scala parses hex with conv(substring(...)) only in the shingle, band and split-hash code") {
    val src = scala.io.Source.fromFile("src/main/scala/graft/ops/Dedup.scala", "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    // the enclosing member of `object Dedup` (two-space indent)
    val definition = """^  (?:private(?:\[\w+\])? )?(?:def|val) (\w+).*""".r
    val sites = lines.zipWithIndex.filter(_._1.contains("conv(substring(")).map { case (l, i) =>
      val owner = lines.take(i + 1).reverseIterator
        .collectFirst { case definition(name) => name }.getOrElse("?")
      owner -> l.trim
    }
    assert(sites.nonEmpty)
    val allowed = Set("shinglesOf", "bands", "componentSplit", "q161SplitLeakage")
    assert(sites.forall { case (owner, _) => allowed(owner) }, sites.mkString("\n"))
    assert(!sites.exists(_._2.contains("min(")), "no MIN over parsed hex slices")
  }

  test("q66: full-outer join is a shuffle join (both sides preserved, no broadcast)") {
    val p = planOf(Analytics.q66FullOuter.run(spark, sfDir))
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastHashJoin FullOuter"),
      "full-outer cannot stream a broadcast side; it must shuffle on the key")
  }

  test("q67: unpivot adds no shuffle beyond the aggregation's own") {
    val p = planOf(Analytics.q67Unpivot.run(spark, sfDir))
    val exchanges = "Exchange".r.findAllIn(p).length
    // one shuffle for the groupBy, one for the final orderBy — Expand is map-side
    assert(exchanges <= 3, s"unpivot must expand map-side, got $exchanges exchanges:\n$p")
  }

  test("q69: correlated subqueries decorrelate to ONE join over ONE aggregation") {
    val p = planOf(Analytics.q69CorrelatedSubquery.run(spark, sfDir))
    val joins = "Join".r.findAllIn(p).length
    assert(joins <= 2, s"both scalar subqueries share one decorrelated join:\n$p")
    assert(p.contains("partial_max") || p.contains("Partial"),
      "the inner aggregate must be two-phase")
  }

  test("q71: all five analytic functions share a single WindowExec pass") {
    val p = planOf(Analytics.q71WindowAnalytics.run(spark, sfDir))
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 1, s"one window spec must plan as one WindowExec:\n$p")
  }

  test("q68: stratified sample is a scan-level filter (no shuffle, no join)") {
    val df = graft.ops.TextOps.q68StratifiedSample.run(spark, sfDir)
    val p = planOf(df)
    assert(!p.contains("Join"), "hash-bucket sampling must not join an assignment table")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"only the final orderBy may exchange:\n$p")
  }

  test("q78: hamming candidates come from part equi-joins, never all-pairs") {
    val p = planOf(Dedup.q78SimhashHamming.run(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // the signature self-join must key on (pidx, pval) — the only allowed
    // nested-loop is the constant 16-row bit-position table inside simhash
    assert("Join \\[pidx".r.findAllIn(p).nonEmpty || p.contains("hashpartitioning(pidx"), p)
  }

  test("q80: the custom generator plans as GenerateExec feeding a two-phase agg") {
    val p = planOf(graft.ops.TextOps.q80TrigramGenerator.run(spark, sfDir))
    assert(p.contains("Generate ngrams"), s"custom Generator must appear:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"), p)
    assert(p.contains("TakeOrderedAndProject"), "top-15 must not global-sort")
  }

  test("q73: sequence construction is one hash-keyed aggregation, no window pass") {
    val p = planOf(Analytics.q73EventSequences.run(spark, sfDir))
    assert(!p.contains("Window"), "array_sort inside the agg must replace a window+collect")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"one shuffle for the groupBy, one for the orderBy:\n$p")
  }

  test("q74: chunking explodes map-side (no shuffle before the final orderBy)") {
    val p = planOf(graft.ops.TextOps.q74Chunking.run(spark, sfDir))
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"per-row chunking must not shuffle:\n$p")
  }

  test("runtime bloom filter prunes the fact side of a selective fact-fact join") {
    // The semijoin-pushdown ("bitmap filter") shape: when a shuffle join's
    // build side is selective, Spark injects a bloom filter into the probe
    // side's scan so non-joining fact rows die before the shuffle — the
    // difference between shuffling 100 TB and shuffling the matching slice.
    // Fixture-sized inputs sit under the default thresholds and AQE would
    // broadcast the dim, so the test pins the *mechanism* with thresholds
    // lowered and broadcast disabled.
    import org.apache.spark.sql.functions.{col, count, lit}
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val o = graft.sources.Tables.orders(spark, sfDir)
        .filter(col("o_totalprice") > 450000)
      val l = graft.sources.Tables.lineitem(spark, sfDir)
      val p = planOf(
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n")))
      assert(p.contains("might_contain") || p.contains("BloomFilter"),
        s"expected an injected runtime bloom filter on the lineitem side:\n$p")
    }
  }

  test("q85: clustering input pairs never go all-pairs; loop frames stay checkpointed") {
    val p = planOf(Dedup.q85DedupClusters.run(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // label propagation must run over truncated lineage, not a growing plan
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"), p)
  }

  test("q89: z-order top-k plans as TakeOrderedAndProject") {
    val p = planOf(Analytics.q89ZorderKey.run(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q99: top-5 terms limit before the shuffle; tf/df aggs are two-phase") {
    val p = planOf(graft.ops.TextOps.q99Tfidf.run(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), "rn<=5 must cut below the shuffle:\n" + p)
    assert(p.contains("partial_count") || p.contains("Partial"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q100: per-doc running sum windows WITHIN blocks; offsets broadcast") {
    val p = planOf(graft.ops.TextOps.q100ShardPacking.run(spark, sfDir))
    // the corpus-sized window must be partitioned by the block key — only
    // the dimension-sized block-offset frame may take a global window
    assert(p.contains("windowspecdefinition(blk"),
      "per-doc prefix sum must be partitioned by block:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "block offsets must broadcast:\n" + p)
  }

  test("q101: co-purchase pairs expand map-side from baskets — no join at all") {
    val p = planOf(Analytics.q101Copurchase.run(spark, sfDir))
    // basket assembly (one orderkey aggregate) + HOF pair expansion
    // replaced the self-join formulation: pair volume never rides a
    // sort-merge join or a 3-column DISTINCT shuffle
    assert(!p.contains("Join"), "pair generation must not self-join:\n" + p)
    assert(p.contains("collect_set"), "baskets must assemble via collect_set:\n" + p)
    assert(p.contains("Generate"), "pairs must expand map-side (explode):\n" + p)
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not sort the full pair set:\n" + p)
  }

  test("q97: fuzzy match materializes pairs by equi-joins in the value space") {
    val p = planOf(Analytics.q97FuzzyMatch.run(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // the V×V distinct-name DP relation is dimension-sized and must
    // broadcast; row pairs then come from equi-joins bounded by the true
    // match count — never the within-block pair count
    assert(p.contains("BroadcastHashJoin"), "name-pair relation must broadcast:\n" + p)
    assert(p.contains("ROUND_ROBIN") || p.contains("RoundRobin") || p.contains("Exchange"),
      "stream side must repartition for parallel pair materialization:\n" + p)
  }

  test("q111: wide-simhash candidates come from part equi-joins, never all-pairs") {
    val p = planOf(Dedup.q111SimhashWide.run(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q108: incremental dedup candidates come from band equi-joins, never all-pairs") {
    val p = planOf(Dedup.q108IncrementalDedup.run(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ref_schema_lint: the fused rule engine builds at most two broadcast exchanges") {
    val df = graft.ops.SchemaLint.report(spark)
    val p = planOf(df)
    val broadcasts = "BroadcastExchange".r.findAllIn(p).length
    assert(broadcasts <= 2, s"one pass = idx + fk markers only, got $broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q112: the bucketed fact-fact join subtree contains ZERO exchanges") {
    // the whole point of the layout: both sides arrive hash-distributed
    // on the join key, so the join is shuffle-free
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ path
      val join = graft.ops.Layout.bucketedJoin(spark, sfDir)
      val p = planOf(join)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(p.contains("Bucketed: true"), p)
    }
  }

  test("q113: the lang predicate is a planning-time PartitionFilter, " +
    "and non-matching partitions are never read") {
    val df = spark.read.parquet(graft.ops.Layout.partitionedDocsDir(spark, sfDir))
    val pruned = df.filter(col("lang") === "en")
    val s = scans(pruned)
    assert(s.contains("PartitionFilters") && s.contains("lang"), s)
    // pruning is visible in the scanned-partition count, not just the plan
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f.selectedPartitions.partitionCount
    }.get
    val total = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f.selectedPartitions.partitionCount
    }.get
    assert(scanned == 1 && total > 1,
      s"expected exactly the lang=en partition of $total, scanned $scanned")
  }

  test("q117: repetition metric aggs are two-phase; the metric join is doc-keyed") {
    val p = planOf(graft.ops.TextOps.q117Repetition.run(spark, sfDir))
    assert(p.contains("partial_count") || p.contains("Partial"),
      "gram counts must map-side combine:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q118: mixture rates broadcast into a scan-level filter — docs never shuffle") {
    val p = planOf(graft.ops.TextOps.q118SourceMix.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      "the 20-row rates frame must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must never shuffle for the rates join:\n" + p)
  }

  test("q119: k-means assignment broadcast-joins the centroid relation, no explode") {
    val p = planOf(Similarity.q119KmeansTrain.run(spark, sfDir))
    // centroids ride as a packed single-row BROADCAST relation (never a
    // plan literal, never a driver collect); the argmin stays one fused
    // per-row HOF pass. A Generate here would mean a k×d explode crept
    // back in; a SortMergeJoin would mean the vectors shuffled.
    assert(p.contains("BroadcastNestedLoopJoin"),
      "centroids must arrive via a broadcast relation:\n" + p)
    assert(!p.contains("SortMergeJoin"), "assignment must not shuffle the vectors:\n" + p)
    assert(!p.contains("Generate"), "argmin must stay a per-row HOF, not an explode:\n" + p)
    assert(p.contains("partial_count") || p.contains("Partial"),
      "cluster stats must map-side combine:\n" + p)
  }

  test("q120: trained-IVF serve probes buckets via broadcast, never all-pairs") {
    val p = planOf(Similarity.q120AnnIvfTrained.run(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the 2-row probe and 1-row query sides must broadcast:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must not globally sort the candidate set:\n" + p)
  }

  test("q121: negative picks ride ONE corpus equi-join — never a cross product") {
    val p = planOf(graft.ops.TextOps.q121NegativeSampling.run(spark, sfDir))
    // the only nested-loop is the single-row corpus-count broadcast
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), "K slots must expand map-side (explode):\n" + p)
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(p).length
    assert(joins <= 2, s"anchor fan-out must stay one corpus equi-join, found $joins:\n$p")
  }

  test("q122: semantic-dedup pairs are blocked by the learned cluster id") {
    val p = planOf(Similarity.q122SemanticDedup.run(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // the pairwise stage must key on cid — a join with no cid key would
    // be the corpus×corpus SemDeDup explicitly avoids
    assert(p.contains("cid"), p)
    assert(p.contains("cosinesimilarity"),
      "pair cosines must ride the codegen'd native expression:\n" + p)
  }

  test("q123: the corpus build caches shared prefixes and never goes all-pairs") {
    val p = planOf(graft.ops.TextOps.q123CorpusBuild.run(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join allowed is the mixture's single-row `cap`
    // scalar broadcast (q118's pattern) — never a data-sized side
    assert("BroadcastNestedLoopJoin(?! BuildRight, Cross)".r
      .findFirstIn(p).isEmpty,
      s"non-scalar nested-loop join in the build plan:\n${p.take(4000)}")
    // ded/clean each feed two consumers; the gate+dedup prefix must be
    // served from a materialization, not recomputed per consumer — an
    // InMemoryTableScan (persist) or a LogicalRDD scan (the r10 eager
    // localCheckpoint, which also truncates the exploded plan lineage)
    assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
      s"shared prefixes must come from a materialization:\n$p")
    // decontamination rides the bloom-pruned gram join (q116's
    // machinery). Since r10 that stage sits BEHIND the clean stage
    // boundary (the final plan is deliberately truncated), so the probe
    // is pinned on the SHARED clean-stage relation the capstones
    // actually execute (r11, ADVICE r10: a separately constructed
    // decontaminate call could silently drift from the query path —
    // cleanCorpusStage IS the query path, pre-boundary)
    val dec = planOf(graft.ops.TextOps.cleanCorpusStage(spark, sfDir))
    assert(dec.contains("might_contain"),
      s"the capstones' clean stage must carry the bloom probe:\n$dec")
  }

  test("q116: the train gram stream is bloom-pruned BEFORE its distinct exchange") {
    val p = planOf(graft.ops.TextOps.q116Contamination.run(spark, sfDir))
    assert(p.contains("might_contain"),
      s"train side must carry the bloom probe:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the probe must sit under a (pre-aggregate of the) distinct, i.e.
    // below at least one Exchange — pruning before the shuffle is the
    // entire point of the composition
    val probeAt = p.indexOf("might_contain")
    assert(p.lastIndexOf("Exchange", probeAt) >= 0,
      s"bloom probe must execute below an exchange (map-side, pre-shuffle):\n$p")
  }

  test("q130: packing's running sums are partitioned windows — never a single-task global window") {
    val p = planOf(graft.ops.TextOps.q130SequencePacking.run(spark, sfDir))
    // an un-partitioned Window collapses the corpus into one task; the
    // two-pass design must keep every Window keyed (by the range bucket)
    assert(!"Window\\b[^\\n]*\\[partitionBy=\\[\\]".r.findFirstIn(p).isDefined &&
      !p.contains("SinglePartition, ENSURE_REQUIREMENTS"),
      s"global window in the packing plan:\n$p")
    assert(p.contains("RangePartitioning") || p.contains("rangepartitioning"),
      s"offsets must come from range-partitioned data:\n$p")
    // the per-partition offsets ride a broadcast join, not a shuffle
    assert(p.contains("BroadcastHashJoin"),
      s"partition offsets must broadcast:\n$p")
  }

  test("q131: anchors broadcast and the per-anchor rank filter pushes down") {
    val p = planOf(graft.ops.Similarity.q131HardNegatives.run(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"rnk<=k must cut below the shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the anchor side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      s"corpus must never shuffle against anchors:\n$p")
  }

  test("q133: PQ codebooks and the ADC LUT ride broadcasts; scoring never shuffles the corpus against them") {
    val p = planOf(graft.ops.Similarity.q133PqAdc.run(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"LUT join must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrdered, not a global sort:\n$p")
  }

  test("q136/q137: retrieval reads the persisted postings index and pushes per-query top-k down") {
    Seq(graft.ops.TextOps.q136Bm25, graft.ops.TextOps.q137RrfFusion).foreach { q =>
      val p = planOf(q.run(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"${q.name}:\n$p")
      // the index relations come off parquet state, not a re-tokenization
      // of the documents table (no explode of split(text) in the plan)
      assert(p.contains("graft_postings_v1"),
        s"${q.name} must scan the published postings state:\n$p")
      assert(p.contains("WindowGroupLimit"),
        s"${q.name}'s per-query rank filter must cut below the shuffle:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"${q.name}'s bounded sides must broadcast:\n$p")
    }
  }

  test("q140: the query batch broadcasts and the per-query top-k pushes down") {
    val p = planOf(graft.ops.Similarity.q140KnnClassify.run(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"rnk<=k must cut below the shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the test batch must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the corpus must never shuffle against the query batch:\n$p")
  }

  test("q141: the domain cap is one keyed window with the cap pushed below the sort") {
    val p = planOf(graft.ops.TextOps.q141DomainCap.run(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"rk<=cap must cut below the full sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the domain totals must broadcast onto the survivors:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q143: pagerank shuffles the rank relation, never re-derives the edge set") {
    val df = graft.ops.Graph.q143Pagerank.run(spark, sfDir)
    val p = planOf(df)
    // the persisted edge/degree relations appear as InMemoryTableScan —
    // round N must reuse them, not replay the lineitem self-join
    assert(p.contains("InMemoryTableScan"),
      s"edges must be pinned across rounds:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the leaderboard must be TakeOrdered, not a global sort:\n$p")
    // uncached file scans in the top-level plan = cache misses: every
    // per-round reference must resolve to the pinned relations
    val fileScans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.size
    assert(fileScans == 0,
      s"lineitem must be read through the pinned edge relation only, got $fileScans live scans")
  }

  test("q146: the eigenvector broadcasts into the projection scan") {
    val p = planOf(graft.ops.Similarity.q146PcaPower.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"the d-sized component must broadcast into the corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q153: the warm face serves the persisted labels — one state scan, no round joins") {
    // the LPA labels persist per corpus fingerprint (shared with q373);
    // the warm plan must be ONE parquet scan of the label state + a
    // TakeOrdered summary — no edge join, no propagation round, no
    // in-memory pin (those belong to the once-per-corpus build)
    val df = graft.ops.Graph.q153LabelProp.run(spark, sfDir)
    val p = planOf(df)
    assert(p.contains("graft_lpa_"),
      s"the warm face must read the persisted label state:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the community leaderboard must be TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("Join"),
      s"serving the persisted labels needs no join at all:\n$p")
    // count on the plan STRING: AQE wraps the physical plan, so a
    // node-collect over executedPlan sees nothing before execution
    val fileScans = "FileScan".r.findAllIn(p).size
    assert(fileScans == 1,
      s"exactly the label-state scan, got $fileScans file scans:\n$p")
  }

  test("q154: the JL matrix and query projection broadcast; nothing shuffles the vectors") {
    val p = planOf(Similarity.q154JlAnn.run(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the packed sign matrix must broadcast into the vector scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrdered:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no vector-side shuffle join is acceptable here:\n$p")
  }

  test("q155: collocation top-k is TakeOrdered over map-side-combined counts") {
    val p = planOf(graft.ops.TextOps.q155Collocations.run(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must be TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"counts must combine map-side:\n$p")
  }

  test("q159: the quantile gate is one keyed window — no joins at all") {
    val p = planOf(graft.ops.TextOps.q159QualityQuantileGate.run(spark, sfDir))
    assert(p.contains("Window"), s"percent_rank must be a window:\n$p")
    assert(!p.contains("Join"), s"the gate must not join anything:\n$p")
  }

  test("q169: passage windows shuffle only for the ordered emission") {
    val df = graft.ops.TextOps.q169PassageWindows.run(spark, sfDir)
    val p = planOf(df)
    assert(!p.contains("Join"), s"chunking must not join anything:\n$p")
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 1,
      s"only the final sort may shuffle, found ${exchanges.size}:\n$p")
    exchanges.foreach(e => assert(e.outputPartitioning.toString.toLowerCase.contains("range")
      || p.contains("rangepartitioning"),
      s"the single exchange must be the ordered emission:\n$p"))
  }

  test("q172: both retrieval legs broadcast their query side and push top-k down") {
    val p = planOf(graft.ops.TextOps.q172RetrievalMetrics.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query terms/vectors must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-10 must cut below the shuffle:\n$p")
  }

  test("q175: the phrase relation broadcasts into the postings scan; the corpus never self-joins unfiltered") {
    val df = graft.ops.TextOps.q175PhraseSearch.run(spark, sfDir)
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin"), s"phrases must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"per-phrase top-10 must push down:\n$p")
  }

  test("q177: containment is one blocked self-join — no candidate-times-shingle re-join") {
    val df = Dedup.q177Containment.run(spark, sfDir)
    val joins = df.queryExecution.executedPlan.collect {
      case j if j.nodeName.contains("Join") => j
    }
    // sh⋈dfreq (keep), keep⋈keep (blocking), + two pair-sized cnts joins
    assert(joins.size <= 5, s"expected <= 5 joins, found ${joins.size}:\n${planOf(df)}")
  }

  test("q178: hub citation count aggregates with map-side partials") {
    val p = planOf(Similarity.q178Hubness.run(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"top-20 hubs must TakeOrdered:\n$p")
    assert(p.contains("WindowGroupLimit"), s"per-vector top-3 must push down:\n$p")
  }

  test("q179: stats broadcast back into the outlier scan; aggregates are two-phase") {
    val p = planOf(Similarity.q179EmbeddingStats.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"dim stats must broadcast:\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"), p)
  }

  test("q187: both RM3 passes broadcast their query terms and push per-query top-k down") {
    val p = planOf(graft.ops.TextOps.q187Rm3Expansion.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"query terms must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"per-query cuts must push down:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbounded cross products:\n$p")
  }

  test("q192: decay top-k plans as TakeOrderedAndProject with two-phase aggregation") {
    val p = planOf(graft.ops.Temporal.q192DecayScores.run(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must TakeOrdered:\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"), p)
  }

  test("q195: the k-anonymity audit is join-free — one scan, one keyed count") {
    val p = planOf(graft.ops.TextOps.q195KAnonymity.run(spark, sfDir))
    assert(!p.contains("Join"), s"the audit must not join anything:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("q196: the eval side broadcasts into the within-cluster contamination join") {
    val p = planOf(Similarity.q196SemanticDecontam.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"the eval relation must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"pairing must stay cluster-blocked:\n$p")
  }

  test("q204: every window in the budget-selection plan is partitioned (no global sort task on the corpus)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = graft.ops.TextOps.q204BudgetSelect.run(spark, sfDir)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    val (global, parted) = windows.partition(_.partitionSpec.isEmpty)
    assert(parted.nonEmpty, "the per-block cumsum must be a partitioned window")
    // the only permissible un-partitioned window is the ≤101-row block
    // offset relation, which is fed by an aggregate, never the doc scan
    global.foreach { w =>
      val feeds = w.collect { case a: Aggregate => a }
      assert(feeds.nonEmpty,
        s"a global window may only range over the block aggregate:\n$w")
    }
  }

  test("q358/q364: the cycle/SCC faces read the persisted O(V) label state, never a pair closure") {
    Seq(graft.ops.Graph.q358CycleFixpoint, graft.ops.Graph.q364StronglyConnected).foreach { q =>
      val p = planOf(q.run(spark, sfDir))
      assert(p.contains("graft_scc_v1"),
        s"${q.name} must scan the persisted SCC labels:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"${q.name}:\n$p")
    }
  }

  test("q394: the biased-walk face serves the persisted corpus") {
    val p = planOf(graft.ops.Graph.q394Node2vecWalks.run(spark, sfDir))
    assert(p.contains("graft_n2vwalks_v1"),
      s"plan must scan the persisted node2vec corpus:\n$p")
  }

  test("q393/q395: the walk-feature faces keep top-k pushed down and never go all-pairs") {
    // the walks themselves come off a checkpointed skip-gram count
    // relation (the parquet-state read happens inside the checkpoint
    // build), so the pin here is the downstream shape: TakeOrdered for
    // the top-100, no cartesian anywhere
    Seq(graft.ops.Graph.q393WalkPpmi, graft.ops.Graph.q395WalkContextSim).foreach { q =>
      val p = planOf(q.run(spark, sfDir))
      assert(p.contains("TakeOrderedAndProject"),
        s"${q.name} top-100 must be TakeOrdered, not a global sort:\n$p")
      assert(!p.contains("CartesianProduct"), s"${q.name}:\n$p")
    }
  }

  test("q396: the coverage audit reads the persisted walk corpus and never goes all-pairs") {
    // the only nested-loop join in the plan is the broadcast 5-row step
    // grid (bounded by maxStep+1, never data-proportional); the BFS
    // side is checkpointed anti-join rounds, the corpus side one
    // grouped pass over the persisted q370 state
    val p = planOf(graft.ops.Graph.q396WalkCoverage.run(spark, sfDir))
    assert(p.contains("graft_walks_v1"),
      s"q396 must scan the persisted walk corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"q396:\n$p")
  }

  test("q253/q268/q311/q208: the order-statistic segmentation family plans no single-partition window over a data-proportional relation") {
    // the RFM quintiles, Gini deciles, ABC cumulative revenue, and the
    // label-noise τ/queue ranks all ride BlockRank's two-pass device:
    // every window over a customer/part/corpus-sized relation must be
    // partitioned (by the block key); the only permissible global-order
    // windows range over bounded aggregate relations (the ≤targetBlocks
    // block offsets, the 10-row decile cumsum)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val family = Seq(
      "q253" -> Analytics.q253RfmSegments,
      "q268" -> Analytics.q268GiniLorenz,
      "q311" -> Analytics.q311AbcClasses,
      "q208" -> graft.ops.Classifier.q208LabelNoise,
      "q182" -> graft.ops.Classifier.q182Calibration,
      "q193" -> graft.ops.Classifier.q193Conformal,
      "q221" -> graft.ops.Classifier.q221BrierDecomp,
      "q308" -> graft.ops.Classifier.q308QiniUplift,
      "q257" -> Analytics.q257EquiDepthAudit,
      "q317" -> Analytics.q317TopkOther,
      "q306" -> Dedup.q306SortedNeighborhood,
      "q318" -> graft.ops.Layout.q318BitmapIndex,
      "q320" -> Temporal.q320HistogramQuantiles,
      "q303" -> Similarity.q303ContrastAudit,
      "q360" -> Analytics.q360KruskalWallis,
      "q362" -> graft.ops.Layout.q362ZorderSkipping,
      // round-7 second wave: RAKE's per-doc segmentation windows, the
      // aspect-bucket grouped prefix sums, the AUC margin-histogram
      // prefix, the stump's histogram prefix, and the per-slope
      // quantile ranks must all stay partitioned (or bounded)
      "q372" -> graft.ops.TextOps.q372RakeKeyphrases,
      "q376" -> graft.ops.Multimodal.q376AspectBatching,
      "q377" -> graft.ops.Classifier.q377AucEval,
      "q381" -> graft.ops.Classifier.q381DecisionStump,
      "q382" -> Temporal.q382QuantileRegression)
    for ((tag, q) <- family) {
      val plan = q.run(spark, sfDir).queryExecution.optimizedPlan
      val windows = plan.collect { case w: LWindow => w }
      // (some faces localCheckpoint the ranked relation, truncating the
      // visible plan — the device's partitioned windows then ran before
      // the checkpoint; the load-bearing assertion is on what REMAINS:
      // no global window may order a data-proportional axis)
      val global = windows.filter(_.partitionSpec.isEmpty)
      // the allowlist is explicit: a global window may order ONLY by the
      // device's block key (offsets relation, ≤targetBlocks rows) or by
      // the 10-value decile axis — ordering by a raw measure column
      // (r_days, cents, abs_margin, …) is the single-partition-sort
      // regression this test exists to catch
      global.foreach { w =>
        assert(w.collect { case a: Aggregate => a }.nonEmpty,
          s"$tag: a global window may only range over a bounded aggregate relation:\n$w")
        // bounded axes a global window may still order by: the device's
        // block key (≤ targetBlocks rows), the 10-value decile axis, and
        // q320's ≤ 64-value power-of-two bucket axis
        val ordCols = w.orderSpec.flatMap(_.child.references.map(_.name)).toSet
        assert(ordCols.subsetOf(Set(graft.ops.BlockRank.BlkCol, "decile", "bucket")),
          s"$tag: global window orders by $ordCols — not a bounded axis:\n$w")
      }
    }
  }

  test("q211/q213: the quality screens are one aggregate + broadcast scalars — no shuffle joins") {
    for (q <- Seq(graft.ops.TextOps.q211QualityAnova, graft.ops.TextOps.q213SourceJackknife)) {
      val df = q.run(spark, sfDir)
      df.collect() // finalize the adaptive plan before inspecting it
      val p = planOf(df)
      assert(!p.contains("SortMergeJoin"), s"${q.name} must not shuffle-join:\n$p")
      assert(p.contains("Partial") || p.contains("partial_"), p)
    }
  }

  test("q214: the probe grid and query routes broadcast into the serving join") {
    val p = planOf(Similarity.q214NprobeSweep.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"routes must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from bucket equi-joins:\n$p")
  }

  test("q217: the packing sweep reuses one start relation — no per-length prefix sums") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val plan = graft.ops.TextOps.q217PackingSweep.run(spark, sfDir)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.size == 1,
      s"exactly one per-partition cumsum must serve all four lengths:\n${windows.mkString("\n")}")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "the corpus-global window belongs to the oracle only")
  }

  test("q219: query terms broadcast into the postings join and the audit adds no extra corpus pass") {
    val p = planOf(graft.ops.TextOps.q219LengthBias.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"qt must broadcast:\n$p")
    assert(p.contains("TakeOrdered") || p.contains("WindowGroupLimit") || p.contains("RunningWindowFunction") || p.contains("Window"),
      s"per-query top-k must be cut before the audit join:\n$p")
  }

  test("graph walkers: the node-relation broadcast is size-gated — both plans pinned") {
    // Under the budget the per-round rank join rides the explicit hint;
    // over it the hint MUST disappear (a data-proportional relation may
    // never be forced to broadcast — the simhash-vocabulary OOM class)
    // and the round becomes a shuffle join against the co-partitioned
    // edges. autoBroadcastJoinThreshold=-1 isolates the hint from the
    // planner's own size-based choice on fixture-sized inputs.
    import spark.implicits._
    val e = (1L to 40L).flatMap(i => Seq((i, i % 40 + 1), (i % 40 + 1, i)))
      .toDF("src", "dst")
    val budgetKey = "spark.graft.graph.broadcastNodeBudget"
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val hinted = withConf(budgetKey -> "1000000")(planOf(graft.ops.Graph.pagerank(e, rounds = 1)))
      assert(hinted.contains("BroadcastHashJoin"),
        s"under the budget the rank relation must ride the hint:\n$hinted")
      val shuffled = withConf(budgetKey -> "0")(planOf(graft.ops.Graph.pagerank(e, rounds = 1)))
      assert(!shuffled.contains("BroadcastHashJoin") && !shuffled.contains("BroadcastExchange"),
        s"over the budget no node relation may be force-broadcast:\n$shuffled")
      assert(shuffled.contains("SortMergeJoin") || shuffled.contains("ShuffledHashJoin"),
        s"the fallback is a key-partitioned shuffle join:\n$shuffled")
    }
  }

  test("q332: the customer-delta legs ride broadcast joins") {
    // the delta rule's whole point is that a daily delta never re-joins
    // two full facts — the dimension-delta side must be the build side
    val p = planOf(Analytics.q332DeltaJoinMv.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"delta-MV maintenance must broadcast the customer deltas:\n$p")
  }

  test("q337: the bit relation is broadcast into both probe semi-joins") {
    val p = planOf(graft.ops.Layout.q337BloomFpr.run(spark, sfDir))
    // two probe-side joins against the filter-sized bit relation — both
    // must be broadcast builds, never a shuffle of the probe stream
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both bloom-probe joins must be broadcast:\n$p")
  }

  test("q326: winnowing scans tokenize once and the pair join is the only wide join") {
    // the fingerprint relation is persisted (InMemory scans feed the
    // self-join) and per-doc window minima must not introduce a
    // CartesianProduct or a nested loop anywhere
    val p = planOf(graft.ops.TextOps.q326Winnowing.run(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"winnowing must stay equi-join only:\n$p")
  }

  test("q328: postings varint audit plans no join at all") {
    val p = planOf(graft.ops.Layout.q328PostingsVarint.run(spark, sfDir))
    assert(!p.contains("Join"), s"gap+cost is pure window+agg work:\n$p")
  }
}
