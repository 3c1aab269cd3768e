package graft

import org.apache.spark.sql.functions.{avg, col}

/** End-to-end: every SparkEntry catalog query runs at sf0.001 and returns
  * rows; plan-shape assertions keep the scale properties honest (pushdown,
  * broadcast) — the DuckDB value-match itself is the driver's gate, and
  * tools/oracle_check.py replays it locally. */
class QueriesSpec extends SparkSpecBase {

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sfDir)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL exists for every SQL-expressible query") {
    // the one remaining documented exception: the validator battery's
    // verdict classification is engine-internal (ValidatorSpec pins it)
    // r7: zero rows-only entries remain — q67's verdicts are pinned to
    // DuckDB's own EXPLAIN classification via a generated fixture
    val missing =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("q178 top-k near-dup: broadcast signature joins, no cartesian, " +
      "no pair-list materialization") {
    val plan = SparkEntry.queries("q178_simhash_pairs_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the signature-level tables join into the doc stream as broadcasts
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q180 batched video decode is map-only after the scan " +
      "(no exchange below the kernel)") {
    val media = graft.operators.MediaOps.videoTable(spark)
    val plan = graft.operators.MediaOps.videoFeaturesBatched(media)
      .queryExecution.executedPlan.toString
    // the mapPartitions kernel must be present (SerializeFromObject is
    // its output boundary) and consume the scan partitioning directly:
    // no shuffle exchange anywhere in the plan — the only exchange is
    // the broadcast fixture-scoping semi-join, which prints as
    // "BroadcastExchange", not "Exchange hashpartitioning"
    assert(plan.contains("SerializeFromObject"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("q01 pushes filter and projection into the parquet scan") {
    val plan = SparkEntry.queries("q01_scan_filter")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual(p_size,25)")
      || plan.contains("IsNotNull(p_size)"), plan)
    // pruned read schema: only the 4 projected+filtered columns
    assert(!plan.contains("p_retailprice"), "projection not pruned:\n" + plan)
  }

  test("q08 fact-dim join broadcasts the dimension side") {
    val plan = SparkEntry.queries("q08_join_agg")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q90/q106 fact-side broadcast is size-gated (r16): hinted under " +
      "the footer cap, AQE-converted from measured sizes past it") {
    // under the cap (every test/bench sf): the gate emits the hint and
    // the direct-broadcast plan runs
    for (name <- Seq("q90_tpch_q3", "q106_tpch_q10")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name:\n$plan")
    }
    // past the cap the gate refuses — the hint is never uncapped
    Queries.prep(spark, sfDir)
    assert(Queries.hintIfSliceSmall(spark, sfDir, "orders", keepCols = 2,
      hint = "H", capBytes = 1L) == "")
    assert(Queries.hintIfSliceSmall(spark, sfDir, "orders", keepCols = 2,
      hint = "H") == "H")
    // and the un-hinted shape still BROADCASTS at runtime: AQE's
    // size-based conversion picks broadcast from the measured slice
    // (at a scale where the slice outgrows the threshold the same
    // plan degrades to a shuffle join instead of OOMing the driver)
    val noHint = spark.sql(
      """WITH o AS (SELECT o_orderkey, o_orderdate
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
        |SELECT o_orderkey, sum(l_extendedprice) AS s
        |FROM lineitem JOIN o ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey""".stripMargin)
    noHint.collect() // AQE finalizes plans only as stages execute
    val finalPlan = noHint.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
  }

  test("q08/q09/q91 join hints are size-gated (r16): broadcast under the " +
      "dim-build cap, SHUFFLE_HASH past it — never an unbounded broadcast") {
    Queries.prep(spark, sfDir)
    // at test scale the customer slice is under the cap → broadcast
    assert(Queries.factJoinHintSpec(spark, sfDir, "customer", keepCols = 2,
      alias = "customer", capBytes = Queries.DimBuildCapBytes)
      == "BROADCAST(customer)")
    // past the cap the SAME call degrades to a partitioned build
    assert(Queries.factJoinHintSpec(spark, sfDir, "customer", keepCols = 2,
      alias = "customer", capBytes = 1L) == "SHUFFLE_HASH(customer)")
    // and the past-cap shape really plans as a shuffled-hash join
    // (per-partition build maps — no sort of either side, no driver
    // OOM at any dimension size)
    val shj = spark.sql(
      """SELECT /*+ SHUFFLE_HASH(customer) */ c_mktsegment, count(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(shj.contains("ShuffledHashJoin"), shj)
    assert(!shj.contains("SortMergeJoin"), shj)
    // q91's final-leg gate: no hint under the cap (spec'd shape above),
    // SHUFFLE_HASH past it — the sliceBytes estimate is what gates it
    assert(Queries.sliceBytes(spark, sfDir, "orders", keepCols = 2)
      <= Queries.FactLegCapBytes)
  }

  test("q15 top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry.queries("q15_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q06 aggregation is partial before the shuffle (map-side combine)") {
    val plan = SparkEntry.queries("q06_tpch_q1")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("partial"), plan)
  }

  test("q12 IN-subquery plans as a broadcast left-semi join") {
    val plan = SparkEntry.queries("q12_in_subquery")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q38 NOT EXISTS plans as an anti join (no materialized subquery)") {
    val plan = SparkEntry.queries("q38_anti_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
  }

  test("q71 partitioned layout prunes the scan to the filtered partition") {
    val plan = SparkEntry.queries("q71_partition_pruned_read")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    // the lang predicate must appear as a partition filter, not a data one
    val pf = plan.substring(plan.indexOf("PartitionFilters"))
      .takeWhile(_ != ']')
    assert(pf.contains("lang"), plan)
  }

  test("q76 PIVOT plans as one aggregate pass (no per-segment scans)") {
    val plan = SparkEntry.queries("q76_pivot")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // a single scan of customer: pivot must not re-scan per segment
    assert("FileScan parquet|Scan ExistingRDD|InMemoryTableScan".r
      .findAllIn(plan).size <= 1, plan)
  }

  test("q83 heavy hitters: partial agg + top-k, no global sort") {
    val plan = SparkEntry.queries("q83_heavy_hitters")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial"), plan)
  }

  test("q82 EXISTS plans as a semi join (no materialized subquery)") {
    val plan = SparkEntry.queries("q82_exists_correlated")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
  }

  test("q90 TPC-H Q3: broadcast dim joins + top-k, fact never pre-shuffles") {
    val plan = SparkEntry.queries("q90_tpch_q3")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q91 TPC-H Q5: one fact shuffle join, both sides dim-prefiltered") {
    // r15 shape: the single SortMergeJoin joins two fact slices that
    // were each semi-reduced by a broadcast dim join BELOW the
    // shuffle (lineitem⋈ASIA-suppliers, orders⋈customer) — the
    // shuffle must never move a raw fact scan. The SMJ carries the
    // composite key (orderkey AND nationkey).
    val exec = SparkEntry.queries("q91_tpch_q5")(spark, sfDir)
      .queryExecution.executedPlan
    val plan = exec.toString
    val smjs = plan.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smjs == 1, plan)
    // the SMJ sits inside the un-finalized AdaptiveSparkPlan, which
    // collect() does not traverse — unwrap to its current inner plan
    val inner = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val smj = inner.collectFirst {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.get
    assert(smj.leftKeys.size == 2, smj.leftKeys)
    assert(smj.left.toString.contains("BroadcastHashJoin"), smj.left)
    assert(smj.right.toString.contains("BroadcastHashJoin"), smj.right)
  }

  test("q92 hash sample is map-only (no shuffle in the plan)") {
    val plan = SparkEntry.queries("q92_hash_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") ||
      plan.contains("rangepartitioning"), plan) // only the final ORDER BY
  }

  test("q105 TPC-H Q6: predicates and pruning reach the lineitem scan") {
    val plan = SparkEntry.queries("q105_tpch_q6")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // lineitem is the cached hot table: pruning + predicate pushdown
    // happen at the InMemoryTableScan (on a raw multi-file corpus the
    // same predicates land in the FileScan's PushedFilters)
    val scanLine = plan.linesIterator
      .find(_.contains("InMemoryTableScan")).getOrElse(plan)
    assert(scanLine.contains("l_shipdate") &&
      scanLine.contains("l_discount"), scanLine)
    assert(!scanLine.substring(0,
      scanLine.indexOf(']') max 0).contains("l_orderkey"),
      "projection not pruned:\n" + scanLine)
    assert(plan.contains("partial"), plan) // map-side combine
  }

  test("q106 TPC-H Q10: dims broadcast, top-20 is TakeOrderedAndProject") {
    val plan = SparkEntry.queries("q106_tpch_q10")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q111 TPC-H Q19: disjunctive predicate stays one broadcast join") {
    val plan = SparkEntry.queries("q111_tpch_q19")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Union"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q112 TPC-H Q7: both nation roles broadcast, no cartesian") {
    val plan = SparkEntry.queries("q112_tpch_q7")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q103 portable simhash is map-only (no shuffle before sort)") {
    val plan = SparkEntry.queries("q103_simhash_portable")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("q81 QUALIFY rewrite filters above the window, not a re-sort") {
    val plan = SparkEntry.queries("q81_qualify")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      plan)
    assert(plan.contains("Filter"), plan)
  }

  test("q122 TPC-H Q4: EXISTS decorrelates to a left-semi join") {
    val plan = SparkEntry.queries("q122_tpch_q4")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q126 TPC-H Q13: ON-clause filter keeps the outer join outer") {
    val plan = SparkEntry.queries("q126_tpch_q13")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftOuter"), plan)
  }

  test("q131 TPC-H Q22: NOT EXISTS decorrelates to a left-anti join") {
    val plan = SparkEntry.queries("q131_tpch_q22")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q121 TPC-H Q2: correlated MIN decorrelates (no per-row probe)") {
    val plan = SparkEntry.queries("q121_tpch_q2")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the scalar subquery must become an aggregate + join, never a
    // nested-loop re-execution per outer row
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_min") || plan.contains("min("), plan)
  }

  test("q136 k-means assignment broadcasts the centroid side") {
    val plan = SparkEntry.queries("q136_kmeans_assign")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastExchange"), plan)
  }

  test("q143 correlated LATERAL LIMIT decorrelates to a window filter") {
    val plan = SparkEntry.queries("q143_lateral_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q135 PageRank ranks sum to ~1 after three damped iterations") {
    val rows = SparkEntry.queries("q135_pagerank")(spark, sfDir)
      .collect()
    val total = rows.map(_.getDouble(1)).sum
    // damped PageRank with bidirectional edges preserves total mass
    assert(math.abs(total - 1.0) < 1e-3, s"rank mass $total")
  }

  test("q151 dup-gram rollup explodes the corpus once") {
    // dgc aggregates once; the g-window and the per-doc rollup both
    // consume that shuffle — a second explode of the corpus would show
    // up as a second Generate
    val plan = SparkEntry.queries("q151_dup_ngram_frac")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val explodes = "\\bGenerate\\b".r.findAllIn(plan).size
    assert(explodes <= 1 || plan.contains("ReusedExchange"),
      s"corpus exploded $explodes times without exchange reuse:\n$plan")
  }

  test("q150 decontam joins gram fingerprints, no doc-pair product") {
    val plan = SparkEntry.queries("q150_ngram_decontam")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q152 SCD2 is one window pass, no join") {
    val plan = SparkEntry.queries("q152_scd2_history")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("q154 DSIR broadcasts the fitted bucket stats, no sort-merge join") {
    // the 256-row model and the 1-row totals must come back as
    // broadcasts — a shuffle join on the bucket key would repartition
    // the whole (doc, bucket) table
    val plan = SparkEntry.queries("q154_dsir_weights")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q155 budget mix broadcasts per-source totals") {
    val plan = SparkEntry.queries("q155_token_budget_mix")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q157 rebalance keep-set is repartitioning-invariant") {
    // content-keyed acceptance: the kept doc_ids must not depend on the
    // physical layout of the scan
    val base = SparkEntry.queries("q157_lang_rebalance")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    val shuffled = spark.table("documents").repartition(7)
    shuffled.createOrReplaceTempView("documents")
    try {
      val again = SparkEntry.queries("q157_lang_rebalance")(spark, sfDir)
        .collect().map(_.getLong(0)).toSeq
      assert(again == base)
    } finally {
      // dropping the view defeats registerAll's memo, forcing a rebind
      spark.catalog.dropTempView("documents")
      Tables.registerAll(spark, sfDir)
    }
  }

  test("q159 count-min estimates never undershoot the exact counts") {
    val rows = SparkEntry.queries("q159_countmin_sketch")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"${r.getString(0)}: cms $est < exact $exact")
    }
  }

  test("q154 DSIR weights rank the target language's docs higher") {
    // docs drawn from the 'en' target distribution must average a
    // higher importance weight than the rest of the corpus
    val w = SparkEntry.queries("q154_dsir_weights")(spark, sfDir)
    val lang = spark.table("documents").select("doc_id", "lang")
    val byTarget = w.join(lang, "doc_id")
      .groupBy(col("lang") === "en")
      .agg(avg("dsir_w")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byTarget(true) > byTarget(false),
      s"en ${byTarget(true)} !> rest ${byTarget(false)}")
  }

  test("q161 equi-depth buckets are depth-balanced and ordered") {
    val rows = SparkEntry.queries("q161_equidepth_hist")(spark, sfDir)
      .collect()
    rows.groupBy(_.getString(0)).foreach { case (lang, bs) =>
      val depths = bs.map(_.getLong(2))
      assert(depths.max - depths.min <= 1, s"$lang depths unbalanced")
      val sorted = bs.sortBy(_.getInt(1))
      sorted.sliding(2).foreach { w =>
        if (w.size == 2)
          assert(w(0).getLong(4) <= w(1).getLong(3),
            s"$lang bucket ranges overlap")
      }
    }
  }

  test("rebinding a checkpoint view releases the previous checkpoint " +
      "without a WARN") {
    val name = "graft_rebind_ckpt"
    val first = spark.range(10).toDF().localCheckpoint()
    PipelineQueries.bindCheckpointView(spark, name, first)
    val firstId = first.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.get
    assert(spark.sparkContext.getPersistentRDDs.contains(firstId))
    val warned = warningsOf(PipelineQueries.bindCheckpointView(spark, name,
      spark.range(20).toDF().localCheckpoint()))
    assert(warned.isEmpty, warned.mkString("\n"))
    assert(!spark.sparkContext.getPersistentRDDs.contains(firstId))
    assert(spark.table(name).count() == 20)
    spark.catalog.dropTempView(name)
  }
}
