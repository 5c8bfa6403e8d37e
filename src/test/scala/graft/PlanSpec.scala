package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.graft.ExecutedPlans
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the scale story is only real if Catalyst
  * actually produces the plans the Scaladoc promises. These lock in
  * pushdown, broadcast, and top-k physical strategies so a refactor that
  * silently degrades the plan fails CI.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  /** Every plan the query's body executed (one per action, final plan
    * only), then the plan of the frame it returned.
    */
  private def physicalPlans(name: String): Seq[SparkPlan] =
    ExecutedPlans.capture(spark)(Registry.queries(name)(spark, sf)).plans

  private def physicalPlan(name: String): String = physicalPlans(name).mkString("\n")

  test("q11 filters and projection are pushed to the parquet scan") {
    val plan = physicalPlan("q11_filter_project")
    assert(plan.contains("PushedFilters"), "expected parquet PushedFilters")
    assert(plan.contains("GreaterThan(value") || plan.contains("GreaterThan(`value`"),
      s"value>150 not pushed:\n$plan")
    assert(plan.contains("EqualTo(event_type") || plan.contains("EqualTo(`event_type`"),
      s"event_type= not pushed:\n$plan")
  }

  test("q08 star join broadcasts every dimension (no fact shuffle for the join)") {
    val plan = physicalPlan("q08_star_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts == 3, s"expected 3 broadcast joins, got $broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("q04 top-k compiles to TakeOrderedAndProject, not a full sort") {
    val plan = physicalPlan("q04_topk")
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
  }

  test("q01 aggregation uses partial (map-side) aggregation") {
    val plan = physicalPlan("q01_count_by_type")
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"no map-side partial aggregation:\n$plan")
  }

  test("q33 reads only the columns it needs (column pruning)") {
    val plan = physicalPlan("q33_token_counts")
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("lang"), s"lang should be pruned from the documents scan:\n$plan")
  }

  test("q13 correlated subquery is decorrelated into a join (no per-row subquery)") {
    val plan = physicalPlan("q13_correlated_subq")
    assert(!plan.contains("ScalarSubquery"), s"subquery survived decorrelation:\n$plan")
    assert(plan.contains("Join"), s"expected a decorrelated join:\n$plan")
  }

  test("bucketed join runs without a shuffle exchange") {
    // at test scale Catalyst rightly prefers broadcast; disable it to see
    // the plan a non-broadcastable (100 TB) side would get — bucketing
    // must then give a SortMergeJoin with NO shuffle exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.ingest.SourceQueries.bucketedJoinPlan(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned layout read shows partition filters, not data filters") {
    val dir = java.nio.file.Files.createTempDirectory("plan_part_").toString + "/e"
    Registry.queries("q01_count_by_type")(spark, sf) // warm events conf
    graft.Tables.events(spark, sf)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val plan = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
  }

  test("q47 broadcasts the query-vector side") {
    val plan = physicalPlan("q47_ann_bruteforce")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
  }

  test("q82 as-of join is one key shuffle, no join operator at all") {
    val plan = physicalPlan("q82_asof_join")
    assert(!plan.contains("Join"), s"as-of must not produce candidate pairs:\n$plan")
    // exactly one hash-partitioning exchange on user_id for the main window
    // (the click-dedup window shares it; the final orderBy adds only a
    // rangepartitioning)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 2, s"expected <=2 hash exchanges, got $hashExchanges:\n$plan")
  }

  test("q87 bloom pre-filter sits scan-side, below the semi-join") {
    val plan = physicalPlan("q87_bloom_semijoin")
    val filterIdx = plan.indexOf("Filter")
    val joinIdx = plan.indexOf("Join")
    assert(filterIdx >= 0 && joinIdx >= 0, plan)
    // executedPlan prints parents first: the semi-join must appear BEFORE
    // (above) the bloom filter stage feeding it
    assert(joinIdx < plan.lastIndexOf("Filter"),
      s"bloom filter not below the join:\n$plan")
    assert(plan.contains("LeftSemi"), s"exact semi-join missing:\n$plan")
  }

  test("q83 Aggregator keeps partial (map-side) aggregation") {
    val plan = physicalPlan("q83_grouped_topk")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate") ||
      plan.contains("HashAggregate"), plan)
    assert(plan.contains("partial_top3agg") || plan.toLowerCase.contains("partial"),
      s"no map-side partial aggregation for the UDAF:\n$plan")
  }

  test("q84 packing reads only doc_id, lang, text") {
    val plan = physicalPlan("q84_sequence_packing")
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("n_chars"), s"n_chars should be pruned:\n$plan")
    assert(!plan.contains("source"), s"source should be pruned:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // the 100 TB skew story: one hot key gets 90% of the left side; AQE
    // must detect the oversized shuffle partition after the map stage and
    // split it across tasks instead of letting one task run the join
    import org.apache.spark.sql.functions.{col, lit, when}
    val saved = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    ).map { case (k, v) =>
      val prev = spark.conf.getOption(k); spark.conf.set(k, v); k -> prev
    }
    try {
      val left = spark.range(0, 300000)
        .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // collect() runs THIS df's QueryExecution (count() would build its
      // own plan and leave this one unexecuted / non-final)
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not split the skewed partition:\n$plan")
    } finally saved.foreach { case (k, prev) =>
      prev match { case Some(v) => spark.conf.set(k, v); case None => spark.conf.unset(k) }
    }
  }

  test("q112 contamination probes the benchmark set via broadcast (corpus side never shuffles for it)") {
    val plan = physicalPlan("q112_contamination")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark fingerprint set not broadcast:\n$plan")
  }

  test("q126 DSv2 scan plans the requested number of input splits") {
    val df = spark.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "10000").option("slices", "6").load()
    assert(df.rdd.getNumPartitions == 6)
  }

  test("rank-limit windows compile to WindowGroupLimit (bounded per-group state, no full sort spill)") {
    // Spark 4's native rank-limit pushdown: a Filter(row_number/rank <= k)
    // over a window keeps only k rows per group DURING the sort — the
    // 100 TB difference between buffering k rows and buffering the group.
    // Lock it in for every top-k-per-group query we ship.
    for (q <- Seq("q05_top1_per_group", "q23_rank_topn", "q147_group_sample")) {
      val plan = physicalPlan(q)
      assert(plan.contains("WindowGroupLimit"),
        s"$q lost the rank-limit pushdown:\n$plan")
    }
  }

  test("q144 hybrid search: lexical top-k is TakeOrderedAndProject; query side broadcasts") {
    val plan = physicalPlan("q144_hybrid_search")
    assert(plan.contains("TakeOrderedAndProject"),
      s"lexical top-10 should be a distributed top-k, not a global sort/window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term set / corpus-size frame not broadcast:\n$plan")
  }

  test("q143 MERGE is a single full-outer join (no broadcast fallback, no double shuffle)") {
    val plan = physicalPlan("q143_merge_upsert")
    assert(plan.contains("FullOuter"), s"expected a full-outer join:\n$plan")
    assert("SortMergeJoin".r.findAllIn(plan).size == 1,
      s"expected exactly one sort-merge join:\n$plan")
  }

  test("q153 model inference reads only doc_id + text and is join-free") {
    val plan = physicalPlan("q153_model_filter")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"inference should prune to the two columns it scores:\n$plan")
    assert(!plan.contains("Join"), s"pinned weights must not become a join:\n$plan")
  }

  test("q157 int8 quantization is shuffle-free (pure projection + result sort)") {
    val plan = physicalPlan("q157_int8_quant")
    assert(!plan.contains("HashAggregate"), s"no aggregate expected:\n$plan")
    assert(!plan.contains("Join"), s"no join expected:\n$plan")
    // the only exchange allowed is the presentation ORDER BY's range part
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"unexpected data shuffle beyond the output sort:\n$plan")
  }

  test("q159 DSIR joins the corpus against BROADCAST count models") {
    val plan = physicalPlan("q159_dsir_select")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 1,
      s"unigram model must broadcast, not shuffle the token stream:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side token stream should never sort-merge with the model:\n$plan")
  }

  test("q161 snapshot dedup verify stage broadcasts the token sets") {
    // the query checkpoints its output; the checkpoint's executed plan
    // holds the verify stage
    val plan = physicalPlan("q161_snapshot_dedup")
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate verify should broadcast-join token sets:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no all-pairs stage allowed:\n$plan")
  }

  test("q202 six-table join: date filter pushed to the orders scan, dims broadcast") {
    val plan = physicalPlan("q202_local_supplier_revenue")
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThanOrEqual(o_orderdate") ||
        plan.contains("GreaterThanOrEqual(`o_orderdate`")),
      s"o_orderdate range not pushed to the scan:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"nation/region must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cross join:\n$plan")
  }

  test("q194 CDC chunking: one chunk build, three keyed exchanges, no pairwise stage") {
    val plan = physicalPlan("q194_cdc_chunks")
    // doc_id build → fp keeper election (window) → doc_id ledger; the
    // token stream is generated ONCE (the groupBy+join keeper form built
    // the chunks twice — two Generate nodes — because the subtrees don't
    // canonicalize identically and exchange reuse never fires)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 3, s"CDC keyed exchanges grew past build/election/ledger:\n$plan")
    assert("Generate".r.findAllIn(plan).size == 1,
      s"token stream must be generated exactly once:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no pairwise stage belongs in CDC:\n$plan")
  }

  test("q198 Bloom pre-filter broadcasts the bitmap, never shuffles delta for the probe") {
    val plan = physicalPlan("q198_bloom_dedup")
    assert(plan.contains("BroadcastHashJoin"),
      s"the fixed-size bitmap must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no all-pairs stage:\n$plan")
  }

  test("q195 URL canonicalization: extraction is shuffle-free before the canonical aggregate") {
    val plan = physicalPlan("q195_url_normalize")
    // per-row regex/array canonicalization happens below the single
    // canonical-group aggregate; no join-driven shuffle of raw URLs
    assert(!plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"group attach should broadcast or reuse the aggregate exchange:\n$plan")
    assert(plan.contains("HashAggregate"), s"canonical group aggregate missing:\n$plan")
  }

  test("q196 link graph: anchor extraction stays per-row; degrees are partial aggregates") {
    val plan = physicalPlan("q196_link_graph")
    assert(plan.contains("HashAggregate"), s"degree aggregates missing:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"2-hop must be an equi-join on the edge key:\n$plan")
  }

  test("q205 NB apply: model/priors/totals/vocab all broadcast, never shuffled") {
    val plan = physicalPlan("q205_naive_bayes")
    // the (lang,word) model, the priors, the totals and the 1-row vocab
    // count must each reach the scoring side as broadcasts — the corpus
    // side shuffles only its own (doc_id, word) aggregate
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"model-side joins must broadcast:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size >= 1,
      s"the 1-row vocab cross join should be a broadcast NLJ:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no local cartesian belongs in scoring:\n$plan")
  }

  test("q204 pHash: banded self-join is an equi-join; binary column never shuffles") {
    val plan = physicalPlan("q204_phash_dedup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates must come from the (band,value) equi-join:\n$plan")
    // the payload dies inside the decode task: no plan column carries it
    assert(!plan.contains("png") && !plan.contains("payload"),
      s"image bytes leaked into the shuffle plan:\n$plan")
  }

  test("q207 mojibake detector is shuffle-free before the result sort") {
    val plan = physicalPlan("q207_mojibake")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"per-row detector must not shuffle:\n$plan")
  }

  // The plan does hold BroadcastNestedLoopJoins: "no NLJ" in this title
  // means no nested-loop join over a non-scalar side, which the next test
  // pins.
  test("q208 triangles: every stage an equi-join, no cartesian/NLJ anywhere") {
    val plan = physicalPlan("q208_triangles")
    assert(!plan.contains("CartesianProduct"),
      s"wedge/closure stages must be keyed equi-joins:\n$plan")
    // at sf0.001 every side fits a broadcast; the invariant is that the
    // wedge and closure joins are KEYED (equi) joins of any flavor
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(plan).size >= 4,
      s"expected keyed equi-joins for degree/wedge/closure stages:\n$plan")
  }

  test("q208 triangles: every nested-loop join broadcasts a 1-row global aggregate") {
    val plans = physicalPlans("q208_triangles")
    // a nested-loop join may only attach a scalar: its broadcast side is
    // a global aggregate (no grouping keys, so exactly 1 row)
    def globalAgg(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case r: ReusedExchangeExec => globalAgg(r.child)
      case u: UnaryExecNode => globalAgg(u.child)
      case _ => false
    }
    for (p <- plans; j <- p.collect { case j: BroadcastNestedLoopJoinExec => j }) {
      val built = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      assert(globalAgg(built), s"nested-loop join broadcasts more than a 1-row aggregate:\n$j")
    }
  }

  test("q209 BM25: stats and model sides broadcast; corpus side keyed only") {
    val plan = physicalPlan("q209_bm25")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"df/query-list joins must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no local cartesian in scoring:\n$plan")
  }

  test("q206 priority sampling: one keyed shuffle, rank filter pushed below sort") {
    val plan = physicalPlan("q206_priority_sample")
    val keyed = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(keyed == 1, s"expected exactly one stratum shuffle, got $keyed:\n$plan")
    assert(plan.contains("WindowGroupLimit") || plan.contains("RunningWindowFunction")
      || plan.contains("Window"), s"window rank stage missing:\n$plan")
  }

  test("q241 rolling percentiles: day spine broadcasts, event fan-out is a Generate") {
    val plan = physicalPlan("q241_rolling_percentiles")
    assert(plan.contains("BroadcastHashJoin"),
      s"day spine must join broadcast, not shuffle the exploded events:\n$plan")
    assert(plan.contains("Generate"), s"×7 day fan-out must be an explode:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cross join:\n$plan")
  }

  test("q239 advisor: one keyed shuffle per audited table, all partial-aggregated") {
    val plan = physicalPlan("q239_skew_advisor")
    val keyed = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(keyed == 5, s"expected exactly one per-key shuffle per profile, got $keyed:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial count")
      || "HashAggregate".r.findAllIn(plan).size >= 10,
      s"per-key counts must map-side combine:\n$plan")
  }

  test("q242 weighted percentiles: single window pass, no per-unit explode") {
    val plan = physicalPlan("q242_weighted_percentiles")
    assert(!plan.contains("Generate"),
      s"weights must never materialize per-unit rows:\n$plan")
    assert(plan.contains("Window"), s"cumulative-weight window missing:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cross join:\n$plan")
  }

  test("q246 Benford join hints the BUILD side (no dropped broadcast hint, r9 task 2)") {
    // broadcast() on the PRESERVED side of an outer join is silently
    // dropped (HintErrorLogger); the fix hints obs, the build side of the
    // left-outer. A BroadcastHashJoin with BuildRight proves the hint
    // landed — if it regresses to the preserved side, Catalyst falls back
    // and this pin fails before any warning-log scrape would.
    val plan = physicalPlan("q246_benford_audit")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(plan.contains("LeftOuter, BuildRight"),
      s"expected the aggregated side as broadcast BUILD side:\n$plan")
  }

  test("q99 count-min: the sketch evaluates ONCE (cached), not per hash row") {
    // regression pin for the round-14 fix: the per-row filter pushes
    // below the sketch aggregate, so WITHOUT the shared cache the four
    // broadcast probe joins each rebuilt the sketch from a full event
    // scan (0 ReusedExchange, 4 builds — the inflated sf1 bench line)
    val plan = physicalPlan("q99_countmin")
    // all four probe joins must read the CACHED relation ("Scan
    // parquet" occurrences are not countable here: each
    // InMemoryRelation prints its stored build plan, scans included)
    val memScans = "InMemoryTableScan".r.findAllIn(plan).length
    assert(memScans == 4, s"expected the 4 probe joins to hit the cached " +
      s"sketch, saw $memScans InMemoryTableScan:\n${plan.take(800)}")
  }

  test("q249 seq-source pushdown: no residual Filter, pushed set visible on the scan") {
    val df = Registry.queries("q249_dsv2_filter_pushdown")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"pushdown not advertised:\n$plan")
    assert(plan.contains("GreaterThan(val"), s"val predicate not pushed:\n$plan")
    assert(!plan.contains("Filter ("), s"residual filter above the scan:\n$plan")
  }

  test("q250 graft-store read: partition filter pushed, pruned ReadSchema on the DSv2 scan") {
    val df = Registry.queries("q250_store_partitioned")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-store"), s"DSv2 scan missing:\n$plan")
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(time_of_day,day)"),
      s"partition predicate not pushed to the store scan:\n$plan")
    assert(plan.contains("PartitionColumns: [time_of_day, event_type]"), plan)
    // pruned read schema: the probe needs event_type/user_id/value/event_id
    // but NOT time_of_day as a file column (it binds from the dir name)
    assert(plan.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,value:double,event_type:string>"),
      s"read schema not pruned:\n$plan")
  }

  test("q252 graft-store scan carries a dynamicpruning runtime filter and the dim broadcasts") {
    val df = Registry.queries("q252_store_dpp")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-store"), s"DSv2 scan missing:\n$plan")
    assert(plan.contains("dynamicpruning"),
      s"no runtime partition filter planted on the store scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"dim side not broadcast:\n$plan")
  }

  test("q253 graft-store scan advertises the data-column skip filters (zone maps) and fewer scan rows") {
    val df = Registry.queries("q253_store_zonemap")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-store"), s"DSv2 scan missing:\n$plan")
    // the probe predicates reach the scan as SkipFilters (residual
    // row-check retained — zone maps are file-level, filters stay exact)
    assert(plan.contains("SkipFilters: [") &&
      plan.contains("GreaterThanOrEqual(event_id,100)") &&
      plan.contains("LessThan(event_id,400)"),
      s"zone-map skip filters not on the scan:\n$plan")
    // file skipping measured: the scan must emit fewer rows than the
    // store holds (only the overlapping range-clustered files are read)
    df.collect()
    val scanRows = df.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    val total = graft.Tables.events(spark, sf).count()
    assert(scanRows < total,
      s"zone maps skipped nothing: scan emitted $scanRows of $total")
  }

  test("q255 graft-store columnar read: ColumnarToRow over the batch scan") {
    val df = Registry.queries("q255_store_columnar")(spark, sf)
    df.collect() // ColumnarToRow is inserted when AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-store"), s"DSv2 scan missing:\n$plan")
    // the store scan itself produces columnar batches (below AQE's stages)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    val scans = nodes(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().startsWith("graft-store") => b
    }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      s"graft-store scan is not columnar:\n$plan")
    assert(plan.contains("ColumnarToRow"),
      s"vectorized path not engaged (no ColumnarToRow):\n$plan")
  }
}
