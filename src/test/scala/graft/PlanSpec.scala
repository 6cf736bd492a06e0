package graft

/** Plan-shape regression guards: the properties that make these queries
  * viable at 100 TB must be visible in the optimized/physical plan —
  * pushed filters, pruned scan schemas, broadcast dims, no cartesian
  * products in equi-key dedup. A refactor that silently loses one of
  * these still passes the oracle at sf0.01; this spec is what fails.
  */
class PlanSpec extends SparkSpecBase {

  private def planOf(name: String): String = {
    val d = SparkEntry.defs.find(_.name == name).get
    d.run(spark, sf).queryExecution.executedPlan.toString
  }

  test("scan query pushes filters and prunes columns") {
    val p = planOf("q_scan_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), "no pushed filters in scan")
    assert(p.contains("In(l_returnflag"), "IN filter not pushed")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(!read.contains("l_extendedprice"), s"scan reads unneeded columns: $read")
  }

  test("dimension joins broadcast") {
    val p = planOf("q_join_inner_agg")
    assert(p.contains("BroadcastHashJoin"), "dim join did not broadcast")
  }

  test("top-k plans as TakeOrderedAndProject, not global sort") {
    val p = planOf("q_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to global sort")
  }

  test("jaccard dedup joins on the shingle key (no cartesian)") {
    val p = planOf("q_dedup_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "dedup candidate generation degenerated to a cross product")
  }

  test("asof rewrite is one partition-key window, no join") {
    val d = SparkEntry.defs.find(_.name == "q_evt_asof").get
    val p = d.run(spark, sf).queryExecution.optimizedPlan.toString
    assert(p.contains("Window"), "asof rewrite lost its window")
    assert(!p.toLowerCase.contains("join"), "asof rewrite introduced a join")
  }

  test("jaccard self-join input is df-capped (hot-shingle pair bound)") {
    val d = SparkEntry.defs.find(_.name == "q_dedup_jaccard").get
    val p = d.run(spark, sf).queryExecution.optimizedPlan.toString
    assert(p.contains("<= 1000"), "shingle df-cap filter missing before the self-join")
  }

  test("range-frame window is partitioned (no single-task global window)") {
    val d = SparkEntry.defs.find(_.name == "q_win_range_frame").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("Window"), "no window in range-frame plan")
    // an unpartitioned window plans as Exchange SinglePartition → Window
    assert(!p.contains("Exchange SinglePartition"),
      "range-frame window funnels everything through one partition")
  }

  test("percentile avoids the buffering aggregate (rank+interpolate shape)") {
    val d = SparkEntry.defs.find(_.name == "q_agg_percentile").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("percentile("), "fell back to the unbounded-memory percentile aggregate")
    assert(p.contains("Window"), "histogram cumulative-rank pass missing")
  }

  test("bucketed join runs with zero join-side shuffles") {
    val d = SparkEntry.defs.find(_.name == "q_join_bucketed").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), "bucketed join did not plan as sort-merge")
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed join still shuffles — bucket layout not exploited")
    assert(p.contains("Bucketed: true"), "scan did not use the bucketed layout")
  }

  test("decontamination joins on the shingle key (no cartesian)") {
    val p = planOf("q_text_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "decontamination overlap degenerated to a cross product")
  }

  test("salted join keys include the salt column") {
    val d = SparkEntry.defs.find(_.name == "q_join_salted_skew").get
    val p = d.run(spark, sf).queryExecution.optimizedPlan.toString
    assert(p.toLowerCase.contains("salt"), "salt column missing from the join")
    assert(!p.contains("CartesianProduct"), "salted join degenerated to a cross product")
  }

  test("exclude-frame window is partitioned") {
    val d = SparkEntry.defs.find(_.name == "q_win_exclude").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("Window"), "no window in exclude-frame plan")
    assert(!p.contains("Exchange SinglePartition"),
      "exclude-frame window funnels everything through one partition")
  }

  test("brute-force ann broadcasts the query side") {
    val p = planOf("q_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "ann corpus scan should join against broadcast queries")
  }

  test("ivf centroids come from one row-local aggregate (no dim fan-out, no corpus join-back)") {
    // the centroid pass is per-label count + 64 per-dim sums — all
    // row-local with total map-side combine. An explode would mean the
    // 64× dim fan-out shuffle crept back; >2 scans would mean the cell
    // sizes went back to joining the full corpus instead of riding the
    // same aggregate.
    val p = planOf("q_ann_ivf")
    assert(!p.contains("Generate"),
      "ivf centroid pass exploded the corpus per-dimension again")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2,
      s"ivf scans parquet $scans times (expected 2: centroid/cell-size aggregate + query rows)")
  }

  test("positional join and nested-CTE rank have no single-partition window") {
    // both were global row_number()/dense_rank() windows (one task sorts
    // the whole input); now zipWithIndex / top-k-then-rank shapes
    for (name <- Seq("q_evt_positional", "q_cte_nested")) {
      val d = SparkEntry.defs.find(_.name == name).get
      val p = d.run(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("Exchange SinglePartition"),
        s"$name funnels everything through one partition")
      assert(!p.contains("Window ["), s"$name still contains a window operator")
    }
  }

  test("tfidf corpus size is computed in-plan (no driver-side count job)") {
    val d = SparkEntry.defs.find(_.name == "q_text_tfidf").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")
        || p.contains("BroadcastExchange"),
      "corpus-size scalar should enter via a broadcast 1-row join")
  }

  test("percentile buckets are data-independent (no stats pre-pass)") {
    // r9 shape: bucket-first, exactly TWO scans, no materialized value
    // table — pass 1 aggregates ≤65k data-independent bucket keys
    // (total map-side combine, kilobyte shuffle) and is checkpointed as
    // the ≤8-row targets table (both pick-pass joins broadcast it and
    // pruning diverges the copies, so without the checkpoint it ran
    // twice); pass 2 re-reads the columns keeping only target-bucket
    // rows. So the OUTER plan shows exactly the one pick-pass scan;
    // more would mean a stats pre-pass or the duplicated counts pass
    // crept back; a buffering percentile aggregate would mean the
    // bucketed-rank design was dropped.
    import graft.engine.Tables
    val inner = graft.queries.AggQueries.percentileValueTable(Tables(spark, sf))
      .queryExecution.executedPlan.toString
    assert(inner.contains("double_sort_key"),
      "bit-bucket key missing — bucket ids regressed to a min/max stats pass")
    val innerScans = "Scan parquet".r.findAllIn(inner).length
    assert(innerScans == 1, s"percentile key stream scans lineitem $innerScans times (expected 1)")
    val d = SparkEntry.defs.find(_.name == "q_agg_percentile").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("percentile("), "buffering percentile aggregate crept in")
    val outerScans = "Scan parquet".r.findAllIn(p).length
    assert(outerScans == 1,
      s"percentile outer plan scans parquet $outerScans times (expected 1: the pick pass; counts pass runs once at targets-checkpoint time)")
  }

  test("clean_corpus: one scan, one linear pipeline, no joins (fused r15 shape)") {
    // r15 shape: both text digests (md5 + minhash band key) computed
    // row-locally in ONE projection over the scan, text dropped before
    // the first exchange; exact dedup = min_by hash aggregate; near-dup
    // drop = unordered window min over the band key. The plan must be
    // a single linear pipeline — exactly one parquet scan, exactly one
    // Window, and NO join operator (the pair-join formulation scanned
    // the subtree from multiple consumers and needed a checkpoint).
    val d = SparkEntry.defs.find(_.name == "q_pipeline_clean_corpus").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"clean_corpus scans parquet $scans times (expected 1)")
    assert(!p.contains("Join"), "a join crept back into clean_corpus")
    assert("(?i)window".r.findAllIn(p).length >= 1, "band-key window min missing")
  }

  test("top-k projection transposes above the limit (expensive expr on k rows)") {
    // the optimizer rule must fold the JSON-parsing projection INTO
    // TakeOrderedAndProject (evaluated post-top-k), leaving no Project
    // between the scan and the limit
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_orderkey", "get_json_object(concat('{\"k\":', o_custkey, '}'), '$.k') AS k")
      .orderBy("o_orderkey").limit(10)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "top-k fell back to global sort")
    val idxTop = p.indexOf("TakeOrderedAndProject")
    val body = p.substring(idxTop)
    assert(!body.replaceFirst("TakeOrderedAndProject[^\\n]*\\n", "").contains("get_json_object"),
      "expensive projection still evaluates below the top-k")
  }

  test("q18 semi-join reuses the HAVING aggregate (one lineitem scan)") {
    val d = SparkEntry.defs.find(_.name == "q_tpch_q18").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    val liScans = "lineitem".r.findAllIn(p).length
    assert(liScans <= 2, // path appears in scan location + read schema once
      s"q18 re-scans lineitem (found $liScans mentions; expected one scan)")
  }

  test("q21 folds both correlated EXISTS into one aggregate (no extra fact scans)") {
    val d = SparkEntry.defs.find(_.name == "q_tpch_q21").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("Expand"), "q21 regressed to a multi-distinct Expand plan")
    val scans = "Scan parquet".r.findAllIn(p).length
    // lineitem ×2 (late lines + stats share one scan subtree pre-reuse),
    // orders, supplier, nation
    assert(scans <= 5, s"q21 plan has $scans scans — correlated EXISTS not folded")
  }

  test("approx-distinct is a single-scan two-level aggregation (no join)") {
    val d = SparkEntry.defs.find(_.name == "q_agg_approx_distinct").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"approx-distinct scans orders $scans times (expected 1)")
    assert(!p.toLowerCase.contains("join"), "approx-distinct regressed to a split+join plan")
  }

  test("no TPC-H query degenerates to a cartesian / nested-loop fact join") {
    // q19's OR-of-ANDs is the canonical trap: Catalyst must extract the
    // common p_partkey = l_partkey equi-key; scalar-subquery queries
    // (q11/q14/q15/q17/q22) are allowed their 1-row broadcast joins
    for (n <- Seq("q_tpch_q2", "q_tpch_q4", "q_tpch_q7", "q_tpch_q8", "q_tpch_q10",
        "q_tpch_q12", "q_tpch_q13", "q_tpch_q16", "q_tpch_q19", "q_tpch_q20")) {
      val d = SparkEntry.defs.find(_.name == n).get
      val p = d.run(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$n plans a CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n plans a nested-loop join")
    }
  }

  test("TPC-H semi/anti shapes plan as semi/anti joins, not distinct+inner") {
    val semis = Seq("q_tpch_q4" -> "LeftSemi", "q_tpch_q20" -> "LeftSemi",
      "q_tpch_q16" -> "LeftAnti", "q_tpch_q22" -> "LeftAnti")
    for ((n, kind) <- semis) {
      val d = SparkEntry.defs.find(_.name == n).get
      val p = d.run(spark, sf).queryExecution.executedPlan.toString
      assert(p.contains(kind), s"$n lost its $kind join")
    }
  }

  test("TPC-H selective filters reach the parquet scans") {
    // q6 is the pure-scan query: all three predicates must be pushed
    val p6 = planOf("q_tpch_q6")
    assert(p6.contains("PushedFilters:") && p6.contains("l_shipdate"),
      "q6 shipdate range not pushed to the scan")
    // q19 must not read money columns it doesn't aggregate
    val p19 = planOf("q_tpch_q19")
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p19).map(_.group(1)).toSeq
    assert(reads.exists(r => r.contains("l_partkey") && !r.contains("l_tax")),
      s"q19 lineitem scan reads columns outside the projection: $reads")
  }

  test("TPC-H scalar thresholds enter via broadcast, not driver collect") {
    // q11/q15/q17/q22: the aggregate threshold must appear in-plan as a
    // (broadcast) join against a 1-row aggregate — never a literal
    // collected on the driver between two jobs
    for (n <- Seq("q_tpch_q11", "q_tpch_q15", "q_tpch_q22")) {
      val d = SparkEntry.defs.find(_.name == n).get
      val p = d.run(spark, sf).queryExecution.executedPlan.toString
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
        s"$n scalar threshold is not a broadcast join")
    }
  }

  test("q2 correlated-max prunes the bridge before the distinct") {
    // the part filter must sit below the (l_partkey, l_suppkey)
    // aggregate: only qualifying pairs get deduplicated
    val d = SparkEntry.defs.find(_.name == "q_tpch_q2").get
    val p = d.run(spark, sf).queryExecution.optimizedPlan.toString
    val aggIdx = p.indexOf("Aggregate")
    val joinIdx = p.indexOf("Join", aggIdx)
    assert(aggIdx >= 0 && joinIdx > aggIdx,
      "bridge distinct is not fed by the part-filtered join")
  }

  test("simhash near-dup pairs come from capped band buckets (no cartesian, no window)") {
    val d = SparkEntry.defs.find(_.name == "q_dedup_simhash_near").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "simhash near-dup degenerated to a cross product")
    assert(!p.contains("Window"), "simhash near-dup gained a window sort")
    assert(p.contains("<= 1000"), "band bucket cap missing")
  }

  test("sequence packing has no global window and no single-partition exchange") {
    // the prefix sum must be the two-pass distributed scan, never a
    // row_number/sum OVER () global window
    val d = SparkEntry.defs.find(_.name == "q_pipeline_pack_sequences").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "packing prefix sum fell back to a window")
    assert(!p.contains("Exchange SinglePartition"),
      "packing funnels rows through one partition")
  }

  test("stratified sample is a scan-level filter (no shuffle before the sample)") {
    val d = SparkEntry.defs.find(_.name == "q_pipeline_stratified_sample").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    // the keep decision must evaluate directly over the scan: besides
    // the presentation sort, the only allowed exchange is the tier's
    // round-robin scan-parallelism spread (Tables.spread — identity at
    // scale, never a data-dependent shuffle)
    val exchanges = "Exchange".r.findAllIn(p).size -
      "Exchange RoundRobinPartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"sample plan shuffles $exchanges times; the quota filter must be row-local")
    assert(!p.contains("Join"), "sample plan gained a join")
  }

  test("dup-cluster edges join on the band key (no cartesian), rounds are keyed joins") {
    // the candidate-pair generator is the loop's edge source; its plan
    // (not the final checkpointed aggregation) is where a cross product
    // could hide
    val edges = graft.queries.DedupQueries
      .minhashPairs(graft.engine.Tables(spark, sf).documents)
    val pe = edges.queryExecution.executedPlan.toString
    assert(!pe.contains("CartesianProduct") && !pe.contains("BroadcastNestedLoopJoin"),
      "minhash pair generation degenerated to a cross product")
    val d = SparkEntry.defs.find(_.name == "q_pipeline_dup_clusters").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      "dup-cluster aggregation funnels through one partition")
  }

  // r16 (VERDICT r15 item 4, guide §5): the bucket membership buffer is
  // BOUNDED during collection (BoundedCollectList) — capped per-group
  // memory, loud descriptive failure past the cap — while the plan stays
  // the r15 single-aggregate shape (routing designs all measured slower;
  // see OPTIMIZATION_r16.md).
  test("minhash/prefix bucket collection is bounded (capped buffer, loud overflow)") {
    val edges = graft.queries.DedupQueries
      .minhashPairs(graft.engine.Tables(spark, sf).documents)
    val opt = edges.queryExecution.optimizedPlan.toString
    assert(opt.contains("bounded_collect_list"),
      "minhash bucket collect is not the bounded aggregate")
    assert(!opt.toLowerCase.contains("join"), "minhash pair generation regained a join")
    val pfx = SparkEntry.defs.find(_.name == "q_dedup_jaccard_prefix").get
      .run(spark, sf).queryExecution.optimizedPlan.toString
    assert(pfx.contains("bounded_collect_list"),
      "prefix bucket collect is not the bounded aggregate")
  }

  test("bm25 keeps corpus stats in-plan and broadcasts the term sides") {
    val d = SparkEntry.defs.find(_.name == "q_text_bm25").get
    val df = d.run(spark, sf)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastExchange")
      || df.queryExecution.optimizedPlan.toString.contains("ResolvedHint"),
      "df/stats sides are not broadcast")
    // top-10 must be a TakeOrdered, not a global sort of all scored docs
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "bm25 top-k fell back to a global sort")
  }

  test("knn join blocks on the label key (no cartesian), top-k is a bounded aggregate") {
    val d = SparkEntry.defs.find(_.name == "q_ann_knn_join").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "knn join degenerated to a cross product")
    // top-3 must come from the merge-able TopKByScore aggregate (map-
    // side partial combine, <= k rows per group-partition on the
    // exchange) — a rank window would shuffle and sort EVERY pair
    assert(!p.contains("Window"), "knn top-k regressed to a rank window over all pairs")
    assert(p.contains("topkbyscore") || p.toLowerCase.contains("objecthashaggregate"),
      "knn top-k lost the bounded-aggregate shape")
  }

  test("train order never funnels through one partition") {
    val d = SparkEntry.defs.find(_.name == "q_pipeline_train_order").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "train order gained a global rank window")
    // shard offsets are a broadcast join, not a shuffled one
    assert(p.contains("BroadcastHashJoin"), "shard offsets are not broadcast")
  }

  test("boilerplate removal anti-joins the shared-chunk set without a cartesian") {
    val d = SparkEntry.defs.find(_.name == "q_pipeline_boilerplate").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), "boilerplate removal lost the anti-join shape")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "boilerplate anti-join degenerated to a cross product")
  }

  test("quality score is row-local: no shuffle except presentation order") {
    val d = SparkEntry.defs.find(_.name == "q_pipeline_quality_score").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).length -
      "Exchange RoundRobinPartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"quality scoring shuffles $exchanges times (expected sort only)")
    assert(!p.contains("Window"), "quality scoring gained a window")
  }

  test("prefix-filtered jaccard joins stay keyed (no cartesian), windows are per-doc") {
    val d = SparkEntry.defs.find(_.name == "q_dedup_jaccard_prefix").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "prefix join degenerated to a cross product")
    assert(!p.contains("windowspecdefinition()") &&
      p.contains("windowspecdefinition(doc_id"),
      "prefix rank window lost its per-doc partitioning")
    // r15: candidate pairs come from grouped prefix postings (in-bucket
    // ordered-pair explode over the sort_array'd posting list), not a
    // prefix self-join feeding DISTINCT. sort_array sits in the
    // aggregate's result projection, which the physical toString elides
    // — assert on the optimized plan.
    val opt = SparkEntry.defs.find(_.name == "q_dedup_jaccard_prefix").get
      .run(spark, sf).queryExecution.optimizedPlan.toString
    assert(opt.contains("sort_array(bounded_collect_list(doc_id"),
      "bucket-grouped candidate generation missing")
  }

  test("dedup apply is one hash aggregation, no window, no join back to the fact") {
    val d = SparkEntry.defs.find(_.name == "q_pipeline_dedup_apply").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "dedup apply gained a window")
    assert(!p.contains("Join"), "dedup apply joins back to documents (min(struct) shape lost)")
  }

  test("token budget prefix sum avoids the global window") {
    val d = SparkEntry.defs.find(_.name == "q_pipeline_token_budget").get
    val p = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "token budget planned a single-partition global window")
    // the theta-join runs on the tiny per-source side, as a broadcast NL
    assert(p.contains("BroadcastNestedLoopJoin"),
      "prior computation lost its broadcast pair-join shape")
  }

  test("presentation sort replaces the root range exchange when enabled") {
    val d = SparkEntry.defs.find(_.name == "q_dedup_exact").get
    val off = d.run(spark, sf).queryExecution.executedPlan.toString
    assert(off.contains("rangepartitioning"),
      "default (rule off) plan should range-sort at the root")
    spark.conf.set(graft.plans.PresentationSort.ConfKey, "true")
    try {
      val on = d.run(spark, sf).queryExecution.executedPlan.toString
      assert(!on.contains("rangepartitioning"),
        "presentation sort left a range exchange (sampling job) in the plan")
      assert(on.contains("Sort "), "presentation sort lost the sort itself")
      // and it never touches non-root sorts: top-k is still TakeOrdered
      val topk = SparkEntry.defs.find(_.name == "q_topk").get
        .run(spark, sf).queryExecution.executedPlan.toString
      assert(topk.contains("TakeOrderedAndProject"),
        "presentation sort broke the top-k TakeOrderedAndProject shape")
    } finally spark.conf.set(graft.plans.PresentationSort.ConfKey, "false")
  }

  // -- constant-select rewrite (graft.plans.ConstantSelect) ----------------

  /** A session that plans without the rule: the pre-rewrite baseline. */
  private lazy val withoutConstantSelect = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", graft.plans.ConstantSelect.ruleName)
    s
  }

  private def localRoot(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("constant SELECTs plan as a root LocalTableScan; names, types and nullability kept") {
    for (q <- Seq("SELECT 1", "SELECT NULL, 'a' AS x, 2.5", "SELECT version()")) {
      val on = spark.sql(q)
      val off = withoutConstantSelect.sql(q)
      assert(localRoot(on), s"$q: rule did not fire\n${on.queryExecution.optimizedPlan}")
      assert(on.queryExecution.executedPlan
        .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec])
      assert(!localRoot(off), s"$q: baseline already local; the test pins nothing")
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.output.map(a => (a.name, a.dataType, a.nullable))
      assert(shape(on) == shape(off), q)
      assert(on.collect().toSeq == off.collect().toSeq, q)
    }
  }

  test("constant-select rewrite: only literals, only at the root") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Subquery}
    import org.apache.spark.sql.execution.CommandExecutionMode
    assert(!localRoot(spark.sql("SELECT rand()")), "non-deterministic projection rewritten")
    // 1/0 raises when evaluated (ANSI): it fails in the same phase with
    // the same condition whether or not the rule is installed
    def failure(s: org.apache.spark.sql.SparkSession): (Boolean, Seq[String]) = {
      val df = s.sql("SELECT 1/0")
      val atOptimize = scala.util.Try(df.queryExecution.optimizedPlan).isFailure
      val e = intercept[Exception](df.collect())
      (atOptimize, Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collect {
        case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
      }.toSeq)
    }
    val div = failure(spark)
    assert(div._2.contains("DIVIDE_BY_ZERO"), div.toString)
    assert(div == failure(withoutConstantSelect))
    // a scalar subquery is optimized under a Subquery root: untouched
    val lit = spark.sql("SELECT 1").queryExecution.analyzed
    assert(graft.plans.ConstantSelect(lit).isInstanceOf[LocalRelation])
    val sub = Subquery(lit, correlated = false)
    assert(graft.plans.ConstantSelect(sub) == sub)
    val inTable = spark.sql("SELECT id, (SELECT 1) AS c FROM range(3)")
    assert(inTable.queryExecution.optimizedPlan
      .collectWithSubqueries { case l: LocalRelation => l }.isEmpty)
    assert(inTable.collect().map(_.getInt(1)).toSeq == Seq(1, 1, 1))
    // command roots: the SELECT under INSERT, CTAS and CREATE VIEW stays
    spark.sql("DROP TABLE IF EXISTS plan_cs_t")
    spark.sql("CREATE TABLE plan_cs_t (x INT) USING parquet")
    try {
      for (q <- Seq("INSERT INTO plan_cs_t SELECT 1",
          "CREATE TABLE plan_cs_ctas USING parquet AS SELECT 1 AS x",
          "CREATE VIEW plan_cs_v AS SELECT 1 AS x")) {
        val plan = spark.sessionState.executePlan(
          spark.sessionState.sqlParser.parsePlan(q), CommandExecutionMode.SKIP).optimizedPlan
        assert(plan.find(_.isInstanceOf[LocalRelation]).isEmpty, s"$q:\n$plan")
      }
    } finally spark.sql("DROP TABLE IF EXISTS plan_cs_t")
  }
}
