package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the properties that make these operators
  * scale (pushdown, pruning, broadcast, partial aggregation) asserted on
  * the actual physical plans, so a refactor can't silently lose them. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    Queries.all.find(_.name == name).get.run(spark, sf001)
      .queryExecution.executedPlan.toString

  /** Every node of a physical plan, descending into AQE wrappers.
    * `AdaptiveSparkPlanExec` is a LEAF node (its inner plan is a field,
    * not a child), so a plain `plan.collect` over an adaptive plan
    * inspects nothing — a node-type assertion written that way passes
    * vacuously. toString-based checks were never affected (the wrapper
    * renders its inner tree), only `collect`-based ones. */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case o => o.children
    }
    p +: kids.flatMap(allNodes)
  }

  test("s1 ingest prunes unused lineitem columns at the scan") {
    val p = plan("s1_ingest_transitions")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_tax"), "l_tax must be pruned from the scan")
    assert(!p.contains("l_shipdate"), "l_shipdate must be pruned from the scan")
  }

  test("j1 sampling pushes the not-null filter into the parquet scan") {
    val p = plan("j1_deterministic_sample")
    assert(p.contains("PushedFilters: [IsNotNull(event_id)]"))
  }

  test("star join broadcasts the dimension tables by size, not by hint") {
    // nation/region are hinted (bounded ≤ 25 rows at any scale); customer
    // is NOT — at sf0.001 size-based selection still broadcasts it, while
    // at 100 TB the same plan degrades gracefully to a shuffle join
    // instead of a forced driver OOM.
    val p = plan("join_star_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "all four dimension joins should be broadcast at this size")
    assert(!p.contains("SortMergeJoin"), "no sort-merge join for dimensions")
  }

  test("no broadcast hint on corpus-cardinality relations") {
    // The inverse gate of the star-join test: a broadcast HINT forces the
    // strategy at EVERY scale, so it may only appear on genuinely bounded
    // relations (nation/region/bands/filtered supplier/parameter tables).
    // Any hint over a relation carrying a fact-table primary key — customer
    // included, it grows linearly with the corpus — is a 100×-scale OOM.
    // Extended (r9) to VOCAB-DERIVED frames: a distinct-token /
    // document-frequency / n-gram count table is smaller than the corpus
    // but still grows with it (Heaps' law — a 100 TB crawl's vocabulary
    // is 10⁸+ rows), so hinting one is the same class of OOM. `tok`/`bg`/
    // `w1`/`w2` and the unigram/bigram count names only ever appear on
    // those frames; one-row totals (na/v/n) don't carry them.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val factKeys = Set("c_custkey", "o_orderkey", "l_orderkey", "event_id", "doc_id",
      "tok", "bg", "w1", "w2", "c1", "c2", "ca", "cb", "df")
    val offenders = Queries.all.filterNot(_.eagerPlan).flatMap { q =>
      q.run(spark, sf001).queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.isDefined &&
            h.child.output.exists(a => factKeys.contains(a.name)) => q.name
      }
    }.distinct
    assert(offenders.isEmpty,
      s"broadcast hint on corpus-cardinality relation in: ${offenders.mkString(", ")}")
  }

  test("aggregations split into partial + final HashAggregate") {
    val p = plan("a_stats")
    assert("HashAggregate".r.findAllIn(p).size >= 2 ||
      "SortAggregate".r.findAllIn(p).size >= 2)
  }

  test("window ops shuffle once on the partition key") {
    val p = plan("w1_discounted_return")
    // one hash exchange for the window key; the second exchange is the
    // oracle-mandated final ORDER BY (range partitioning)
    assert("hashpartitioning".r.findAllIn(p).size == 1)
  }

  test("similarity kernels use the codegen graft_dot expression") {
    val p = plan("x2_similarity_topk")
    assert(p.contains("graft_dot"))
    assert(!p.toLowerCase.contains("batchevalpython"))
  }

  test("NormRewrite optimizer rule fuses graft_dot(a, a) into graft_norm2") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    // non-literal source — a literal Seq would constant-fold to a
    // LocalRelation before the rewrite is visible in the plan
    val df = spark.range(2).selectExpr("array(cast(id as double), 4.0) AS a")
      .selectExpr("graft_dot(a, a) AS n2")
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_norm2"))
    assert(df.as[Double].collect().toSet == Set(16.0, 17.0))
    // non-identical children must NOT rewrite
    val df2 = spark.range(2)
      .selectExpr("array(cast(id as double)) AS a", "array(cast(2.0 as double)) AS b")
      .selectExpr("graft_dot(a, b) AS d")
    assert(!df2.queryExecution.optimizedPlan.toString.contains("graft_norm2"))
  }

  test("minhash signatures plan has no window and no global sort (dictionary-free)") {
    val p = plan("x1_minhash_signatures")
    // the dense_rank dictionary needed Window + a single-partition sort
    // over the vocabulary; the hashed path must have neither
    assert(!p.contains("Window"), "no window operator in the hashed-feature path")
    assert(!p.contains("rangepartitioning(tok"), "no vocabulary-wide sort")
  }

  test("x6 packing plan is a single window over the stratum key") {
    val p = plan("x6_pack_sequences")
    assert("Window".r.findAllIn(p).size == 1)
    assert(p.contains("graft_text_stats"), "token counts come from the fused kernel")
  }

  test("x3 text analysis evaluates one graft_text_stats per row set") {
    val p = plan("x3_text_analysis")
    // 7 derived columns but ONE kernel invocation (subexpression
    // elimination keeps the fused pass shared)
    assert(p.contains("graft_text_stats"))
    assert(!p.contains("array_filter"), "no interpreted HOF tokenizer in the plan")
  }

  test("sign-LSH plan uses the one-pass codegen kernel") {
    val p = plan("x2_ann_lsh_topk")
    assert(p.contains("graft_sign_lsh"))
    assert(!p.contains("ArrayAggregate"), "no interpreted per-plane HOF fold")
  }

  test("correlated EXISTS decorrelates to a semi join, not a per-row subquery") {
    val p = plan("exists_subquery")
    assert(p.contains("SemiJoin") || p.contains("LeftSemi"),
      "Catalyst must rewrite EXISTS into a semi join")
  }

  test("bloom semi join probes the sketch before the join's shuffle") {
    val p = plan("bloom_semi_join")
    assert(p.contains("might_contain"), "probe-side bloom filter in the plan")
    // the bloom probe is a scan-stage Filter, upstream of the semi join's
    // exchange — it must appear below (after, in toString order) the join
    val joinAt = p.indexOf("Join")
    val probeAt = p.indexOf("might_contain")
    assert(joinAt >= 0 && probeAt > joinAt,
      "bloom probe must sit under the join in the physical plan")
  }

  test("bloom cross-corpus dedup: clean branch is scan-only; anti join sees bloom-positive rows only") {
    val p = plan("x1_cross_corpus_bloom")
    assert(p.contains("might_contain"), "bloom probe must appear in the plan")
    // both branches filter on the probe (one negated, one positive) at
    // scan stage — i.e. the probe fires twice, under the union
    val first = p.indexOf("might_contain")
    assert(p.indexOf("might_contain", first + 1) > first,
      "both routing branches must carry the scan-stage bloom probe")
    // the anti join exists for the residual branch only
    assert(p.contains("LeftAnti"), "exact residual anti join must remain")
  }

  test("paragraph dedup: fp-keyed ledger join, no all-pairs and no unit-table window") {
    val p = plan("x1_paragraph_dedup")
    assert(!p.contains("CartesianProduct"), "no all-pairs comparison")
    assert(!p.contains("Window"), "ownership is a struct-min aggregate, not a ranking window")
    // partial+final aggregation on the fp ledger (map-side combine before
    // the exchange)
    assert(p.contains("partial_min") || p.contains("partial"),
      "owner aggregate must split partial/final")
  }

  test("CDC chunk dedup inherits the same ledger shape: no window, no all-pairs") {
    val p = plan("x1_cdc_chunk_dedup")
    assert(!p.contains("CartesianProduct"), "no all-pairs comparison")
    assert(!p.contains("Window"), "keep-first ownership is a struct-min aggregate")
  }

  test("BPE training: ordered-limit argmax, broadcast fuse, no window anywhere") {
    val p = plan("x3_bpe_merges")
    assert(p.contains("TakeOrderedAndProject"),
      "per-iteration argmax must be TakeOrderedAndProject, not a global sort")
    assert(!p.contains("Window"), "no ranking window in the training loop")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the one-row merge decision must broadcast into the vocab fuse")
    assert(p.contains("partial_sum") || p.contains("partial_count") || p.contains("partial"),
      "pair counts must partial-aggregate map-side")
  }

  test("PCA projection: trained component broadcasts; the corpus side never shuffles or windows") {
    val p = plan("x2_pca_project")
    assert(p.contains("graft_dot"), "projection must use the codegen dot kernel")
    assert(!p.contains("Window"), "no ranking window in the apply step")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the d-sized component row must broadcast into the corpus projection")
  }

  test("k-component PCA projection: one broadcast artifact row; corpus side never shuffles or windows") {
    val p = plan("x2_pca_project_topk")
    assert(p.contains("graft_dot"), "projection must use the codegen dot kernel")
    assert(!p.contains("Window"), "no ranking window in the k-component apply")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the k·d-sized component artifact must broadcast into the corpus projection")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must not shuffle against the trained artifact")
  }

  test("semantic decontamination: bench set broadcasts as one row; corpus side never shuffles") {
    val p = plan("x3_semantic_decontaminate")
    assert(p.contains("graft_max_cosine"),
      "the max-cosine fold must use the fused codegen kernel (r15)")
    assert(!p.contains("Window"), "no ranking window — the max is a per-row fold")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the bench embedding row must broadcast into the corpus scan")
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the bench probe")
  }

  test("Q6 scan-filter-agg: every predicate pushes to the parquet reader; no shuffle before the scalar") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters: ["), "scan must report pushed filters")
    val pushed = p.substring(p.indexOf("PushedFilters: ["))
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"),
      s"all three predicates must reach the reader")
    assert(!p.contains("Exchange hashpartitioning"),
      "a scalar aggregate needs no hash exchange, only the final single-partition gather")
  }

  test("corpus drift: no sources×vocab grid, no vocab-cardinality broadcast hint") {
    // r9 inverts the old gate (which REQUIRED broadcasting the vocab):
    // the missing-token KL tail is closed-form, so the only join is the
    // count-table ⋈ corpus shuffle join on `tok` plus a one-row totals
    // broadcast. Any hint carrying `tok` would re-introduce the
    // vocab-broadcast OOM at crawl scale.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val q = Queries.all.find(_.name == "x3_corpus_drift").get
    val vocabHints = q.run(spark, sf001).queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.isDefined &&
          h.child.output.exists(a => Set("tok", "ca", "cs").contains(a.name)) => h
    }
    assert(vocabHints.isEmpty, "no broadcast hint on a vocab-derived frame")
    val p = plan("x3_corpus_drift")
    assert(!p.contains("CartesianProduct"),
      "the one-row totals frame joins via broadcast, never a cartesian grid")
  }

  test("FIM transform and frame fan-out are shuffle-free projections") {
    Seq("x6_fim_transform" -> false, "x4_frame_resize" -> true).foreach {
      case (name, joinAllowed) =>
        val p = plan(name)
        assert(!p.contains("Window"), s"$name: no window")
        if (!joinAllowed)
          assert(!p.contains("Exchange hashpartitioning"),
            s"$name: a per-row transform must not shuffle")
    }
  }

  test("BPE apply: one-row merge broadcast; the corpus side never shuffles") {
    val p = plan("x3_bpe_apply")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the trained merge table must broadcast")
    assert(!p.contains("Window"), "the apply step is a pure projection")
  }

  test("cohort retention: user-keyed aggregations only — no window anywhere") {
    val p = plan("cohort_retention")
    assert(!p.contains("Window"), "cohorting is min-aggregate + join, not a ranking window")
    assert(p.contains("partial"), "first-seen and distinct-activity both partial-aggregate")
  }

  test("matryoshka recall: truncation is a scan-level slice feeding the codegen dot") {
    val p = plan("x2_matryoshka_recall")
    assert(p.contains("slice("), "dimension truncation must be a slice projection")
    assert(p.contains("graft_dot"), "both rankings ride the codegen kernel")
  }

  test("reservoir sample is TakeOrderedAndProject, not a global sort") {
    val p = plan("x6_reservoir_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-k must use per-partition top-k + driver merge")
    assert(!p.contains("rangepartitioning"), "no full-sort exchange for a k-row sample")
  }

  test("feasible-best plans TakeOrderedAndProject, not a single-partition window") {
    val p = plan("w4_feasible_best")
    assert(p.contains("TakeOrderedAndProject"),
      "top-1 selection must be per-partition top-k + driver merge")
    assert(!p.contains("Window"), "no window operator for a LIMIT-1 selection")
  }

  test("gather sample broadcasts the draw table, never shuffles the corpus") {
    val p = plan("j1_gather_sample")
    assert(p.contains("BroadcastHashJoin"), "index gather must be a broadcast join")
    assert(!p.contains("SortMergeJoin"),
      "a batch-sized draw table must never trigger a corpus shuffle join")
  }

  test("decontamination probes broadcast gram hashes; corpus side stays unshuffled") {
    val p = plan("x3_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "bench gram set must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must probe in place, not shuffle on gram hash")
    assert(p.contains("graft_gram_hashes"),
      "grams must reduce to hashes (fused kernel) before the join")
  }

  test("trajectory outlier filter has no ranking window over episodes") {
    // the top-% cutoff must come from a quantile AGGREGATE (+ broadcast
    // scalar), not from ranking all episodes through one window partition
    val p = plan("s3_outlier_trajectories")
    assert(p.contains("percentile_disc"), "discrete-quantile cutoff expected")
    assert(!p.contains("Window"), "no ranking window for the episode cutoff")
  }

  test("pii redaction and classifier scoring are projection-only pipelines") {
    // per-row regex/feature math must stay inside the scan's codegen
    // stage: any join/aggregate/window here means the op picked up
    // corpus-shuffling structure it doesn't need
    for (name <- Seq("x3_pii_redaction", "x3_quality_classifier")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name must not join")
      assert(!p.contains("HashAggregate"), s"$name must not aggregate")
      assert(!p.contains("Window"), s"$name must not window")
    }
  }

  test("domain cap: broadcast blocklist anti-join, one domain-keyed window") {
    val p = plan("x3_domain_cap")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "blocklist must be a broadcast anti-join")
    assert(!p.contains("SortMergeJoin"))
    // one hash exchange (the domain window); the other exchange is the
    // final ORDER BY's range partitioning
    assert("hashpartitioning".r.findAllIn(p).size == 1)
  }

  test("source mixture: rate table broadcasts, corpus never windows") {
    val p = plan("x6_source_mixture")
    assert(p.contains("BroadcastHashJoin"),
      "stratum rates must broadcast-join onto the corpus")
    assert(!p.contains("Window"), "mixture is rate-filter + agg, no window")
    assert(!p.contains("SortMergeJoin"))
  }

  test("token budget: bucket prefix broadcasts; no global corpus window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = Queries.all.find(_.name == "x6_token_budget").get.run(spark, sf001)
    val exec = df.queryExecution.executedPlan
    val p = exec.toString
    assert(p.contains("BroadcastHashJoin"),
      "the aggregate-tiny prefix table must broadcast onto the corpus")
    assert(!p.contains("SortMergeJoin"))
    // the only window is per-score-bucket — never empty partitionSpec
    val windows = allNodes(exec).collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }

  test("no query plans an unpartitioned WindowExec (single-partition funnel)") {
    // An empty partitionSpec moves EVERY row through one partition — a
    // correctness-preserving scale-killer. This closes the class: any new
    // query that reintroduces one fails here, with its name in the message.
    // eagerPlan queries are excluded: CONSTRUCTING them executes Spark jobs
    // (adaptive dedup decision / sink writes), which a plan-only sweep must
    // not do — their window shapes are covered by the per-operator specs
    // over the same building blocks (minhashLshPairs has no window at all).
    import org.apache.spark.sql.execution.window.WindowExec
    val (skipped, sweepable) = Queries.all.partition(_.eagerPlan)
    assert(skipped.map(_.name).toSet == Set("x1_dedup_components",
      "x1_dedup_pipeline", "x1_dedup_keep_best", "s4_csv_roundtrip",
      "s4_jsonl_roundtrip", "s7_partitioned_roundtrip", "s8_orc_roundtrip",
      "s9_bucketed_join", "s10_schema_evolution", "e2e_train_kstep",
      "x8_pagerank_states", "x8_personalized_pagerank", "x8_hits_states",
      "x8_hop_distances", "x3_train_classifier", "x3_classifier_scores",
      "x3_bpe_merges_fast", "x3_bpe_bytes", "x3_bpe_bytes_apply",
      "x2_pca_topk", "x2_pca_project_topk", "x2_opq_recall",
      "x2_artifact_roundtrip", "x2_opq_alloc_recall",
      "x3_bpe_artifact_apply", "x2_opq_refine_recall",
      "x2_pq_artifact_roundtrip", "x2_pca_artifact_roundtrip",
      "x3_classifier_artifact_apply"),
      // x1_dedup_components/_pipeline/_keep_best: constructing them runs the
      // adaptive local-vs-distributed component decision (counts the edge
      // graph); s4/s7/s8/s10 roundtrips + s9 bucketed write their fixture
      // tables on construction; e2e_train_kstep collects k per-step scalar
      // aggregates while unrolling the bounded-lineage loop (window-free by
      // construction — each step is aggregates over the same grouped frame);
      // x8_pagerank_states / x8_personalized_pagerank / x8_hits_states /
      // x8_hop_distances / x3_train_classifier / x3_classifier_scores
      // localCheckpoint each iteration's rank/frontier/weight vector
      // (window shape gated by the dedicated pagerank plan test — all
      // share the iteration building blocks; the trainer and its apply
      // step have no window at all).
      // x3_bpe_merges_fast / x3_bpe_bytes: constructing them COLLECTS the
      // vocabulary-bounded word table and runs the driver-resident merge
      // loop (that is the op — the returned frame is a local result table
      // with no window anywhere). x3_bpe_bytes_apply trains the byte
      // table the same way before the lazy apply projection.
      // x2_pca_topk / x2_pca_project_topk / x2_opq_recall: constructing
      // them runs Similarity.pcaTopK, which materializes the d^2-bounded
      // covariance to the driver for the deflation loop (the MLlib
      // split) — a plan-only sweep must not execute that corpus-sized
      // aggregate. The projection results are broadcast shapes; the opq
      // recall's ranking windows are per-query (the bounded eval stripe),
      // the same shape the dedicated PQ plan tests gate.
      // x2_artifact_roundtrip: constructing it trains the centroid table
      // and COMMITS it to the versioned artifact store (a parquet write +
      // rename is the op); the assignment it returns is the window-free
      // broadcast argmin fold the kmeans plan test gates.
      // x2_opq_alloc_recall: same pcaTopK eager collect as x2_opq_recall,
      // plus opqAllocate's k-eigenvalue collect for the greedy
      // permutation; the search windows are the per-query PQ shapes the
      // dedicated PQ plan tests gate.
      // x3_bpe_artifact_apply: constructing it trains the merge table
      // (TakeOrdered argmax per iteration, eager) and commits it to the
      // artifact store; the apply is the broadcast-row projection the
      // BPE-apply plan test gates.
      // x2_opq_refine_recall: pcaTopK's covariance collect plus
      // opqRefine's d^2 Procrustes reduction (M = X^T·X̂ collected, the
      // op's documented driver stage); the PQ search windows are the
      // bounded per-query eval shapes the PQ plan tests gate.
      // x2_pq_artifact_roundtrip / x2_pca_artifact_roundtrip:
      // constructing them trains codebooks/components and COMMITS them
      // to the versioned artifact store (write + rename is the op, same
      // as x2_artifact_roundtrip); pcaTopK's collect applies to the
      // latter. The encode/projection they return are broadcast folds.
      // x3_classifier_artifact_apply: constructing it runs the
      // localCheckpoint-per-step GD trainer (same as x3_train_classifier)
      // and COMMITS the weight table to the artifact store; the apply it
      // returns is the same window-free scoring join as
      // x3_classifier_scores.
      // Window shapes of the underlying building blocks are covered by the
      // per-operator plan tests above.
      "eagerPlan exclusions changed — re-justify each one here")
    val offenders = sweepable.flatMap { q =>
      val exec = q.run(spark, sf001).queryExecution.executedPlan
      allNodes(exec).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => q.name
      }
    }.distinct
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec in: ${offenders.mkString(", ")}")
  }

  test("kmeans fit plans broadcast assignment — no window, no sort-merge join") {
    val p = plan("x2_kmeans_fit")
    // the corpus side must never shuffle for assignment: the centroid
    // table collapses to one row and broadcasts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroid relation must broadcast")
    assert(!p.contains("SortMergeJoin"), "no corpus-wide join shuffle")
    assert(!p.contains("Window"), "assignment is a fold, not a ranking window")
    assert(p.contains("graft_nearest_cell"),
      "assignment must evaluate through the fused argmin kernel (r15)")
  }

  test("heavy hitters plans partial sketch aggregation, no token-level shuffle") {
    val p = plan("x5_heavy_hitters")
    // the MG udaf buffers are objects → ObjectHashAggregate, planned as
    // partial (per-partition sketch) + merge — the exchange carries one
    // sketch per (partition, source), never the exploded token stream
    assert(p.contains("ObjectHashAggregate"), "typed Aggregator must plan object agg")
    assert(p.contains("partial_misragriesaggregator") ||
      p.toLowerCase.contains("partial"), "map-side sketch before the exchange")
  }

  test("profiler reads the table once for all columns") {
    val p = plan("profile_table")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"profiler must profile every column in one scan, saw $scans")
    // exact countDistinct plans through Expand (the documented 100 TB
    // swap to approx_count_distinct removes it — see DataProfile scaladoc)
    assert(p.contains("Expand"))
  }

  test("semantic dedup plans broadcast assignment and a cell-keyed pair join") {
    val p = plan("x2_semantic_dedup")
    // centroid argmin: centroids broadcast, corpus never shuffles for it
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroid relation must broadcast")
    // the quadratic stage must be keyed on cell — an unkeyed cartesian
    // over members is the all-pairs scale-killer this op exists to avoid
    assert(!p.contains("CartesianProduct"),
      "pairwise stage must join on cell, never cartesian")
    // assignment is the shared broadcast argmin fold — an expand-then-rank
    // assignment would shuffle N·k scored rows through a window exchange
    assert(!p.contains("Window"), "assignment is a fold, not a ranking window")
  }

  test("IVF assignment is the broadcast fold; only the top-k ranks per query") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = Queries.all.find(_.name == "x2_ivf_topk").get
      .run(spark, sf001).queryExecution.executedPlan
    val windows = allNodes(exec).collect { case w: WindowExec => w }
    // exactly ONE window survives: the final per-query top-k rank (a
    // queries-sized frame). Cell assignment — the corpus-sized stage —
    // must be the broadcast aggregate fold with no window at all; with
    // IVF's k≈√N sizing an expand-then-rank assignment pushes N^1.5 rows
    // through an exchange.
    assert(windows.size == 1,
      s"expected only the top-k window, saw ${windows.size}")
    assert(windows.head.partitionSpec.map(_.toString).exists(_.contains("query_id")),
      "the surviving window must be the per-query top-k rank")
    assert(exec.toString.contains("BroadcastNestedLoopJoin") ||
      exec.toString.contains("BroadcastExchange"),
      "centroid relation must broadcast")
  }

  test("multi-probe IVF keeps the fold on the corpus — expansion only on the query side") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = Queries.all.find(_.name == "x2_ivf_nprobe_topk").get
      .run(spark, sf001).queryExecution.executedPlan
    // same invariant as single-probe IVF: nprobe expands the QUERY side
    // (tiny, broadcast) via a sorted slice of the one-row centroid frame,
    // never the corpus — so the only window is still the final top-k rank.
    val windows = allNodes(exec).collect { case w: WindowExec => w }
    assert(windows.size == 1,
      s"expected only the top-k window, saw ${windows.size}")
    assert(windows.head.partitionSpec.map(_.toString).exists(_.contains("query_id")),
      "the surviving window must be the per-query top-k rank")
  }

  test("epoch shuffle is map-only: no exchange anywhere in the operator's plan") {
    val exec = ops.Curation.epochShuffle(
      graft.sources.Tables.documents(spark, sf001), "doc_id", epochs = 3)
      .queryExecution.executedPlan
    assert(!exec.toString.contains("Exchange"),
      "the manifest is a projection+explode — any exchange is a regression")
  }

  test("epoch upsample is map-only: no exchange, no window in the operator's plan") {
    val exec = ops.Curation.upsampleBy(
      graft.sources.Tables.documents(spark, sf001), "doc_id", "source",
      Map("src0" -> 250, "src1" -> 40))
      .queryExecution.executedPlan
    assert(!exec.toString.contains("Exchange"),
      "rate fold + explode is a projection — any exchange is a regression")
    assert(!exec.toString.contains("Window"))
  }

  test("strip markup stays inside one projection over the scan") {
    val exec = graft.sources.Tables.documents(spark, sf001)
      .select(ops.TextOps.stripMarkup(col("text")).as("clean"))
      .queryExecution.executedPlan
    assert(!exec.toString.contains("Exchange"),
      "three chained regex replaces are map-only")
  }

  test("shard manifest windows only within a size level; prefix is the broadcast self-join") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = Queries.all.find(_.name == "x6_shard_manifest").get
      .run(spark, sf001).queryExecution.executedPlan
    val windows = allNodes(exec).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "the within-level rank is a window")
    assert(windows.forall(_.partitionSpec.map(_.toString)
        .exists(_.contains("n_tokens"))),
      "every window must partition by the size level — a global rank " +
        "window would funnel the corpus through one task")
    assert(!exec.toString.contains("SortMergeJoin"),
      "the level-prefix join is tiny and must broadcast")
  }

  test("bucketed join is shuffle-free scan-to-scan (co-located buckets)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val (o, c) = graft.sources.Tables.bucketedOrdersCustomer(spark, sf001)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = o.join(c, col("o_custkey") === col("c_custkey"))
      val nodes = allNodes(joined.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        "equal-bucket join should plan sort-merge")
      assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
        "bucketed scans must satisfy the join distribution with NO exchange")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    // SCALING.md leans on AQE skew-join as the runtime answer to hot keys
    // (salting is the manual fallback, salted_agg) — this pins that the
    // mechanism actually fires: one key owns ~90% of the left side, the
    // thresholds are lowered to fixture scale, and after execution the
    // final adaptive plan must show the skew-split sort-merge join.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = (1L to 200000L)
        .map(i => (if (i % 10 != 0) 0L else i % 97, i)).toDF("k", "v")
      // NOTE: both shuffles must be ENSURE_REQUIREMENTS — a user
      // repartition() is exempt from OptimizeSkewedJoin by design
      val right = (0L until 97L).map(k => (k, s"dim$k")).toDF("k", "name")
      val joined = left.join(right, "k")
      // collect() (not count()) so THIS QueryExecution runs — count()
      // wraps the plan in a new execution and the inspected one stays
      // un-adapted
      assert(joined.collect().length == 200000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        "AQE must mark the hot-key sort-merge join as skew-split")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("PQ training: broadcast-fold assignment for every subspace — no window in the fit") {
    val p = plan("x2_pq_train")
    assert(!p.contains("Window"),
      "sub-code assignment must be the broadcast argmin fold, not a ranking window")
    assert(p.contains("BroadcastExchange"), "codebooks must broadcast to the sliced corpus")
  }

  test("IVF+PQ composed search: corpus never shuffles before the candidate agg; one ranking window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = Queries.all.find(_.name == "x2_ivf_pq_topk").get
      .run(spark, sf001).queryExecution.executedPlan
    // the coarse assignment, sub-code assignment, probe prune, and ADC
    // lookup are ALL broadcast joins over the single corpus scan — the
    // first corpus-carrying exchange is the (query_id, pid) candidate
    // aggregation, which only sees the probe-pruned fraction. A
    // SortMergeJoin anywhere means a corpus shuffle snuck in; a second
    // window means an expand-then-rank assignment replaced a fold.
    val windows = allNodes(exec).collect { case w: WindowExec => w }
    assert(windows.size == 1,
      s"expected only the top-k window, saw ${windows.size}")
    assert(windows.head.partitionSpec.map(_.toString).exists(_.contains("query_id")),
      "the surviving window must be the per-query top-k rank")
    val p = exec.toString
    assert(!p.contains("SortMergeJoin"),
      "probe prune and ADC lookups must broadcast-join the coded corpus")
    assert(!p.contains("CartesianProduct"), "no all-pairs stage anywhere")
  }

  test("two-stage rerank: shortlist + final rank are the only windows; exact stage broadcast-joins") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = Queries.all.find(_.name == "x2_ivf_rerank_topk").get
      .run(spark, sf001).queryExecution.executedPlan
    // exactly two per-query ranking windows: the ADC shortlist cut and
    // the exact-cosine re-rank — anything else means an expand-then-rank
    // snuck into an assignment fold
    val windows = allNodes(exec).collect { case w: WindowExec => w }
    assert(windows.size == 2,
      s"expected shortlist + re-rank windows only, saw ${windows.size}")
    windows.foreach(w =>
      assert(w.partitionSpec.map(_.toString).exists(_.contains("query_id")),
        "both windows must partition by query_id"))
    val p = exec.toString
    assert(!p.contains("CartesianProduct"), "no all-pairs stage anywhere")
    assert(!p.contains("SortMergeJoin"),
      "the queries-x-shortlist candidate frame and the query stripe must broadcast-join the corpus scan")
  }

  test("PQ ADC search: codes and distance table broadcast-join; only the final ranking windows") {
    val p = plan("x2_pq_adc_topk")
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 1, s"expected exactly the query-partitioned ranking window, got $windows")
    assert(p.contains("BroadcastExchange"), "the queries·m·k distance table must broadcast")
  }

  test("duplicated spans: no join-back of the df table — deduped pairs, gh window, doc rollup") {
    val p = plan("x1_dup_span_fraction")
    assert(!p.contains("Join"), "df must come from the gh window, never a join-back")
    assert(p.contains("Window"), "df is the count(*) window over gh")
    // three data shuffles (pairs, window partitioning, doc rollup) plus
    // the final ORDER BY range exchange — nothing else
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("Reused"))
    assert(exchanges == 4, s"expected 4 exchanges, got $exchanges:\n$p")
  }

  test("DSv2 generator scan: range filters push into the connector, columns prune, no residual Filter") {
    val p = plan("s2_generator_source")
    // the connector narrowed its interval from the pushed predicates...
    assert(p.contains("PushedFilters: [GreaterThanOrEqual(i,1200), LessThan(i,43200)]"), p)
    assert(p.contains("[1200, 43200)"), "scan description must show the narrowed interval")
    // ...so no Filter NODE survives post-scan ("PushedFilters:"/
    // "RuntimeFilters:" labels are not nodes — match the tree rendering)
    assert(!p.contains("- Filter "), "range predicate must be fully absorbed by the scan")
    // pruning: only the 4 referenced columns are generated
    val scanLine = p.linesIterator.find(_.contains("BatchScan")).get
    assert(scanLine.contains("[episode#") && scanLine.contains("done#"), scanLine)
    assert(!scanLine.contains("action#") && !scanLine.contains("cost#") &&
      !scanLine.contains("i#"),
      "unused generator columns must be pruned at the connector")
  }

  test("dsir: bounded λ map broadcasts; top-k is TakeOrdered, not a global sort") {
    val p = plan("x6_dsir_select")
    // the 128-entry λ map is the ONLY broadcast of derived data — a
    // fixed-size hash range, never a vocabulary (the drift-op lesson)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the one-row λ map must broadcast onto the corpus")
    assert(!p.contains("Window"), "scoring is a projection — no window")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 selection must be TakeOrdered (per-partition heaps), not Sort+Limit")
  }

  test("bm25: query terms broadcast-prune the token stream; top-k is TakeOrdered") {
    val p = plan("x3_bm25_topdocs")
    // the term set is a QUERY (inherently bounded) — the one frame the
    // vocab-broadcast policy explicitly allows a hint for
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "query terms + one-row stats must broadcast onto the token stream")
    assert(!p.contains("Window"), "scoring folds per doc — no window anywhere")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k selection must be TakeOrdered (per-partition heaps), not Sort+Limit")
  }

  test("pagerank: iteration joins are keyed, never cartesian on node frames") {
    // the iteration's eager localCheckpoint runs as a "localCheckpoint"
    // action: its executed plan shows the iteration's join shapes, which
    // the returned frame hides behind the checkpointed leaf
    import org.apache.spark.sql.GraftPlanBridge
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val cuts = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") cuts.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val edges = graft.ops.GraphOps.transitionEdges(
      graft.sources.Tables.events(spark, sf001), "user_id",
      Seq(col("ts"), col("event_id")),
      get_json_object(col("props"), "$.k").cast("long"))
    spark.listenerManager.register(listener)
    try {
      graft.ops.GraphOps.pagerank(edges, iters = 1)
      GraftPlanBridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(cuts.size == 1, s"one iteration, one cut: ${cuts.size}")
    val p = cuts.peek()
    assert(!p.contains("CartesianProduct"),
      "only one-row scalars may cross-join (they plan as BroadcastNestedLoop)")
    // contrib joins key on src; rank update left-joins on node
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin")
      || p.contains("BroadcastHashJoin"), "edge⋈rank joins must be keyed")
  }

  test("edit-distance join: candidates come from keyed prefix-token joins") {
    val p = plan("x1_edit_distance_join")
    assert(!p.contains("CartesianProduct"),
      "the short pool is a bounded non-equi join (BNLJ), never a full cartesian")
    // the long-branch candidate join keys on (gram, occ); verify joins key
    // on a_id/b_id — at least one keyed join family must be present
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"))
  }

  test("graft_dot registered function evaluates the fused kernel") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val got = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .selectExpr("graft_dot(a, b)").as[Double].head()
    assert(got == 11.0)
    // and it agrees bit-for-bit with the HOF form on float-derived doubles
    val hof = Seq((Seq(1.1, 2.2, 3.3), Seq(0.1, 0.2, 0.3))).toDF("a", "b")
    val e = hof.select(graft.ops.CoreOps.dot(col("a"), col("b"))).as[Double].head()
    val c = hof.selectExpr("graft_dot(a, b)").as[Double].head()
    assert(e == c)
  }
}
