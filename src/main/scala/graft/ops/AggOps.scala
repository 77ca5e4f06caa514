package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2.4, A1–A8).
  *
  * All expressed with built-in aggregate expressions so Spark plans them
  * as partial (map-side) + final aggregates automatically — the property
  * that makes a 100 TB groupBy shuffle only one pre-aggregated row per
  * (partition × group) instead of the raw rows.
  */
object AggOps {

  /** True iff `df`'s analyzed plan is a cheap re-scannable tree: every
    * node is a leaf (file scan, local rows, checkpoint-block read) or a
    * narrow Project/Filter/alias over one. Decides whether the quantile
    * family checkpoints its row projection (r19): a scan-rooted input
    * re-reads pruned parquet cheaper than materializing the projection
    * once (x5_approx_quantile
    * 44.9 → 28.9 s at 60M rows), while a DERIVED input (joins,
    * aggregates, windows — e.g. [[madOutliers]]' nested quantiles) must
    * checkpoint or each of the ~6 plan references re-executes the
    * subtree (a_mad_outliers 15.0 → 23.2 s the other way).
    *
    * Determinism gate (r20): a narrow tree over a NONDETERMINISTIC
    * expression (`rand()` projection, sampling predicate, Sample node) is
    * cheap to re-scan but yields a DIFFERENT row set per scan — the ~6
    * plan references would each quantile a different sample, silently
    * producing internally inconsistent bounds. Those trees route to the
    * checkpoint path, restoring the r18 default's safe-for-any-input
    * contract. */
  private[graft] def isScanRooted(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def ok(p: LogicalPlan): Boolean = p match {
      case _: Sample => false
      case _: LeafNode => true
      case _: Project | _: Filter | _: SubqueryAlias =>
        p.expressions.forall(_.deterministic) && p.children.forall(ok)
      case _ => false
    }
    ok(df.queryExecution.analyzed)
  }

  /** A3 — torch-style lower median (`torch.median` returns the lower of
    * the two middle elements, reference fawac.py:471,493,501,509), i.e.
    * the element at 1-based rank ⌊(n+1)/2⌋ of the sorted column.
    * Spark 4's `median` interpolates, so we sort explicitly for oracle
    * parity (DuckDB `quantile_disc(0.5)` has the same lower-middle
    * semantics — verified empirically). Exact but collects the group into
    * one array — correct up to millions of rows per group; the 100 TB
    * scale path is [[approxMedian]] with a documented ε. */
  def lowerMedian(c: Column): Column =
    element_at(array_sort(collect_list(c)),
      floor((count(c) + lit(1)) / lit(2)).cast("int"))

  /** A3 scale path — mergeable sketch-based median (exact rank ± n/accuracy). */
  def approxMedian(c: Column, accuracy: Int = 10000): Column =
    percentile_approx(c, lit(0.5), lit(accuracy))

  /** A3 exact-at-scale path — lower median via a value histogram:
    * count per (group, value), then the median is the first value whose
    * cumulative count reaches rank ⌊(n+1)/2⌋. Identical result to
    * [[lowerMedian]], but the only full-data pass is a partial+final
    * count aggregation — no per-group array materialization — and the
    * window sort runs over the per-group DISTINCT VALUES, not the rows.
    * The method of choice whenever the value domain is bounded (metrics,
    * quantities, quantized scores); for unbounded domains use
    * [[approxMedian]]. Returns one row per group with at least one
    * non-null value: (keyCols*, outCol) — a group whose values are ALL
    * null gets NO row (SQL's quantile over all-nulls yields NULL; join
    * this output with a LEFT join to preserve such groups as null). */
  def exactMedianByValue(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
                         valueCol: String, outCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = keyCols.map(col)
    // drop nulls first: lowerMedian's rank uses count(c), which ignores
    // nulls — counting them here would shift the rank and could even
    // select the null histogram row as the median
    val c = "__graft_median_c" // prefixed: must not collide with caller columns
    val hist = df.where(col(valueCol).isNotNull)
      .groupBy(keys :+ col(valueCol): _*).agg(count(lit(1)).as(c))
    val wOrd = Window.partitionBy(keys: _*).orderBy(col(valueCol))
    val wAll = Window.partitionBy(keys: _*)
    val rank = floor((sum(col(c)).over(wAll) + lit(1)) / lit(2))
    hist.withColumn("__graft_median_cum", sum(col(c)).over(wOrd))
      .withColumn("__graft_median_rank", rank)
      .where(col("__graft_median_cum") >= col("__graft_median_rank") &&
        col("__graft_median_cum") - col(c) < col("__graft_median_rank"))
      .select(keys :+ col(valueCol).as(outCol): _*)
  }

  /** A3 exact-at-scale GLOBAL lower median(s) — the join-free sibling of
    * [[exactMedianByValue]] for the no-group case, where that method's
    * empty-partition window would funnel every histogram row through one
    * task (the shape PlanSpec bans). Shape instead: ONE (values…)
    * histogram aggregate over the corpus (partial+final — the shuffle
    * carries distinct value-combinations, bounded by assumption), the
    * histogram collapses to a single collected row (tiny), and each
    * requested median is a sorted-histogram `aggregate` HOF fold to the
    * 1-based rank ⌊(n+1)/2⌋ — identical semantics to [[lowerMedian]]
    * (torch lower-middle; nulls ignored) with no corpus-sized array
    * anywhere. Requesting several medians of columns derived from the
    * same bounded inputs shares the one histogram pass.
    *
    * Use when the value domain is bounded (quantities, clamped nets,
    * quantized scores); unbounded domains → [[approxMedian]].
    * Output: ONE row, one double column per requested name (null if the
    * column is all-null). */
  def lowerMediansByHistogram(df: org.apache.spark.sql.DataFrame,
                              medians: Seq[(String, Column)]): org.apache.spark.sql.DataFrame = {
    require(medians.nonEmpty, "need at least one median column")
    val hist = df.groupBy(medians.map { case (n, c) =>
        c.cast("double").as(s"__v_$n") }: _*)
      .agg(count(lit(1)).as("__c"))
    val one = hist.agg(collect_list(
      struct(hist.columns.map(col): _*)).as("__h"))
    medians.foldLeft(one) { case (acc, (n, _)) =>
      acc
        .withColumn("__hs", expr(
          s"""filter(array_sort(transform(__h,
                x -> named_struct('v', x.__v_$n, 'c', x.__c))),
              p -> p.v IS NOT NULL)"""))
        .withColumn("__rk", expr(
          "CAST(floor((aggregate(__hs, CAST(0 AS BIGINT), (a, p) -> a + p.c) + 1) / 2) AS BIGINT)"))
        .withColumn(n, expr(
          """aggregate(__hs,
               named_struct('cum', CAST(0 AS BIGINT), 'ans', CAST(NULL AS DOUBLE)),
               (a, p) -> IF(a.ans IS NOT NULL, a,
                 named_struct('cum', a.cum + p.c,
                   'ans', IF(a.cum + p.c >= __rk, p.v, CAST(NULL AS DOUBLE)))),
               a -> a.ans)"""))
        .drop("__hs", "__rk")
    }.drop("__h")
  }

  /** A4 — population stddev (`np.std` ddof=0, reference fawac.py:595). */
  def stddevPop(c: Column): Column = stddev_pop(c)

  /** A5 — weighted mean: `mean(w·x)` (advantage-weighted regression core,
    * reference fawac.py:450). */
  def weightedMean(w: Column, x: Column): Column = avg(w * x)

  /** A5 variant — normalized weighted mean Σwx/Σw. */
  def normalizedWeightedMean(w: Column, x: Column): Column = sum(w * x) / sum(w)

  /** A6 — MSE of a prediction column against a target column
    * (reference fawac.py:367-368). */
  def mse(pred: Column, target: Column): Column =
    avg((pred - target) * (pred - target))

  /** A6 — twin-head MSE: mean of per-head MSEs (reference fawac.py:368). */
  def twinMse(q1: Column, q2: Column, target: Column): Column =
    (mse(q1, target) + mse(q2, target)) / lit(2.0)

  /** Skew-resistant two-stage aggregation: salt the hot key with a hash
    * bucket, pre-aggregate per (key, salt), then merge per key. Results are
    * identical to the direct groupBy for algebraic aggregates (counts/sums);
    * at 100 TB this is the manual fallback when AQE skew handling can't
    * split a pathological reduce key. */
  def saltedSum(df: org.apache.spark.sql.DataFrame, keyCol: String,
                valueCol: String, saltBuckets: Int = 16,
                saltSource: Column): org.apache.spark.sql.DataFrame =
    df.groupBy(col(keyCol), pmod(saltSource, lit(saltBuckets)).as("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s"))
      .groupBy(col(keyCol))
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("total"))

  /** A7 — expectile (asymmetric L2) loss:
    * `mean(|τ − 1[u<0]| · u²)` (reference fawac.py:99-100, τ=iql_tau).
    * A single built-in expression — no UDAF needed, stays codegen'd. */
  def expectileLoss(u: Column, tau: Double): Column =
    avg(abs(lit(tau) - CoreOps.indicator(u < lit(0.0))) * u * u)

  /** S3-family robust preprocessing — winsorization: clamp `valueCol` at
    * its per-group exact discrete quantiles [lowQ, highQ] (the
    * heavy-tail taming that outlier DROPPING is too blunt for: extreme
    * rows keep their other columns, only the value saturates).
    *
    * Quantiles use the distributed rank form — value at 1-based position
    * ceil(q·n) in (group, value) order — NOT percentile_disc, whose
    * per-group value-map buffer is a single-task OOM at scale (see
    * x5_approx_quantile). Cost: one window sort per group (the group
    * count rides the same exchange as an unordered frame) + a
    * group-cardinality bounds table broadcast back. Appends
    * `<valueCol>_w` (clamped); original column untouched. Row-preserving
    * for ALL rows: null group keys form their own group (the bounds
    * join-back is null-safe, so they are winsorized within it rather
    * than silently dropped), and a group whose bounds come back null
    * (all-null values) passes through unclamped via the left join. */
  /** Per-group ADAPTIVE quality gate (CCNet-style per-language
    * thresholds): keep rows whose score reaches their OWN group's
    * (1 − keepTopFrac) positional quantile — "top 40% per language", not
    * one global cutoff that starves low-resource groups. Same
    * distributed-rank machinery as [[winsorize]] (value at 1-based
    * position ceil(q·n) in (group, score) order; never percentile_disc's
    * one-task value map), one bound per group broadcast back. The bound
    * row itself is kept (threshold semantics, like DuckDB's
    * `quantile_disc` which the oracle uses): kept count =
    * n − ceil((1−f)·n) + 1 per group plus any tie mates at the bound —
    * ≥ the exact top-f count by at most one row + the tie run, the
    * standard slack of a value-threshold gate. Null scores drop (they
    * cannot pass a ≥ bound). */
  def qualityGate(df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
                  scoreCol: String, keepTopFrac: Double): org.apache.spark.sql.DataFrame = {
    require(keepTopFrac > 0 && keepTopFrac < 1,
      s"need 0 < keepTopFrac < 1, got $keepTopFrac")
    import org.apache.spark.sql.expressions.Window
    val q = 1.0 - keepTopFrac
    val gs = groupCols.map(col)
    val w = Window.partitionBy(gs: _*).orderBy(col(scoreCol))
    val wn = Window.partitionBy(gs: _*)
    val bounds = df
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wn))
      .groupBy(gs: _*)
      .agg(min(when(col("__rn") === ceil(col("__n") * lit(q)).cast("long"),
        col(scoreCol))).as("__lo"))
      .select(groupCols.map(c => col(c).as(s"__g_$c")) :+ col("__lo"): _*)
    val cond = groupCols.map(c => df(c) <=> col(s"__g_$c")).reduce(_ && _)
    df.join(broadcast(bounds), cond, "left")
      .where(col(scoreCol) >= col("__lo"))
      .drop(groupCols.map(c => s"__g_$c") :+ "__lo": _*)
  }

  /** A-family extension — per-group ROBUST outlier flags via median/MAD:
    * a row is an outlier when |x − median| > k·MAD, the estimator that
    * survives what 3σ z-scores cannot — the outliers themselves
    * inflating the mean and stddev (one 10⁶× telemetry spike widens σ
    * until nothing else flags; the median and MAD barely move).
    *
    * Median is the torch lower-median convention (value at sorted rank
    * ⌈n/2⌉ — A3's exact form); MAD is the same rank statistic over
    * |x − med|, kept RAW (no 1.4826 gaussian consistency factor — fold
    * it into `k`: k = 4.45 ≈ the classic 3σ). All arithmetic after the
    * rank picks is rational per-row IEEE — engine-exact. Groups where
    * MAD = 0 (a majority-constant column) flag every deviating row —
    * the documented behavior of the estimator, not a bug.
    *
    * Scale: two rank passes (value, then deviation), each one keyed
    * window + group-bounds aggregate joined back small — the winsorize
    * plan shape twice. Rows with NULL value take no part in the ranks
    * and flag false. Output: input columns + (med, mad, is_outlier). */
  def madOutliers(df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
                  valueCol: String, k: Double = 4.45): org.apache.spark.sql.DataFrame = {
    require(k > 0, "k must be positive")
    val gs = groupCols.map(col)
    // lower-median via the distributed selection primitive (r16):
    // ceil(n · 0.5) ≡ the old ceil(n / 2.0) exactly (both FP-exact)
    def rankStat(in: org.apache.spark.sql.DataFrame, c: String,
                 out: String): org.apache.spark.sql.DataFrame =
      exactQuantiles(in, groupCols, c, Seq(0.5))
        .select(groupCols.map(c0 => col(c0).as(s"__g_$c0")) :+
          col("__qval").as(out): _*)
    def backJoin(in: org.apache.spark.sql.DataFrame,
                 bounds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val cond = groupCols.map(c0 => in(c0) <=> col(s"__g_$c0")).reduce(_ && _)
      in.join(broadcast(bounds), cond, "left")
        .drop(groupCols.map(c0 => s"__g_$c0"): _*)
    }
    val withMed = backJoin(df, rankStat(df, valueCol, "med"))
      .withColumn("__dev", abs(col(valueCol) - col("med")))
    backJoin(withMed, rankStat(withMed, "__dev", "mad"))
      .withColumn("is_outlier",
        coalesce(col("__dev") > lit(k) * col("mad"), lit(false)))
      .drop("__dev")
  }

  /** EXACT discrete quantiles per group — the value at 1-based sorted
    * position ceil(q·n), DuckDB's `quantile_disc` position rule —
    * computed fully distributed (r16) and SKEW-BOUNDED (r17). The r15
    * form ranked every row with `row_number() OVER (PARTITION BY group
    * ORDER BY value)`: with a LOW-cardinality group key (3 return flags)
    * that is one task PER GROUP sorting the group's entire slice — the
    * r16 sf1.0 board measured it ×6.5 at ×10 data and at 100 TB it is a
    * straight single-node sort. This form never sorts more than one
    * small value slice:
    *   1. per-group (n, min, max) — one aggregate;
    *   2. rows map monotonically onto `buckets` uniform value ranges;
    *      per-(group, bucket) (count, min, max) — one aggregate,
    *      ≤ groups·buckets rows;
    *   3. a cumulative count over the ≤`buckets` rows per group locates
    *      the bucket containing each target rank ceil(q·n) and the
    *      offset within it;
    *   4. per-target routing (all lazy, one plan, no driver actions):
    *      - TIE SHORT-CIRCUIT: if the selected bucket's min <=> max,
    *        every row in it is that value — the answer is emitted with
    *        NO row materialization at all. This is what bounds
    *        heavy-tie / power-law columns and the constant-group branch
    *        (which puts ALL rows in bucket 0): the r16 form sorted that
    *        O(n) bucket in one task.
    *      - SMALL (count ≤ sortThreshold): the bucket's rows get the
    *        ranking window — n/B expected occupancy. The common exit.
    *      - BIG (count > sortThreshold, ≥ 2 distinct values): the
    *        bucket is re-bucketed on ITS OWN [min, max] range and the
    *        routing repeats, up to `levels` rounds. Each round shrinks
    *        the slice's value range ×`buckets` (1024³ ≈ 2³⁰ effective
    *        resolution at the defaults) or resolves it as a tie; after
    *        the last round whatever remains is sorted (correct always —
    *        only slow if > sortThreshold DISTINCT-but-2⁻³⁰-range values
    *        share one slice, i.e. adjacent-double clustering).
    * Correct for ANY monotone bucketing (ties share a bucket; the
    * in-bucket offset is exact arithmetic on exact counts), so the
    * result is identical to the global-rank form — re-bucketing a slice
    * re-ranks WITHIN it with the offset already localized, and Sterbenz
    * subtraction of nearby doubles keeps (v−lo)/(hi−lo) monotone at any
    * depth. NULL values take no part (groups of only NULLs are absent).
    * SMALL-GROUP FAST PATH (r18): groups whose whole slice is ≤
    * `sortThreshold` rows skip steps 2–4 entirely — one ranking window
    * over the group's own rows answers every q (the r15 rank rule,
    * safe exactly because the gate bounds what one task sorts). A
    * high-cardinality group key (per-episode quantiles) never touches
    * the bucket machinery at all.
    *
    * LAZY LEVEL CONSTRUCTION (r22, guide §1 "do less work"): each
    * routing tier's plan is only BUILT once a bounded, already-
    * checkpointed frame proves rows can reach it — one small/big group
    * count over `stats` gates the fast path and the whole bucket
    * machinery (all-small-group inputs return the fast path alone,
    * all-big-group inputs skip the fast branch's corpus scan) and each
    * level's big-bucket frame gates the next level's plan. Constructing the full `levels`-deep tree up front
    * meant Catalyst analyzed + planned every level's checkpoint subtree
    * at DataFrame-construction time even when level 1 resolved every
    * target (the common exit): a_mad_outliers spent ~2 s of a 2.2 s
    * wall in that driver gap at sf0.1. The emptiness probes are actions
    * on GROUPS-bounded checkpointed frames (stats / located / each
    * subLocated), so **constructing this DataFrame executes Spark
    * jobs**: the level-k aggregates materialize at construction and the
    * final action reuses their checkpoint blocks. Callers that build
    * the frame and never run it pay the bounded aggregates; that trade
    * is deliberate and documented here (the family already materializes
    * checkpoints at first action — this only moves WHEN).
    *
    * Plan-shape note (why refinement re-joins the BASE rows instead of
    * chaining the previous level's join output): a slice's rows are
    * exactly `lo ≤ v ≤ hi` against its located bucket's actual min/max —
    * monotone bucketing means no foreign row can fall between two bucket
    * members — so each level is `rows ⋈ broadcast(tiny targets)`, a
    * map-side filter. Chaining instead multiplies the DATA subtree's
    * references ~4× per level; with [[madOutliers]] nesting one
    * exactQuantiles inside another, that tree blows up exponentially and
    * Catalyst analysis alone took minutes (measured r17). On top of the
    * re-join shape, every REUSED frame (the row projection and each
    * level's bounded aggregates) is a lazy `localCheckpoint` — see the
    * reuse-discipline comment in the body for why cache() alone does not
    * stop the analysis-time blowup. The common case (every located
    * bucket small or tied) routes all targets out at level 1; the deeper
    * levels' aggregates run over empty slices at negligible cost.
    * Output: (groupCols…, __q, __qval), one row per (group, q). */
  def exactQuantiles(df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
                     valueCol: String, qs: Seq[Double],
                     buckets: Int = 1024, sortThreshold: Long = 1L << 16,
                     levels: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty, "exactQuantiles needs at least one group column")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1]: $qs")
    require(buckets >= 2, "need at least two buckets")
    require(sortThreshold >= 1, "sortThreshold must be positive")
    require(levels >= 1, "need at least one bucketing level")
    val gs = groupCols.map(col)
    // all group-key joins below are NULL-SAFE (<=> on renamed right-side
    // keys): a null-keyed group is a real group here, same as groupBy's
    def renamed(in: org.apache.spark.sql.DataFrame, pfx: String) =
      in.select(in.columns.map(c =>
        if (groupCols.contains(c)) col(c).as(s"$pfx$c") else col(c)): _*)
    def keyCond(pfx: String) =
      groupCols.map(c => col(c) <=> col(s"$pfx$c")).reduce(_ && _)
    // __q is a literal from qs — never null, but <=> keeps the join shape
    // uniform with the group keys
    def keyCondQ(pfx: String) = keyCond(pfx) && col("__q") <=> col(s"${pfx}__q")
    def renamedQ(in: org.apache.spark.sql.DataFrame, pfx: String) =
      in.select(in.columns.map(c =>
        if (groupCols.contains(c) || c == "__q") col(c).as(s"$pfx$c")
        else col(c)): _*)
    // REUSE DISCIPLINE (r17, the regression the first sweep caught): the
    // plan references `rows` ~3× per level and the located-targets lineage
    // ~4× per level — multiplicatively through the levels, and
    // multiplicatively AGAIN when a caller nests one exactQuantiles inside
    // another ([[madOutliers]]). cache() alone does NOT fix it: cached
    // subtrees are substituted at optimization time, so ANALYSIS still
    // walks the exponentially-embedded tree (a_mad_outliers measured
    // 335 s at sf0.1 uncached, 93 s cached — both dominated by Catalyst,
    // not data). `localCheckpoint(eager = false)` truncates the LOGICAL
    // plan itself: every reused frame becomes a LogicalRDD leaf, computed
    // once at first action and block-read after, and downstream analysis
    // sees a leaf instead of the subtree (a_mad_outliers back to ~2 s).
    // Still fully lazy — no driver action here. The narrow (group, value)
    // projection is the only sizable materialization, the same order the
    // r15 sort-based form shuffled anyway. Block lifetime:
    // the checkpointed RDDs are released by ContextCleaner when the
    // DataFrames are garbage-collected — a session running MANY
    // quantile-family queries reclaims them nondeterministically (driver
    // GC), which is bounded in practice by the narrow projection being
    // the only data-sized frame. Two further shapes rely on runtime
    // re-planning: checkpoint leaves carry unknown size statistics, so
    // the rows⋈stats and targets⋈cum joins below depend on AQE (on by
    // default) choosing broadcast at runtime; only frames bounded by
    // construction (≤ groups·qs rows) carry explicit broadcast() hints.
    // Re-scan vs materialize the rows (measured r18, sf10 = 60M rows):
    // when `df` is a cheap re-computable scan, the ~6 plan references to
    // `rows` re-read pruned parquet faster than materializing 60M rows
    // once (x5_approx_quantile 44.9 → 28.9 s without the checkpoint) —
    // but when `df` embeds a derived subtree (madOutliers nests one
    // exactQuantiles inside another), re-execution costs more than the
    // blocks save (a_mad_outliers 15.0 → 23.2 s the other way). The input
    // plan itself decides ([[isScanRooted]]: leaf/Project/Filter-only →
    // re-scan, anything derived → checkpoint). The BOUNDED aggregates
    // below stay checkpointed either way — they are what stops the
    // multiplicative analysis blowup.
    val rowsPlain = df.where(col(valueCol).isNotNull)
      .select(gs :+ col(valueCol).as("__v"): _*)
    val rows =
      if (isScanRooted(df)) rowsPlain else rowsPlain.localCheckpoint(eager = false)
    // The BOUNDED intermediates (stats ≤ groups, cum ≤ groups·buckets,
    // located ≤ groups·qs rows) are checkpointed too: each is referenced
    // by 3–4 downstream branches per level (tie / small / big routing),
    // and those references multiply through the levels. All are aggregate
    // outputs bounded by design, so the materialized footprint is trivial.
    val stats = rows.groupBy(gs: _*)
      .agg(count(lit(1)).as("__n"), min(col("__v")).as("__mn"),
        max(col("__v")).as("__mx"))
      .localCheckpoint(eager = false)
    // ---- SMALL-GROUP FAST PATH (r18): a group whose entire slice fits
    // under sortThreshold needs none of the bucket/locate/refine
    // machinery — one ranking window over its own rows (partition size
    // ≤ sortThreshold by the gate) answers every q directly, exactly the
    // r15 rank rule. High-cardinality group keys (per-episode quantiles)
    // route ENTIRELY through here: one window pass, no bucket aggregates.
    // Groups above the gate take the distributed path below unchanged.
    val smallG = stats.where(col("__n") <= lit(sortThreshold))
    val bigG = stats.where(col("__n") > lit(sortThreshold))
    // lazy-level gate counters (r22, scaladoc): ONE job over the
    // checkpointed GROUPS-sized stats frame decides which routing tiers
    // exist at all — the fast path (small groups) and the bucket
    // machinery (big groups). Materializing stats here is work the first
    // action paid anyway; the checkpoint blocks are reused downstream.
    val gateRow = stats.agg(
      count(when(col("__n") <= lit(sortThreshold), 1)).as("s"),
      count(when(col("__n") > lit(sortThreshold), 1)).as("b")).head()
    val hasSmall = gateRow.getLong(0) > 0
    val hasBig = gateRow.getLong(1) > 0
    val fastTgt = smallG
      .select(gs :+ col("__n") :+ explode(array(qs.map(lit): _*)).as("__q"): _*)
      .withColumn("__k",
        greatest(ceil(col("__n") * col("__q")).cast("long"), lit(1L)))
      .select(gs ++ Seq(col("__q"), col("__k")): _*)
    // No broadcast() hints here (r19): smallG/fastTgt are GROUPS-sized,
    // and this path is precisely the high-group-cardinality route
    // (per-episode quantiles → groups is data-sized). A mandatory
    // broadcast could blow Spark's broadcast limit on a query the bucket
    // path handled; AQE picks broadcast at runtime when the key set is
    // actually small — the same reliance documented for rows⋈stats.
    val fast = rows
      .join(renamed(smallG.select(gs: _*), "__f_"), keyCond("__f_"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(gs: _*).orderBy(col("__v"))))
      .join(renamed(fastTgt, "__t_"),
        keyCond("__t_") && col("__rn") === col("__k"))
      .select(gs ++ Seq(col("__q"), col("__v").as("__qval")): _*)
    // lazy-level gate 1 (r22, scaladoc): no group exceeds the sort gate →
    // the fast path answers everything; none of the bucket machinery
    // below is even constructed.
    if (!hasBig) return fast
    // ---- level 1: bucket once per group (q-free — targets share it) ----
    val bucketed = rows
      .join(renamed(bigG, "__s_"), keyCond("__s_"))
      .withColumn("__b", when(col("__mx") <=> col("__mn"), lit(0))
        .otherwise(least(floor((col("__v") - col("__mn")) /
            (col("__mx") - col("__mn")) * lit(buckets.toDouble)),
          lit((buckets - 1).toDouble))).cast("int"))
      .select(gs ++ Seq(col("__v"), col("__b")): _*)
    val cum = bucketed.groupBy(gs :+ col("__b"): _*)
      .agg(count(lit(1)).as("__c"), min(col("__v")).as("__bmn"),
        max(col("__v")).as("__bmx"))
      .withColumn("__cumIncl",
        sum(col("__c")).over(Window.partitionBy(gs: _*).orderBy(col("__b"))))
      .withColumn("__cumBefore", col("__cumIncl") - col("__c"))
      .localCheckpoint(eager = false)
    // the rank expression is verbatim the r15 form's ceil(n · q) so the
    // selected position (and the hash-gated result) is unchanged
    val targets = bigG
      .select(gs :+ col("__n") :+ explode(array(qs.map(lit): _*)).as("__q"): _*)
      .withColumn("__k",
        greatest(ceil(col("__n") * col("__q")).cast("long"), lit(1L)))
    // located: one row per (group, q) — the selected bucket, the 1-based
    // offset of the target within it, and the bucket's own stats
    val located = targets
      .join(renamed(cum, "__c_"), keyCond("__c_"))
      .where(col("__cumBefore") < col("__k") && col("__k") <= col("__cumIncl"))
      .select(gs ++ Seq(col("__q"), col("__b"),
        (col("__k") - col("__cumBefore")).as("__off"),
        col("__c"), col("__bmn"), col("__bmx")): _*)
      .localCheckpoint(eager = false)
    // tie short-circuit: a single-valued bucket IS its every rank — the
    // O(n) heavy-tie bucket never reaches a join, let alone a sort
    val tie1 = located.where(col("__bmn") <=> col("__bmx"))
      .select(gs ++ Seq(col("__q"), col("__bmn").as("__qval")): _*)
    val live1 = located.where(!(col("__bmn") <=> col("__bmx")))
    // SMALL buckets: the r16 terminal join+rank, now gated on occupancy.
    // renamed (group keys only): bucketed is q-free, so live1's __q flows
    // through unprefixed to tag the slice rows
    val small1 = live1.where(col("__c") <= lit(sortThreshold))
    // broadcast BY CONSTRUCTION (r22): small1 ≤ groups·qs rows of the
    // located frame — the same boundedness class sliceRows already hints
    // (≤ N/sortThreshold big groups exist at any scale). Without the hint
    // the checkpointed side carries unknown stats and the join planned as
    // a full co-shuffle of `bucketed` (600 k rows re-shuffled at sf0.1
    // to meet 6 rows — the probe's single most expensive stage).
    val sorted1 = bucketed
      .join(broadcast(renamed(small1, "__l_").withColumnRenamed("__b", "__lb")),
        keyCond("__l_") && col("__b") === col("__lb"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(gs :+ col("__q"): _*).orderBy(col("__v"))))
      .where(col("__rn") === col("__off"))
      .select(gs ++ Seq(col("__q"), col("__v").as("__qval")): _*)
    // BIG buckets recurse: slice described by (rank-in-slice, lo, hi, cnt)
    val tgt1 = live1.where(col("__c") > lit(sortThreshold))
      .select(gs ++ Seq(col("__q"), col("__off").as("__k"),
        col("__c").as("__cnt"), col("__bmn").as("__lo"),
        col("__bmx").as("__hi")): _*)

    /** Slice rows via the broadcast range-join: by monotonicity,
      * lo ≤ v ≤ hi against the located bucket's ACTUAL min/max selects
      * exactly the bucket's rows from the base — no chained lineage. */
    def sliceRows(tgt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      rows.join(broadcast(renamedQ(tgt, "__t_")),
        keyCond("__t_") && col("__v") >= col("__lo") && col("__v") <= col("__hi"))
        .select(gs ++ Seq(col("__t___q").as("__q"), col("__v"),
          col("__k"), col("__lo"), col("__hi")): _*)

    /** Rank a slice and pick position __k — the terminal sort, only ever
      * over one slice's rows in a task. */
    def sortResolve(tgt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      sliceRows(tgt)
        .withColumn("__rn", row_number().over(
          Window.partitionBy(gs :+ col("__q"): _*).orderBy(col("__v"))))
        .where(col("__rn") === col("__k"))
        .select(gs ++ Seq(col("__q"), col("__v").as("__qval")): _*)

    /** One refinement round: re-bucket each oversized slice on its own
      * [lo, hi] range, tie-short-circuit single-valued sub-buckets, sort
      * the small ones, recurse on the rest. `tgt` rows always have
      * __lo < __hi and __cnt > sortThreshold. */
    def refine(tgt: org.apache.spark.sql.DataFrame,
               remaining: Int): org.apache.spark.sql.DataFrame =
      if (remaining == 0) sortResolve(tgt)
      else {
        val bw = sliceRows(tgt)
          .withColumn("__b", least(floor((col("__v") - col("__lo")) /
              (col("__hi") - col("__lo")) * lit(buckets.toDouble)),
            lit((buckets - 1).toDouble)).cast("int"))
        val subCum = bw.groupBy(gs ++ Seq(col("__q"), col("__b")): _*)
          .agg(count(lit(1)).as("__c"), min(col("__v")).as("__bmn"),
            max(col("__v")).as("__bmx"))
          .withColumn("__cumIncl", sum(col("__c")).over(
            Window.partitionBy(gs :+ col("__q"): _*).orderBy(col("__b"))))
          .withColumn("__cumBefore", col("__cumIncl") - col("__c"))
          .localCheckpoint(eager = false)
        val subLocated = tgt
          .join(renamedQ(subCum, "__c_"), keyCondQ("__c_"))
          .where(col("__cumBefore") < col("__k") && col("__k") <= col("__cumIncl"))
          .select(gs ++ Seq(col("__q"),
            (col("__k") - col("__cumBefore")).as("__k2"),
            col("__c"), col("__bmn"), col("__bmx")): _*)
          .withColumnRenamed("__k2", "__k")
          .localCheckpoint(eager = false)
        val tie = subLocated.where(col("__bmn") <=> col("__bmx"))
          .select(gs ++ Seq(col("__q"), col("__bmn").as("__qval")): _*)
        val live = subLocated.where(!(col("__bmn") <=> col("__bmx")))
          .select(gs ++ Seq(col("__q"), col("__k"), col("__c").as("__cnt"),
            col("__bmn").as("__lo"), col("__bmx").as("__hi")): _*)
        val small = live.where(col("__cnt") <= lit(sortThreshold))
        val big = live.where(col("__cnt") > lit(sortThreshold))
        val resolved = sortResolve(small).unionByName(tie)
        // lazy-level gate (r22, scaladoc): only build level k+1's plan if
        // this level actually left oversized slices. subLocated is
        // checkpointed and ≤ groups·qs rows — the probe is one tiny job.
        if (big.isEmpty) resolved
        else resolved.unionByName(refine(big, remaining - 1))
      }

    // lazy-level gate 1b (r22): with NO small group, `fast` is empty by
    // construction — dropping the branch drops a whole corpus scan +
    // window plan (AQE empties it at runtime, but Catalyst still analyzed
    // it and its scan stage still launched).
    val resolved1 =
      if (hasSmall) fast.unionByName(tie1).unionByName(sorted1)
      else tie1.unionByName(sorted1)
    // lazy-level gate 2 (r22, scaladoc): the common exit — every target
    // tied or small at level 1 — returns without constructing (or
    // Catalyst-analyzing) any refine level. `located` is checkpointed;
    // its materialization here is reused by tie1/sorted1's execution.
    if (tgt1.isEmpty) resolved1
    else resolved1.unionByName(refine(tgt1, levels - 1))
  }

  /** S3 winsorize — clamp `valueCol` into its per-group exact
    * [lowQ, highQ] discrete quantiles, appended as `<valueCol>_w`.
    *
    * NULL semantics (changed r16, documented r17): NULL values take no
    * part in the quantile positions and can never be selected as a bound
    * — percentile_disc / quantile_disc's rule, and what the DuckDB oracle
    * computes. (The r15 window form ranked NULLs FIRST inside the group,
    * which shifted every position on nullable columns and could pick
    * NULL as a bound — arguably a bug this replaced.) A NULL value row
    * itself clamps to NULL: least/greatest propagate it. A group whose
    * values are ALL null gets NULL bounds via the left join, so its rows
    * also pass through as NULL. */
  def winsorize(df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
                valueCol: String, lowQ: Double, highQ: Double): org.apache.spark.sql.DataFrame = {
    require(lowQ > 0 && highQ < 1 && lowQ < highQ, s"need 0 < $lowQ < $highQ < 1")
    val gs = groupCols.map(col)
    // distributed discrete quantiles (r16 — see exactQuantiles: the old
    // global-rank window sorted each group in one task)
    val bounds = exactQuantiles(df, groupCols, valueCol, Seq(lowQ, highQ))
      .groupBy(gs: _*)
      .agg(
        min(when(col("__q") === lit(lowQ), col("__qval"))).as("__lo"),
        min(when(col("__q") === lit(highQ), col("__qval"))).as("__hi"))
      .select(groupCols.map(c => col(c).as(s"__g_$c")) ++
        Seq(col("__lo"), col("__hi")): _*)
    val cond = groupCols.map(c => df(c) <=> col(s"__g_$c")).reduce(_ && _)
    // NULL passthrough is explicit: Spark's least/greatest SKIP nulls
    // (greatest(NULL, lo) = lo), which would silently clamp a NULL value
    // to the lower bound — "clamp an unknown value" stays unknown instead
    df.join(broadcast(bounds), cond, "left")
      .withColumn(valueCol + "_w",
        when(col(valueCol).isNotNull,
          least(greatest(col(valueCol), col("__lo")), col("__hi"))))
      .drop(groupCols.map(c => s"__g_$c") ++ Seq("__lo", "__hi"): _*)
  }
}
