package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.Parquet

/** Similarity search over an embedding column (SURVEY.md §2.8 X2).
  *
  * Baseline: brute-force cosine top-k — the *query* side is broadcast
  * (queries ≪ corpus), so the corpus scans once with no shuffle of the
  * big side; top-k per query is a windowed rank over (query, candidate)
  * scores. Scale path: sign-LSH bucketing so each query only scores its
  * bucket — same output schema, tunable recall.
  *
  * The dot-product kernel is the custom codegen expression
  * [[graft.functions.DotProductD]] (`graft_dot`); norms are precomputed
  * per side so each (query, candidate) pair costs exactly one fused
  * multiply-accumulate loop. Summation order matches the HOF/DuckDB form
  * bit-for-bit (oracle requirement).
  */
object Similarity {

  // density contract (r16): parquet list elements are OPTIONAL, so a bare
  // cast leaves containsNull=true and every downstream kernel would pay a
  // per-element null branch (measured ~50% on the assignment probe).
  // graft_dense validates ONCE per array and re-declares the type dense —
  // kernels then compile their branch-free loops; a null element fails
  // loud (engine vectors are dense by contract).
  private def asDouble(c: Column): Column =
    call_function("graft_dense", c.cast("array<double>"))

  /** One-row broadcast centroid frame with the density contract declared
    * on both struct fields, so [[graft.functions.NearestCell]] and the
    * probe-expansion dot folds compile without null branches. */
  private def centsRow(centroids: DataFrame): DataFrame = {
    // register on the CENTROID frame's session, not just the points' —
    // inside a foreachBatch the points come from the micro-batch clone
    // session while `centroids` was built on the parent session, and
    // Dataset construction analyzes call_function eagerly THERE; a
    // standalone stream (no prior batch op on the parent) would hit
    // UNRESOLVED_ROUTINE without this (StreamingSpec-in-isolation, r17)
    GraftFunctions.register(centroids.sparkSession)
    centroids.agg(sort_array(collect_list(struct(
      call_function("graft_nn", col("cell")).as("cell"),
      call_function("graft_dense", col("cv")).as("cv")))).as("cents"))
  }

  /** cosine from a fused dot + precomputed norms. */
  private def fastCosine: Column =
    expr("graft_dot(qvec, cvec)") / (col("qnorm") * col("cnorm"))

  /** Nearest-centroid assignment — the one scale-critical primitive the
    * X2 family shares ([[kmeansFit]], [[ivfTopK]], [[semanticDedupWith]]).
    * The centroid table (cell: long, cv) collapses to ONE row
    * (`sort_array(collect_list(struct(cell, cv)))` — k·d doubles, tiny)
    * that broadcast-joins the points; the nearest cell is an `aggregate`
    * HOF fold in ascending-cell order with strict `<`, so the tie-break
    * (lowest cell id at equal distance) is explicit in the fold rather
    * than an artifact of a sort. No window, no corpus shuffle, no N·k row
    * expansion: each point scans the k·d broadcast once. Distance is
    * squared L2 in the fixed association (p·p − 2·p·c) + c·c so the fold
    * is bit-identical to any engine evaluating the same closed form.
    * Input pts: (pid, pv); output: (pid, pv, cell). */
  private def assignNearestCell(pts: DataFrame, centroids: DataFrame): DataFrame = {
    val one = centsRow(centroids)
    // the fold evaluates through the fused codegen kernel
    // [[graft.functions.NearestCell]] (r15) — one tight loop per row in
    // whole-stage codegen instead of k interpreted lambda allocations;
    // [[assignNearestCellHof]] is the declarative form it must match
    // bit-for-bit (cross-checked in Round15OpsSpec, and every assignment
    // query's DuckDB oracle replays the same closed form)
    pts.join(broadcast(one))
      .select(col("pid"), col("pv"),
        expr("graft_nearest_cell(pv, cents)").as("cell"))
  }

  /** The declarative HOF form of the [[graft.functions.NearestCell]]
    * kernel — the closed form the DuckDB oracles mirror; retained as the
    * cross-check reference (Round15OpsSpec asserts kernel ≡ HOF on
    * random, tied, and length-mismatched inputs). */
  private[graft] def assignNearestCellHof(pts: DataFrame, centroids: DataFrame): DataFrame = {
    val one = centsRow(centroids)
    pts.withColumn("pn", expr("graft_dot(pv, pv)"))
      .join(broadcast(one))
      .withColumn("best", expr(
        """aggregate(
             transform(cents, c -> named_struct(
               'cell', c.cell,
               'dist', (pn - 2 * graft_dot(pv, c.cv)) + graft_dot(c.cv, c.cv))),
             named_struct('cell', CAST(-1 AS BIGINT),
                          'dist', CAST('Infinity' AS DOUBLE)),
             (acc, c) -> IF(c.dist < acc.dist, c, acc))"""))
      .select(col("pid"), col("pv"), col("best.cell").as("cell"))
  }

  /** Public form of the shared nearest-cell assignment, against an
    * explicit centroid table (cell: long, cv: array<double>) — the
    * building block [[ivfTopK]]/[[semanticDedupWith]]/[[kmeansFit]] use
    * internally, exposed for callers that maintain an index OUTSIDE a
    * single query (e.g. the streaming incremental index applier). Same
    * scale shape: one-row broadcast, per-row argmin fold, no window, the
    * input never shuffles. Output: (pid, pv, cell). */
  def assignCells(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    assignNearestCell(
      emb.select(col(idCol).cast("long").as("pid"), asDouble(col(vecCol)).as("pv")),
      centroids)
  }

  /** Search a MAINTAINED cell-partitioned ANN index (the parquet layout
    * [[graft.streaming.StreamingOps.incrementalAnnIndex]] appends to):
    * assign queries to cells with the broadcast argmin fold, then score
    * only index rows in the queries' cells. Because `cell` is the
    * table's PARTITION column and the query side is small and broadcast,
    * Catalyst plans dynamic partition pruning — the scan reads only the
    * queried cells' directories, which at ~√N cells means touching
    * ~(queries/√N) of the index files rather than the corpus. Same
    * output schema as [[bruteForceTopK]]/[[ivfTopK]]. */
  def annIndexSearch(spark: SparkSession, indexPath: String, queries: DataFrame,
                     idCol: String, vecCol: String, centroids: DataFrame,
                     k: Int = 5): DataFrame = {
    GraftFunctions.register(spark)
    val idxRaw = Parquet.read(spark, indexPath)
    // partition-type alignment: directory inference may type `cell` int
    // while assignment emits long — cast the SMALL side so the scan's
    // join key stays a bare partition attribute (a cast there would
    // defeat dynamic partition pruning)
    val cellType = idxRaw.schema("cell").dataType
    val q = assignCells(queries, idCol, vecCol, centroids)
      .select(col("pid").as("query_id"), col("pv").as("qvec"),
        col("cell").cast(cellType).as("cell"))
      .withColumn("qnorm", sqrt(expr("graft_dot(qvec, qvec)")))
    val idx = idxRaw
      .select(col("pid").as("cand_id"), col("pv").as("cvec"), col("cell"))
      .withColumn("cnorm", sqrt(expr("graft_dot(cvec, cvec)")))
    val scored = idx.join(broadcast(q), Seq("cell"))
      .where(col("cand_id") =!= col("query_id"))
      .withColumn("cosine", round(fastCosine, 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("cand_id"), col("cosine"))
  }

  /** [[annIndexSearch]] against the CURRENT `ivf_centroids` version of
    * an [[Artifacts]] store — the restart-safe serving composition: the
    * centroids that prune the scan are, by construction, the ones the
    * last committed maintenance pass (initial fit or
    * [[graft.streaming.StreamingOps.resplitHotCellsPersisted]]) installed
    * alongside the index layout, with no caller-held state. */
  def annIndexSearchFromStore(spark: SparkSession, indexPath: String,
                              artifactRoot: String, queries: DataFrame,
                              idCol: String, vecCol: String,
                              k: Int = 5): DataFrame = {
    val (cents, _) = Artifacts.loadArtifact(spark, artifactRoot, "ivf_centroids")
    annIndexSearch(spark, indexPath, queries, idCol, vecCol, cents, k)
  }

  /** Brute-force cosine top-k: for each query vector (selected by a
    * deterministic pk predicate), the k nearest corpus vectors by cosine.
    * Scores are rounded *before* ranking so rank order is identical in any
    * engine evaluating the same closed form (float ties broken by pk). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int = 5): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val corpus = emb.select(col(idCol).as("cand_id"), asDouble(col(vecCol)).as("cvec"))
      .withColumn("cnorm", sqrt(expr("graft_dot(cvec, cvec)")))
    val queries = emb.where(queryPred)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qvec"))
      .withColumn("qnorm", sqrt(expr("graft_dot(qvec, qvec)")))
    val scored = corpus.crossJoin(broadcast(queries))
      .where(col("cand_id") =!= col("query_id"))
      .withColumn("cosine", round(fastCosine, 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("cand_id"), col("cosine"))
  }

  /** X2 — reciprocal rank fusion (Cormack/Clarke/Büttcher 2009): fuse
    * two ranked candidate lists (lexical + dense retrieval, the hybrid
    * search standard) by score(d) = Σ_lists 1/(c + rank_i(d)).
    *
    * Inputs are (id, rank) frames with 1-based ranks — retrieval PAGES,
    * k-bounded by construction, so the full-outer fuse joins two tiny
    * frames regardless of corpus size (the corpus-scale work already
    * happened inside each retriever). Parity: the score is a fixed-order
    * two-term sum of exact integer-reciprocal divisions — bit-identical
    * across engines, no rounding needed. Ties break by id. */
  def rrfFuse(a: DataFrame, b: DataFrame, c: Int = 60,
              topK: Int = 10): DataFrame = {
    val fa = a.select(col("id"), col("rank").cast("long").as("rank_a"))
    val fb = b.select(col("id"), col("rank").cast("long").as("rank_b"))
    fa.join(fb, Seq("id"), "full_outer")
      .select(col("id"), col("rank_a"), col("rank_b"),
        (coalesce(lit(1.0) / (lit(c.toLong) + col("rank_a")), lit(0.0))
          + coalesce(lit(1.0) / (lit(c.toLong) + col("rank_b")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(topK)
  }

  /** Sign-LSH bucket id: b deterministic hyperplanes, hyperplane j's
    * weight for dimension i = ((i·(j+3)) mod 11)/10 − 0.5 — a fixed closed
    * form reproducible in SQL. Bucket = Σ_j 2^j·[w_j·x ≥ 0]. Evaluates
    * through the one-pass codegen kernel
    * [[graft.functions.SignLshBucket]]; [[signLshBucketHof]] is the
    * declarative form it must match (cross-checked in ExtensionsSpec). */
  def signLshBucket(vec: Column, bits: Int = 8): Column =
    org.apache.spark.sql.GraftPlanBridge.column(
      graft.functions.SignLshBucket(
        org.apache.spark.sql.GraftPlanBridge.expression(asDouble(vec)), bits))

  /** The declarative HOF form of [[signLshBucket]] (one interpreted array
    * pass per plane) — the form the DuckDB oracle mirrors. */
  def signLshBucketHof(vec: Column, bits: Int = 8): Column =
    (0 until bits).map { j =>
      val dotj = aggregate(
        zip_with(asDouble(vec),
          transform(vec, (_, i) => ((i * (j + 3)) % 11).cast("double") / lit(10.0) - lit(0.5)),
          (x, w) => x * w),
        lit(0.0), (acc, v) => acc + v)
      when(dotj >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN variant: score only candidates in the query's LSH bucket.
    * At 100 TB this turns the broadcast-scan into a bucket-colocated join
    * (both sides repartitioned by bucket). Recall < 1 by construction —
    * benchmark companion to [[bruteForceTopK]], same schema. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int = 5, bits: Int = 8): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val withBucket = emb.select(col(idCol), col(vecCol),
      signLshBucket(col(vecCol), bits).as("bucket"))
    val corpus = withBucket.select(col(idCol).as("cand_id"),
      asDouble(col(vecCol)).as("cvec"), col("bucket"))
      .withColumn("cnorm", sqrt(expr("graft_dot(cvec, cvec)")))
    val queries = withBucket.where(queryPred)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qvec"), col("bucket"))
      .withColumn("qnorm", sqrt(expr("graft_dot(qvec, qvec)")))
    val scored = corpus.join(broadcast(queries), Seq("bucket"))
      .where(col("cand_id") =!= col("query_id"))
      .withColumn("cosine", round(fastCosine, 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("cand_id"), col("cosine"))
  }

  /** IVF (inverted-file) ANN: a deterministic centroid subset partitions
    * the corpus into cells (nearest centroid by squared L2, ties by
    * centroid id); each query searches only its own cell. Centroid count
    * ~√N at scale; here a pk predicate picks them so the oracle can
    * reproduce the exact cell assignment. Same output schema as
    * [[bruteForceTopK]]; recall < 1 by construction.
    *
    * Assignment is [[assignNearestCell]]'s one-row-broadcast fold — with
    * k≈√N centroids, an expand-then-rank assignment would push N·√N rows
    * through a window exchange; the fold keeps the corpus unshuffled. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              centroidPred: Column, queryPred: Column, k: Int = 5): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val centroids = emb.where(centroidPred)
      .select(col(idCol).cast("long").as("cell"), asDouble(col(vecCol)).as("cv"))
    def assign(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      assignNearestCell(
        df.select(col(idCol).as("pid"), asDouble(col(vecCol)).as("pv")), centroids)
        .select(col("pid").as(idAs), col("pv").as(vecAs), col("cell"))
    val corpus = assign(emb, "cand_id", "cvec")
      .withColumn("cnorm", sqrt(expr("graft_dot(cvec, cvec)")))
    val queries = assign(emb.where(queryPred), "query_id", "qvec")
      .withColumn("qnorm", sqrt(expr("graft_dot(qvec, qvec)")))
    val scored = corpus.join(broadcast(queries), Seq("cell"))
      .where(col("cand_id") =!= col("query_id"))
      .withColumn("cosine", round(fastCosine, 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("cand_id"), col("cosine"))
  }

  /** Multi-probe IVF ANN — [[ivfTopK]] with the standard recall lever:
    * each query searches its `nprobe` NEAREST cells instead of only its
    * own (probing more cells recovers neighbors that fell just across a
    * cell boundary — the knob `x2_ivf_recall` measures the need for).
    *
    * Scale shape: the CORPUS side is unchanged — one-row-broadcast argmin
    * fold, never shuffled, never expanded. Only the QUERY side expands,
    * to exactly `nprobe` rows per query (queries ≪ corpus, so the
    * expansion is broadcast-tiny): the same one-row centroid frame is
    * scored per query with a `transform`, sorted ascending by
    * (distance, cell) — the struct field order makes `array_sort` apply
    * the argmin tie-break (lowest cell at equal distance) — and sliced to
    * the first `nprobe` cells. A candidate lives in exactly one cell, so
    * probing multiple cells can never duplicate a (query, candidate)
    * pair and the top-k window needs no distinct. */
  def ivfTopKProbe(emb: DataFrame, idCol: String, vecCol: String,
                   centroidPred: Column, queryPred: Column,
                   k: Int = 5, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, "nprobe must be at least 1")
    GraftFunctions.register(emb.sparkSession)
    val centroids = emb.where(centroidPred)
      .select(col(idCol).cast("long").as("cell"), asDouble(col(vecCol)).as("cv"))
    val corpus = assignNearestCell(
      emb.select(col(idCol).as("pid"), asDouble(col(vecCol)).as("pv")), centroids)
      .select(col("pid").as("cand_id"), col("pv").as("cvec"), col("cell"))
      .withColumn("cnorm", sqrt(expr("graft_dot(cvec, cvec)")))
    val one = centsRow(centroids)
    val queries = emb.where(queryPred)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qvec"))
      .withColumn("pn", expr("graft_dot(qvec, qvec)"))
      .join(broadcast(one))
      .withColumn("probe", explode(expr(
        s"""slice(array_sort(transform(cents, c -> named_struct(
              'dist', (pn - 2 * graft_dot(qvec, c.cv)) + graft_dot(c.cv, c.cv),
              'cell', c.cell))), 1, $nprobe)""")))
      .select(col("query_id"), col("qvec"), col("probe.cell").as("cell"))
      .withColumn("qnorm", sqrt(expr("graft_dot(qvec, qvec)")))
    val scored = corpus.join(broadcast(queries), Seq("cell"))
      .where(col("cand_id") =!= col("query_id"))
      .withColumn("cosine", round(fastCosine, 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("cand_id"), col("cosine"))
  }

  /** X2 — hot-bucket diagnosis for the sign-LSH cosine family: every
    * bucket holding ≥ `minVecs` vectors, with the quadratic candidate
    * count the within-bucket join would pay there. Bit width bounds the
    * EXPECTED bucket size (~|corpus| / 2^bits), but a duplicate-saturated
    * corpus region concentrates one bucket regardless of width — the same
    * failure mode [[graft.ops.Dedup.simhashBucketReport]] measures for
    * simhash banding, and the measurement behind choosing
    * [[cosineNearDup]]'s `maxBucketSize` guard. Shuffle carries one count
    * row per bucket (≤ 2^bits rows). */
  def cosineBucketReport(emb: DataFrame, idCol: String, vecCol: String,
                         bits: Int = 8, minVecs: Long = 2): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    emb.select(signLshBucket(col(vecCol), bits).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"))
      .where(col("n_vecs") >= minVecs)
      .select(col("bucket"), col("n_vecs"),
        // integer DIV, not `/`: double division is exact only below 2^53
        // (the editGroupReport/simhashBucketReport fix, r19/r21)
        expr("CAST(n_vecs * (n_vecs - 1) DIV 2 AS BIGINT)")
          .as("n_candidate_pairs"))
      .orderBy(col("n_vecs").desc, col("bucket"))
  }

  /** Shared candidate stage of [[cosineNearDup]] / [[cosineNearDupTopK]]:
    * same-bucket DIRECTED pairs (id, neighbor_id, cosine), both
    * orientations of each unordered pair, cosine already computed.
    *
    * `maxBucketSize` is the hot-bucket guard the bit width cannot give
    * (r17 verdict): one near-duplicate-saturated bucket makes the
    * within-bucket join quadratic in that bucket's size — measured 91 s
    * for 0.15M vectors in 16 buckets at 30× data, ∝ n² per bucket. With
    * the cap set, a bucket above it degrades to a STAR comparison (every
    * member scores against the bucket's lowest-id member only — O(n) per
    * bucket, and join-free: the representative's vector rides the
    * broadcast per-bucket stats row). Within a truly degenerate bucket
    * (near-identical vectors, the case that creates it) the star finds
    * (rep, member) for every member; what it can miss is a pair both ≥
    * threshold-close to each OTHER but not to the representative — the
    * same bounded, documented recall trade as
    * [[graft.ops.Dedup.simhashPairs]]' cap, only in capped buckets
    * ([[cosineBucketReport]] names them). Default None preserves exact
    * within-bucket all-pairs. */
  /** (id, v, bucket) frame of the sign-LSH cosine family — shared by the
    * batch near-dup ops and the streaming top-k mirror
    * ([[graft.streaming.StreamingOps.incrementalCosineTopK]], which also
    * persists it as the vector ledger's schema). */
  private[graft] def lshBucketFrame(emb: DataFrame, idCol: String,
                                    vecCol: String, bits: Int): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      signLshBucket(col(vecCol), bits).as("bucket"))
  }

  /** Directed same-bucket cosine pairs: every `l0` row against every
    * same-bucket `r0` row (both [[lshBucketFrame]]-shaped), id-distinct.
    * The bucket-keyed join is the family's only corpus-sized shuffle. */
  private[graft] def cosineDirectedBetween(l0: DataFrame,
                                           r0: DataFrame): DataFrame = {
    val l = l0.select(col("id"), col("v").as("qvec"), col("bucket"))
      .withColumn("qnorm", sqrt(expr("graft_dot(qvec, qvec)")))
    val r = r0.select(col("id").as("neighbor_id"), col("v").as("cvec"),
        col("bucket"))
      .withColumn("cnorm", sqrt(expr("graft_dot(cvec, cvec)")))
    l.join(r, Seq("bucket"))
      .where(col("id") =!= col("neighbor_id"))
      .withColumn("cosine", round(fastCosine, 6))
      .select(col("id"), col("neighbor_id"), col("cosine"))
  }

  private def cosineBucketCandidates(emb: DataFrame, idCol: String,
                                     vecCol: String, bits: Int,
                                     maxBucketSize: Option[Int]): DataFrame = {
    val withBucket = lshBucketFrame(emb, idCol, vecCol, bits)
    def allPairs(buckets: DataFrame): DataFrame =
      cosineDirectedBetween(buckets, buckets)
    maxBucketSize match {
      case None => allPairs(withBucket)
      case Some(cap) =>
        require(cap >= 2, "maxBucketSize must allow at least one pair")
        // per-bucket count + representative (lowest id, vector attached):
        // ≤ 2^bits rows — broadcast, so sizing the members is shuffle-free
        val stats = broadcast(withBucket.groupBy(col("bucket"))
          .agg(count(lit(1)).as("__n"),
            min(struct(col("id"), col("v"))).as("__rep")))
        val sized = withBucket.join(stats, Seq("bucket"))
        val smallPairs = allPairs(sized.where(col("__n") <= cap)
          .select(col("id"), col("v"), col("bucket")))
        // hot buckets: star against the representative — O(n) per bucket
        // and join-free (the rep vector is already on the row)
        val starPairs = sized.where(col("__n") > cap
            && col("id") =!= col("__rep.id"))
          .select(col("id"), col("v").as("qvec"),
            col("__rep.id").as("neighbor_id"), col("__rep.v").as("cvec"))
          .withColumn("qnorm", sqrt(expr("graft_dot(qvec, qvec)")))
          .withColumn("cnorm", sqrt(expr("graft_dot(cvec, cvec)")))
          .withColumn("cosine", round(fastCosine, 6))
          .select(col("id"), col("neighbor_id"), col("cosine"))
        // star emits one orientation; mirror it so downstream consumers
        // see the same directed-pair contract as the all-pairs branch.
        // Both orientations come from ONE pass (explode over the scored
        // row) — a union of starPairs with its own flip would execute the
        // star subtree (stats agg + broadcast join + cosine) twice per
        // action, since nothing here is persisted.
        val starBoth = starPairs.select(explode(array(
            struct(col("id"), col("neighbor_id"), col("cosine")),
            struct(col("neighbor_id").as("id"), col("id").as("neighbor_id"),
              col("cosine")))).as("__p"))
          .select(col("__p.id").as("id"), col("__p.neighbor_id").as("neighbor_id"),
            col("__p.cosine").as("cosine"))
        smallPairs.unionAll(starBoth)
    }
  }

  /** X1 embedding near-dup: all unordered pairs above a cosine threshold,
    * bucket-pruned by sign-LSH (exact within bucket; optional
    * `maxBucketSize` hot-bucket star guard — see
    * [[cosineBucketCandidates]]). */
  def cosineNearDup(emb: DataFrame, idCol: String, vecCol: String,
                    threshold: Double = 0.99, bits: Int = 8,
                    maxBucketSize: Option[Int] = None): DataFrame =
    // no distinct needed: a vector lives in exactly one bucket, every
    // candidate branch emits each directed pair once, and the id order
    // filter keeps one orientation per unordered pair
    cosineBucketCandidates(emb, idCol, vecCol, bits, maxBucketSize)
      .where(col("id") < col("neighbor_id") && col("cosine") >= threshold)
      .select(col("id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cosine"))

  /** X2 — BOUNDED-OUTPUT near-duplicate view (r17): for each vector, its
    * top-`k` near-dup partners by cosine (ties broken by the lower
    * neighbor id), searched within the same sign-LSH buckets as
    * [[cosineNearDup]]. Identical candidate generation — bucket-keyed,
    * never all-pairs — but the RESULT is ≤ k rows per id, so the output
    * grows linearly with the corpus. The uncapped pair set measured ×196
    * rows at ×10 data on the r16 board (near-clique duplicate groups emit
    * quadratically); that is the correct answer to "all pairs ≥ t", but
    * not a thing anyone materializes at 100 TB — keep-best / components
    * consumers want each doc's best survivors, which this emits directly.
    * The per-id ranking window sorts only an id's own bucket cohort
    * (already the bound on the uncapped op's verify stage). Symmetric:
    * each qualifying pair appears under BOTH endpoints' top-k views.
    * Output: (id, neighbor_id, cosine), ≤ k rows per id. */
  def cosineNearDupTopK(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.99, bits: Int = 8,
                        k: Int = 3,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    require(k >= 1, "k must be positive")
    cosineBucketCandidates(emb, idCol, vecCol, bits, maxBucketSize)
      .where(col("cosine") >= threshold)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .where(col("__rk") <= k)
      .select(col("id"), col("neighbor_id"), col("cosine"))
  }

  /** X2 scale path — int8 scalar quantization of the embedding column:
    * q = round_half_up(clamp(v, −1, 1) · 127), with the reconstruction
    * and its absolute error per element. 4× memory cut for ANN shortlists;
    * rescoring uses the float vector. The rounding is the portable
    * floor(x+0.5) form (identical FP ops in any engine — see pround).
    * Output exploded to (vec_id, pos, q, recon, err) rows. */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"), posexplode(asDouble(col(vecCol))))
      .withColumn("cl", least(greatest(col("col"), lit(-1.0)), lit(1.0)))
      .withColumn("qd", floor(col("cl") * lit(127.0) + lit(0.5)))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("qd").cast("long").as("q"),
        (col("qd") / lit(127.0)).as("recon"),
        abs(col("qd") / lit(127.0) - col("cl")).as("err"))

  /** X2 — population covariance matrix of the embedding column (the
    * whitening / PCA-prep statistic: ANN recall improves measurably on
    * decorrelated vectors, and the d×d spectrum is the standard input to
    * OPQ-style rotations). cov(i,j) = (Σxy − ΣxΣy/n)/n over the upper
    * triangle.
    *
    * Scale shape: the double `posexplode` expands each vector to d²/2
    * pairs, but hash aggregation combines them MAP-SIDE to one (i, j)
    * partial per partition — the shuffle carries numPartitions·d²/2 sum
    * triples, never the corpus (same partial-agg argument as the k-means
    * update; the d² blow-up is transient CPU, which is inherent to
    * computing a covariance anyway). Output rounds portable at
    * `roundDigits` (cross-engine partial-sum order). */
  def covarianceMatrix(emb: DataFrame, vecCol: String,
                       roundDigits: Int = 6): DataFrame = {
    // asDouble resolves graft_dense at ANALYSIS — register here so the op
    // works in isolation, not only after another registering op ran in
    // the session (r21; surfaced by the single-query probe tools)
    GraftFunctions.register(emb.sparkSession)
    val s = math.pow(10.0, roundDigits)
    val pts = emb.select(asDouble(col(vecCol)).as("v"))
    pts.select(posexplode(col("v")).as(Seq("i", "x")), col("v"))
      .select(col("i"), col("x"), posexplode(col("v")).as(Seq("j", "y")))
      .where(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg((floor(((sum(col("x") * col("y"))
          - sum(col("x")) * sum(col("y")) / count(lit(1)))
          / count(lit(1))) * lit(s) + lit(0.5)) / lit(s)).as("cov"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("cov"))
  }

  /** X2 — top principal component by fixed-iteration power iteration over
    * [[covarianceMatrix]], the PCA step behind whitening/OPQ rotations.
    * After the covariance reduction (the only corpus-sized stage — its
    * scale argument lives there), everything is d-sized: the symmetric
    * matrix is rebuilt from the upper triangle, v₀ = 1⃗, and each
    * iteration is one broadcast matvec join + a norm — tiny frames, one
    * lazy plan, no driver loop. Matvec sums and normalized loadings are
    * portable-rounded per iteration so engine partial-sum order cannot
    * compound across iterations (the p10_deep chaining rule). Sign
    * follows v₀ deterministically. Output: (i, loading), d rows. */
  def pcaPowerIteration(emb: DataFrame, vecCol: String, dim: Int,
                        iters: Int = 3, roundDigits: Int = 6): DataFrame = {
    require(iters >= 1, "pcaPowerIteration needs at least one iteration")
    val s = math.pow(10.0, roundDigits)
    def pr(c: Column): Column = floor(c * lit(s) + lit(0.5)) / lit(s)
    // The symmetric matrix is referenced once per iteration on both sides
    // of the matvec and the references multiply through the unrolled loop
    // (the initial plan shows 2^iters subtree copies) — but do NOT cache
    // it: AQE's runtime exchange reuse already collapses the identical
    // covariance shuffles (measured 1.6 s), while a .cache() boundary
    // blocks that reuse and forces per-reference InMemoryRelation fills
    // (measured 5.9 s on the same data). Driver-collecting the d² matrix
    // would also work but turns the op eager; reuse keeps it one lazy plan.
    val upper = covarianceMatrix(emb, vecCol, roundDigits)
    val full = upper.union(upper.where(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("cov")))
    var v: DataFrame = emb.sparkSession.range(dim.toLong)
      .select(col("id").as("j"), lit(1.0).as("vj"))
    for (_ <- 1 to iters) {
      val w = full.join(broadcast(v), Seq("j"))
        .groupBy(col("i"))
        .agg(pr(sum(col("cov") * col("vj"))).as("wi"))
      val nrm = w.agg(sqrt(sum(col("wi") * col("wi"))).as("nrm"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("i").as("j"), pr(col("wi") / col("nrm")).as("vj"))
    }
    v.select(col("j").cast("long").as("i"), col("vj").as("loading"))
  }

  /** X2 — project every embedding onto a trained component table (the
    * APPLY step after [[pcaPowerIteration]]: whitening, OPQ-style
    * rotation prep, or 1-D curriculum ordering by principal score).
    * `component` is (i, loading) — d rows. It collapses to ONE broadcast
    * array row (ordered by i), so the corpus side computes
    * `score = graft_dot(v, pc)` in a single codegen projection: no
    * shuffle, no window, no row expansion — the same trained-artifact
    * broadcast shape as `kmeansFit.assign`. Also emits the residual
    * norm² `graft_dot(v,v) − score²` — the reconstruction-error signal a
    * whitening/compression pass monitors. Scores round at `roundDigits`
    * (transcendental-free but component loadings are already rounded, so
    * the product lattice is preserved portably). */
  def pcaProject(emb: DataFrame, idCol: String, vecCol: String,
                 component: DataFrame, roundDigits: Int = 6): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val s = math.pow(10.0, roundDigits)
    def pr(c: Column): Column = floor(c * lit(s) + lit(0.5)) / lit(s)
    // order enforced INSIDE the aggregate (collect_list order is not
    // stable through a shuffle): sort the (i, loading) structs, strip i
    val pcRow = component
      .agg(transform(array_sort(collect_list(struct(col("i"), col("loading")))),
        p => p.getField("loading")).as("pc"))
    emb.select(col(idCol), asDouble(col(vecCol)).as("pv"))
      .crossJoin(broadcast(pcRow))
      .select(col(idCol),
        pr(expr("graft_dot(pv, pc)")).as("score"),
        pr(expr("graft_dot(pv, pv) - graft_dot(pv, pc) * graft_dot(pv, pc)"))
          .as("residual_norm2"))
  }

  /** X2 — top-k principal components by power iteration WITH DEFLATION
    * over [[covarianceMatrix]] — the full whitening/OPQ-rotation prep
    * that [[pcaPowerIteration]]'s single component only starts.
    *
    * Scale shape: the covariance reduction is the ONLY corpus-sized
    * stage and stays distributed; the deflation loop then runs on the
    * collected d² upper triangle on the driver — the same split Spark
    * MLlib's `RowMatrix.computePrincipalComponents` uses (Gramian
    * reduced on the cluster, eigensolve on the driver), because a k·d²
    * driver loop on a ≤4096-dim matrix is microseconds while an
    * unrolled k×iters lazy plan grows exponentially in references. The
    * op is therefore EAGER (it materializes the covariance); `maxDim`
    * fail-louds rather than letting a mis-wired 1M-dim column OOM the
    * driver.
    *
    * Parity discipline (the p10_deep chaining rule): every matvec sum,
    * normalized loading, Rayleigh eigenvalue, and deflated matrix entry
    * is portable-rounded at `roundDigits`, so the driver loop and an
    * unrolled-CTE oracle walk the identical lattice and engine
    * partial-sum order cannot compound. Deflation: A ← A − λ·v·vᵀ with
    * λ = round(vᵀAv); each component starts from v₀ = 1⃗ (the start the
    * SQL oracle replays). If a matvec ANNIHILATES the iterate (‖Av‖ = 0
    * — e.g. the ones vector lies in the null space of the deflated
    * matrix), the component restarts from the standard basis vectors
    * e₀, e₁, … in order until one survives all `iters` steps; only when
    * every deterministic start annihilates is the matrix genuinely
    * rank-deficient and the op fails loud. Known limitation (inherent
    * to fixed-iteration power method): a start vector EXACTLY orthogonal
    * to the dominant eigenvector — without being annihilated — converges
    * toward the dominant direction of the non-orthogonal complement;
    * exact orthogonality is measure-zero on real data and is broken by
    * the per-iteration rounding itself. Output:
    * (comp [1-based], i, loading, eigenvalue), k·d rows. */
  def pcaTopK(emb: DataFrame, vecCol: String, dim: Int, k: Int,
              iters: Int = 3, roundDigits: Int = 6,
              maxDim: Int = 4096): DataFrame = {
    require(iters >= 1, "pcaTopK needs at least one iteration")
    require(k >= 1 && k <= dim, s"component count $k outside [1, $dim]")
    require(dim <= maxDim,
      s"pcaTopK collects the d^2 covariance to the driver; dim=$dim " +
        s"exceeds maxDim=$maxDim — raise maxDim deliberately or reduce " +
        "dimensionality first")
    val s = math.pow(10.0, roundDigits)
    def pr(x: Double): Double = math.floor(x * s + 0.5) / s
    // distributed, portable-rounded covariance — identical lattice to
    // the x2_covariance_matrix oracle
    val a = Array.ofDim[Double](dim, dim)
    covarianceMatrix(emb, vecCol, roundDigits).collect().foreach { r =>
      val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
      val c = r.getDouble(2)
      a(i)(j) = c; a(j)(i) = c
    }
    val out = Seq.newBuilder[(Long, Long, Double, Double)]
    for (c <- 1 to k) {
      // run the full rounded iteration from one start; None iff a matvec
      // annihilates the iterate (the start lies in the null space)
      def iterate(v0: Array[Double]): Option[Array[Double]] = {
        var v = v0
        for (_ <- 1 to iters) {
          val w = Array.tabulate(dim) { i =>
            var acc = 0.0; var j = 0
            while (j < dim) { acc += a(i)(j) * v(j); j += 1 }
            pr(acc)
          }
          val nrm = math.sqrt(w.map(x => x * x).sum)
          if (nrm == 0) return None
          v = w.map(x => pr(x / nrm))
        }
        Some(v)
      }
      // v₀ = 1⃗ first (the oracle-replayed start); deterministic basis
      // restarts only on annihilation — a nonzero symmetric matrix has a
      // nonzero column, so some eₜ survives unless A itself is zero
      val starts = Iterator(Array.fill(dim)(1.0)) ++
        (0 until dim).iterator.map(t =>
          Array.tabulate(dim)(i => if (i == t) 1.0 else 0.0))
      val v = starts.map(iterate).collectFirst { case Some(x) => x }
        .getOrElse(throw new IllegalArgumentException(
          s"rank-deficient covariance at component $c (every deterministic " +
            "start annihilated) — fewer than k informative directions"))
      var ray = 0.0
      for (i <- 0 until dim; j <- 0 until dim) ray += a(i)(j) * v(i) * v(j)
      val lam = pr(ray)
      for (i <- 0 until dim) out += ((c.toLong, i.toLong, v(i), lam))
      for (i <- 0 until dim; j <- 0 until dim)
        a(i)(j) = pr(a(i)(j) - lam * v(i) * v(j))
    }
    val spark = emb.sparkSession
    import spark.implicits._
    out.result().toDF("comp", "i", "loading", "eigenvalue")
  }

  /** X2 — k-component projection + WHITENING (the APPLY step after
    * [[pcaTopK]]): `components` is pcaTopK's (comp, i, loading,
    * eigenvalue) artifact, k·d rows. It collapses to ONE broadcast
    * array-of-arrays row ordered by comp, so the corpus side computes
    * every score, the whitened coordinate `white = score/√λ` (unit
    * variance along each component — the OPQ/whitening transform
    * [[covarianceMatrix]] exists for), and the k-component residual in
    * a single codegen projection — no shuffle, no window; the only row
    * expansion is the k-per-id OUTPUT rows themselves. Scores are
    * rounded at `roundDigits`; `white` divides the ROUNDED score by the
    * IEEE-exact sqrt of the rounded eigenvalue and re-rounds; the
    * residual removes the ROUNDED score energy (`dot(v,v) − Σ_c
    * score_c²`, summed in ascending-comp order) so both engines fold
    * the identical lattice values. */
  def pcaProjectTopK(emb: DataFrame, idCol: String, vecCol: String,
                     components: DataFrame, roundDigits: Int = 6): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val s = math.pow(10.0, roundDigits)
    def pr(c: Column): Column = floor(c * lit(s) + lit(0.5)) / lit(s)
    // order enforced INSIDE each aggregate (collect_list order is not
    // stable through a shuffle): loadings sorted by i within comp, then
    // the per-comp arrays sorted by comp; λ rides along per comp
    val pcsRow = components
      .groupBy(col("comp"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("loading")))),
        p => p.getField("loading")).as("pc"),
        min(col("eigenvalue")).as("lam"))
      .agg(transform(array_sort(collect_list(struct(col("comp"), col("pc"), col("lam")))),
        p => p.getField("pc")).as("pcs"),
        transform(array_sort(collect_list(struct(col("comp"), col("lam")))),
          p => p.getField("lam")).as("lams"))
    emb.select(col(idCol), asDouble(col(vecCol)).as("pv"))
      .crossJoin(broadcast(pcsRow))
      // explicit sc*sc, not pow(sc, 2): libm pow is engine-specific
      .withColumn("residual_norm2", pr(expr(
        s"""graft_dot(pv, pv) - aggregate(
             transform(pcs, pc -> floor(graft_dot(pv, pc) * ${s}D + 0.5D) / ${s}D),
             CAST(0.0 AS DOUBLE), (acc, sc) -> acc + sc * sc)""")))
      .select(col(idCol), col("pv"), col("lams"), col("residual_norm2"),
        posexplode(col("pcs")).as(Seq("cidx", "pc")))
      .withColumn("score", pr(expr("graft_dot(pv, pc)")))
      .select(col(idCol), (col("cidx") + 1).cast("long").as("comp"),
        col("score"),
        pr(col("score") / sqrt(element_at(col("lams"), (col("cidx") + 1).cast("int"))))
          .as("white"),
        col("residual_norm2"))
  }

  /** X2 — OPQ-style rotation APPLY: each vector re-expressed in the
    * [[pcaTopK]] basis — the rotated k-dim representation (scores in
    * ascending-comp order, each portable-rounded at `roundDigits`) that
    * the `covarianceMatrix` scaladoc promises as PQ-training prep: PCA
    * decorrelates the coordinates, so a product quantizer over the
    * rotated vectors cuts independent dimensions instead of correlated
    * ones (Ge et al. 2013 "Optimized Product Quantization", the
    * eigen-allocation baseline; FAISS's `PCAR` pre-transform). Feed the
    * output straight into [[pqTrain]]/[[pqEncode]] with dim = k.
    * Same scale shape as [[pcaProjectTopK]]: the k·d artifact collapses
    * to ONE broadcast row, the corpus side is a single codegen
    * projection — no shuffle, no window, no row expansion. */
  def pcaRotate(emb: DataFrame, idCol: String, vecCol: String,
                components: DataFrame, roundDigits: Int = 6): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    GraftFunctions.register(components.sparkSession) // see centsRow
    val s = math.pow(10.0, roundDigits)
    emb.select(col(idCol), asDouble(col(vecCol)).as("pv"))
      .crossJoin(broadcast(pcsRowOf(components)))
      .select(col(idCol), expr(
        s"transform(pcs, pc -> floor(graft_dot(pv, pc) * ${s}D + 0.5D) / ${s}D)")
        .as("rv"))
  }

  /** [[pcaRotate]]'s broadcast row: the component table collapsed to ONE
    * array-of-arrays ordered by comp. */
  private def pcsRowOf(components: DataFrame): DataFrame =
    components.groupBy(col("comp"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("loading")))),
        p => p.getField("loading")).as("pc"))
      // density contract on each component vector so the per-row dot
      // fold compiles branch-free (see asDouble)
      .select(col("comp"), call_function("graft_dense", col("pc")).as("pc"))
      .agg(transform(array_sort(collect_list(struct(
        call_function("graft_nn", col("comp")).as("comp"), col("pc")))),
        p => p.getField("pc")).as("pcs"))

  /** [[pcaRotate]] fused with the ORIGINAL vector for width-heterogeneous
    * PQ-variant fusion (r22, `x2_opq_recall`): emits (idCol, fv) where
    * fv = pv ++ [rot₁, 0×(pad−1), rot₂, 0×(pad−1), …] — each rotated
    * coordinate (the IDENTICAL `floor(graft_dot·10^d + 0.5)/10^d` score
    * [[pcaRotate]] emits) zero-padded to a `pad`-wide slice.
    * The SHIPPED fusion uses `pad = 1` (plain concat) with
    * [[subSlicesAt]]'s per-subspace widths. pad > 1 (uniform-width
    * fusion through the public [[pqTrain]]) is FP-EXACT through the
    * whole PQ chain — a padded slice's squared distance, dot, and norm
    * fold the extra `(0−0)²` / `0·0` terms as `x + 0.0 = x`, and padded
    * training means are means of zeros (0 on the lattice, preserved
    * across Lloyd iterations) — but was MEASURED and REJECTED: padding
    * multiplies the rotated half's O(N·cells) assignment FLOPs by the
    * pad width (cells grows ∝ N on this uncapped-seed family), and an
    * interleaved A/B/C found it at best tied with the old
    * two-chain shape at sf1 while the spec-sliced fusion beat both at
    * every SF (SCALING.md r22). */
  private[graft] def pcaRotateConcatPadded(emb: DataFrame, idCol: String,
      vecCol: String, components: DataFrame, pad: Int,
      roundDigits: Int = 6): DataFrame = {
    require(pad >= 1, "pad must be at least 1")
    GraftFunctions.register(emb.sparkSession)
    GraftFunctions.register(components.sparkSession)
    val s = math.pow(10.0, roundDigits)
    emb.select(col(idCol), asDouble(col(vecCol)).as("pv"))
      .crossJoin(broadcast(pcsRowOf(components)))
      .select(col(idCol), concat(col("pv"), expr(
        s"""flatten(transform(pcs, pc -> concat(
           array(floor(graft_dot(pv, pc) * ${s}D + 0.5D) / ${s}D),
           array_repeat(0.0D, ${pad - 1}))))""")).as("fv"))
  }

  /** X2/X3 — SEMANTIC decontamination: flag corpus items whose embedding
    * is near-identical to any benchmark/eval embedding (max cosine ≥ τ).
    * Catches the leaks n-gram decontamination misses — paraphrased or
    * re-formatted eval answers whose surface text shares no 8-gram with
    * the benchmark ([[TextOps.contaminationReport]] is the lexical
    * sibling; real pipelines run both).
    *
    * Scale shape: the benchmark embedding set (eval suites are
    * corpus-tiny) collapses to ONE broadcast array row; each corpus
    * vector folds a max-cosine over it with the codegen dot kernel — no
    * shuffle, no window, no row expansion on the 100 TB side, exactly
    * the `kmeansFit.assign` artifact-broadcast shape. The max fold is
    * order-independent, so the collected bench order cannot affect the
    * result; the rounded max_cos then drives the flag. */
  def semanticDecontaminate(corpus: DataFrame, idCol: String, vecCol: String,
                            bench: DataFrame, benchVecCol: String,
                            tau: Double = 0.3, roundDigits: Int = 6): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val s = math.pow(10.0, roundDigits)
    def pr(c: Column): Column = floor(c * lit(s) + lit(0.5)) / lit(s)
    val bRow = bench.select(asDouble(col(benchVecCol)).as("bv"))
      .agg(collect_list(col("bv")).as("bvs"))
    // the max fold evaluates through the fused codegen kernel
    // [[graft.functions.MaxCosine]] (r15) — [[semanticDecontaminateHof]]
    // is the declarative form it must match bit-for-bit (Round15OpsSpec
    // cross-checks; the query oracle replays the same closed form)
    corpus.select(col(idCol), asDouble(col(vecCol)).as("pv"))
      .crossJoin(broadcast(bRow))
      .withColumn("max_cos", pr(expr("graft_max_cosine(pv, bvs)")))
      .select(col(idCol), col("max_cos"),
        (col("max_cos") >= lit(tau)).as("contaminated"))
  }

  /** The declarative HOF form of [[graft.functions.MaxCosine]] — the
    * closed form the DuckDB oracle mirrors; retained as the cross-check
    * reference. */
  private[graft] def semanticDecontaminateHof(corpus: DataFrame, idCol: String,
                                              vecCol: String, bench: DataFrame,
                                              benchVecCol: String,
                                              tau: Double = 0.3,
                                              roundDigits: Int = 6): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val s = math.pow(10.0, roundDigits)
    def pr(c: Column): Column = floor(c * lit(s) + lit(0.5)) / lit(s)
    val bRow = bench.select(asDouble(col(benchVecCol)).as("bv"))
      .agg(collect_list(col("bv")).as("bvs"))
    corpus.select(col(idCol), asDouble(col(vecCol)).as("pv"))
      .crossJoin(broadcast(bRow))
      .withColumn("pn", sqrt(expr("graft_dot(pv, pv)")))
      .withColumn("max_cos", pr(expr(
        """aggregate(bvs, CAST(-1.0 AS DOUBLE),
             (acc, bv) -> greatest(acc,
               graft_dot(pv, bv) / (pn * sqrt(graft_dot(bv, bv)))))""")))
      .select(col(idCol), col("max_cos"),
        (col("max_cos") >= lit(tau)).as("contaminated"))
  }

  /** X2 index training — Lloyd's k-means over the embedding column with a
    * deterministic seed set and a fixed iteration count: the step that
    * produces [[ivfTopK]]'s centroid table (reference users train the
    * coarse quantizer before building an IVF index; here that training is
    * itself a Spark dataflow).
    *
    * Per-iteration shape (the 100 TB design):
    *  1. *assign* — the centroid table collapses to ONE row
    *     (`collect_list(struct(cell, cv))`, k·d doubles — tiny) and
    *     broadcast-joins the corpus, so the big side never shuffles. The
    *     nearest cell is an `aggregate` HOF fold in ascending-cell order
    *     with strict `<`, making the tie-break (lowest cell id at equal
    *     distance) explicit in the fold rather than an artifact of a sort.
    *     No window, no corpus-wide shuffle, no row expansion: each point
    *     scans the k·d broadcast once.
    *  2. *update* — `posexplode` + groupBy (cell, pos) mean. Partial
    *     aggregation combines map-side, so the shuffle carries only
    *     numPartitions·k·d partial sums, never the corpus. Means are
    *     portable-rounded (floor(x·10^d + 0.5)/10^d — identical FP ops in
    *     any engine, negative-safe because both engines floor toward −∞)
    *     so iteration t+1's distances are bit-identical across engines
    *     and partition orders.
    *
    * Unlike driver-looped k-means (MLlib collects centroids every round),
    * the fit stays ONE lazy declarative plan: centroids are a small
    * DataFrame re-broadcast per round, so the whole fit is explainable and
    * AQE-planned end-to-end. Cells that lose every member drop out
    * (plain Lloyd's on a fixed seed set; the seed count bounds k).
    *
    * Output: the final centroids exploded as (cell, pos, coord, n), where
    * n is the member count of the assignment that produced the centroid.
    */
  def kmeansFit(emb: DataFrame, idCol: String, vecCol: String,
                seedPred: Column, iters: Int = 2, roundDigits: Int = 6): DataFrame = {
    require(iters >= 1, "kmeansFit needs at least one Lloyd iteration")
    GraftFunctions.register(emb.sparkSession)
    val scale = math.pow(10.0, roundDigits)
    def pround(c: Column): Column = floor(c * lit(scale) + lit(0.5)) / lit(scale)

    val pts = emb.select(col(idCol).as("pid"), asDouble(col(vecCol)).as("pv"))

    // Nearest centroid via the shared broadcast argmin fold (identical
    // distance association order in the oracle), ties to the lowest cell.
    def assign(cents: DataFrame): DataFrame = assignNearestCell(pts, cents)

    var centroids: DataFrame = emb.where(seedPred)
      .select(col(idCol).cast("long").as("cell"), asDouble(col(vecCol)).as("cv"))
    for (_ <- 1 until iters) {
      centroids = assign(centroids)
        .select(col("cell"), posexplode(col("pv")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(pround(avg(col("x"))).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
    }
    assign(centroids)
      .select(col("cell"), posexplode(col("pv")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(pround(avg(col("x"))).as("coord"), count(lit(1)).as("n"))
      .select(col("cell"), col("pos").cast("long").as("pos"),
        col("coord"), col("n"))
  }

  /** X2 — SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into cells by nearest
    * centroid, then within each cell flag every vector whose cosine to a
    * LOWER-id cell member reaches `threshold`. Each semantic-duplicate
    * group keeps exactly its lowest-id representative, and cross-cell
    * pairs are never scored — the clustering IS the candidate pruning.
    *
    * Scale shape: cell assignment is the same broadcast argmin fold as
    * [[ivfTopK]] (centroids ~√N, corpus never shuffles for it); the
    * pairwise stage shuffles both sides on `cell` only, so the quadratic
    * term is bounded by the largest cell, not the corpus. Output is every
    * member with its cell and an `is_dup` flag (rather than survivors
    * only) so the dedup rate per cell is one aggregation away.
    *
    * Reference tie-in: the fetch-side identity passes (exact/MinHash
    * dedup) miss paraphrases; this is the embedding-space pass a training
    * corpus runs after them (SURVEY.md §2.8 X2 "cosine near-dup" scale
    * variant). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    centroidPred: Column, threshold: Double): DataFrame =
    semanticDedupWith(emb, idCol, vecCol,
      emb.where(centroidPred)
        .select(col(idCol).cast("long").as("cell"), asDouble(col(vecCol)).as("cv")),
      threshold)

  /** [[semanticDedup]] against an explicit centroid table (cell, cv) —
    * the production form: centroids come from [[kmeansFit]] (SemDeDup
    * clusters the corpus first, then dedups within trained clusters),
    * while the predicate overload above is the oracle-friendly
    * seed-vector special case. Same scale shape: centroids broadcast,
    * pairwise stage keyed on cell. */
  def semanticDedupWith(emb: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, threshold: Double): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val members = assignNearestCell(
      emb.select(col(idCol).as("pid"), asDouble(col(vecCol)).as("pv")),
      centroids.select(col("cell").cast("long").as("cell"), col("cv")))
    val l = members.select(col("pid").as("id_a"), col("pv").as("qvec"), col("cell"))
      .withColumn("qnorm", sqrt(expr("graft_dot(qvec, qvec)")))
    val r = members.select(col("pid").as("id_b"), col("pv").as("cvec"), col("cell"))
      .withColumn("cnorm", sqrt(expr("graft_dot(cvec, cvec)")))
    val dups = l.join(r, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", round(fastCosine, 6))
      .where(col("cosine") >= threshold)
      .select(col("id_b").as("pid")).distinct()
      .withColumn("is_dup", lit(true))
    members.select(col("pid"), col("cell"))
      .join(dups, Seq("pid"), "left")
      .select(col("pid"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search"): the memory-compression path for
  // corpus-scale ANN. A d-dim float vector (d·8 bytes) compresses to m
  // sub-codes (m bytes at k ≤ 256) — 64-dim doubles compress 512 B → 2 B
  // at m=2 — so a 100 TB embedding corpus's codes fit a fraction of
  // cluster RAM while search cost drops to table lookups.
  // ------------------------------------------------------------------

  /** Corpus sliced into m contiguous subvectors: (pid, sub, pv) — m rows
    * per vector, each of length dim/m, so the expansion carries no net
    * data growth. */
  private def subSlices(emb: DataFrame, idCol: String, vecCol: String,
                        m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    // asDouble resolves graft_dense at ANALYSIS, i.e. at construction of
    // this frame — which since the r22 pqTrainOver split happens in the
    // DELEGATING call's argument position, before the Over-body's
    // register would run
    GraftFunctions.register(emb.sparkSession)
    val subd = dim / m
    emb.select(col(idCol).cast("long").as("pid"), asDouble(col(vecCol)).as("v"))
      .select(col("pid"), explode(sequence(lit(0L), lit(m - 1L))).as("sub"), col("v"))
      .select(col("pid"), col("sub"),
        expr(s"slice(v, sub * $subd + 1, $subd)").as("pv"))
  }

  /** [[subSlices]] with an explicit PER-SUBSPACE (sub, 1-based offset,
    * width) spec instead of the uniform dim/m split (r22,
    * `x2_opq_recall`): lets ONE concatenated frame carry variants whose
    * sub widths DIFFER (e.g. raw 64 dims at width 8 next to 8 rotated
    * coords at width 1) so a single [[pqTrainOver]]/[[pqEncodeOver]]
    * dataflow trains/codes them all — per-(sub, cell) groups stay
    * disjoint, each sub's slices are the identical rows (same scan
    * order, same FP folds) the separate per-variant chain would build.
    * Explode order over the literal spec array matches
    * `explode(sequence(...))`'s ascending-sub order. */
  private[graft] def subSlicesAt(emb: DataFrame, idCol: String, vecCol: String,
                                 spec: Seq[(Int, Int, Int)]): DataFrame = {
    require(spec.nonEmpty, "subSlicesAt needs at least one subspace")
    GraftFunctions.register(emb.sparkSession) // see subSlices
    val specArr = array(spec.map { case (sub, off, len) =>
      struct(lit(sub.toLong).as("sub"), lit(off).as("off"), lit(len).as("len"))
    }: _*)
    emb.select(col(idCol).cast("long").as("pid"), asDouble(col(vecCol)).as("v"))
      .select(col("pid"), explode(specArr).as("s"), col("v"))
      .select(col("pid"), col("s.sub").as("sub"),
        expr("slice(v, s.off, s.len)").as("pv"))
  }

  /** Nearest code per (point, subspace): [[assignNearestCell]]'s broadcast
    * argmin fold, generalized — the codebook collapses to ONE row per
    * subspace (m·k·(dim/m) = k·dim doubles total, tiny) and broadcast-
    * joins on `sub`, so the sliced corpus never shuffles and no window or
    * row expansion appears. Ties break to the lowest code in the fold. */
  private def assignSubCells(slices: DataFrame, codebooks: DataFrame): DataFrame = {
    GraftFunctions.register(codebooks.sparkSession) // see centsRow
    val bySub = codebooks.groupBy(col("sub")).agg(
      sort_array(collect_list(struct(
        call_function("graft_nn", col("cell")).as("cell"),
        call_function("graft_dense", col("cv")).as("cv")))).as("cents"))
    // Any extra columns on `slices` (e.g. the coarse IVF cell in
    // [[ivfPqSearch]]) ride through the scan untouched — the fold only
    // ADDS the winning sub-code, so the composed index needs one pass.
    // Same fused [[graft.functions.NearestCell]] kernel as the coarse
    // assignment (r15) — identical closed form per subspace.
    slices.join(broadcast(bySub), Seq("sub"))
      .withColumn("cell", expr("graft_nearest_cell(pv, cents)"))
      .drop("cents")
  }

  /** X2 — PQ codebook training: [[kmeansFit]]'s Lloyd's loop run over all
    * m subspaces in ONE dataflow. Per iteration the sliced corpus
    * broadcast-assigns to its subspace's codes (no shuffle) and the
    * update groupBy (sub, cell, pos) combines map-side — the shuffle
    * carries partitions·k·dim partial sums, never the corpus. Unlike m
    * separate kmeansFit calls, the corpus is sliced and scanned once per
    * iteration for ALL subspaces. Codes are seeded from `seedPred`
    * vectors' slices (same seed ids across subspaces). Output:
    * (sub, cell, pos, coord, n) — the trained codebooks exploded.
    *
    * `latticeMeans`: the classic `pr(avg(x))` centroid mean is
    * partial-sum-order-dependent at rounding half-boundaries — and when
    * the inputs are THEMSELVES lattice values (a rotated frame), exact
    * half-boundary means are common (two adjacent lattice values average
    * onto one), so different partition orders (or engines) legitimately
    * land one lattice step apart. With `latticeMeans = true` each member
    * coordinate rounds onto the integer 1e-`roundDigits` lattice FIRST,
    * the integers sum exactly (order-free), and two fixed-order FP ops
    * (÷n, ÷scale) render the mean — bit-deterministic across
    * partitionings and engines. [[opqRefine]] requires this (its
    * Procrustes reduction floors products of the reconstructions, so a
    * one-step codebook wobble cascades); the demo/search queries keep
    * the classic mean, whose boundary jitter their re-rounding consumers
    * absorb. */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String, m: Int, dim: Int,
              seedPred: Column, iters: Int = 2, roundDigits: Int = 6,
              latticeMeans: Boolean = false): DataFrame =
    pqTrainOver(subSlices(emb, idCol, vecCol, m, dim),
      subSlices(emb.where(seedPred), idCol, vecCol, m, dim),
      iters, roundDigits, latticeMeans)

  /** [[pqTrain]] over PRE-SLICED (pid, sub, pv) frames (r22): `pts` is
    * the corpus, `seeds` the seed rows — both [[subSlices]] or
    * [[subSlicesAt]] output, so width-heterogeneous variant fusion can
    * feed one training. The Lloyd loop is `pqTrain` verbatim. */
  private[graft] def pqTrainOver(pts: DataFrame, seeds: DataFrame,
                                 iters: Int = 2, roundDigits: Int = 6,
                                 latticeMeans: Boolean = false): DataFrame = {
    require(iters >= 1, "pqTrain needs at least one Lloyd iteration")
    GraftFunctions.register(pts.sparkSession)
    val scale = math.pow(10.0, roundDigits)
    def pr(c: Column): Column = floor(c * lit(scale) + lit(0.5)) / lit(scale)
    def mean(c: Column): Column =
      if (latticeMeans)
        pr(sum(floor(c * lit(scale) + lit(0.5)).cast("long")).cast("double")
          / count(lit(1)) / lit(scale))
      else pr(avg(c))
    def update(assigned: DataFrame, withN: Boolean): DataFrame = {
      val base = assigned
        .select(col("sub"), col("cell"), posexplode(col("pv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cell"), col("pos"))
      if (withN) base.agg(mean(col("x")).as("coord"), count(lit(1)).as("n"))
      else base.agg(mean(col("x")).as("m"))
        .groupBy(col("sub"), col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
    }
    var codebooks: DataFrame = seeds
      .select(col("sub"), col("pid").as("cell"), col("pv").as("cv"))
    for (_ <- 1 until iters)
      codebooks = update(assignSubCells(pts, codebooks), withN = false)
    update(assignSubCells(pts, codebooks), withN = true)
      .select(col("sub"), col("cell"), col("pos").cast("long").as("pos"),
        col("coord"), col("n"))
  }

  /** X2 — PQ encoding against trained codebooks ((sub, cell, pos, coord)
    * long form, as [[pqTrain]] emits): each vector's m sub-codes, long
    * form (pid, sub, code). The broadcast fold again — encoding a 100 TB
    * corpus is one scan, zero shuffles. */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String, m: Int, dim: Int,
               codebooks: DataFrame): DataFrame =
    pqEncodeOver(subSlices(emb, idCol, vecCol, m, dim), codebooks)

  /** [[pqEncode]] over a PRE-SLICED (pid, sub, pv) frame (r22; see
    * [[pqTrainOver]]). */
  private[graft] def pqEncodeOver(slices: DataFrame,
                                  codebooks: DataFrame): DataFrame = {
    GraftFunctions.register(slices.sparkSession)
    val cb = codebooks.groupBy(col("sub"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("coord")))),
        s => s.getField("coord")).as("cv"))
    assignSubCells(slices, cb)
      .select(col("pid"), col("sub"), col("cell").as("code"))
  }

  /** X2 — PQ DECODE (reconstruction): each coded vector rebuilt as the
    * concatenation of its assigned code centroids, in subspace order —
    * the x̂ of Jégou et al.'s ‖x − x̂‖ quantization error, and the
    * reconstruction side of the OPQ-NP Procrustes step ([[opqRefine]]).
    * Codebooks in [[pqTrain]]'s (sub, cell, pos, coord) long form; codes
    * in [[pqEncode]]'s (pid, sub, code) form. The codebook collapses to
    * a broadcast (k·dim doubles) and the concatenation is one grouped
    * fold per pid — order enforced inside the aggregate, no window.
    * Output: (pid, xhat). */
  def pqDecode(codes: DataFrame, codebooks: DataFrame): DataFrame = {
    val cb = codebooks.groupBy(col("sub"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("coord")))),
        s => s.getField("coord")).as("cv"))
      .select(col("sub"), col("cell").as("code"), col("cv"))
    codes.join(broadcast(cb), Seq("sub", "code"))
      .groupBy(col("pid"))
      .agg(flatten(transform(array_sort(collect_list(struct(col("sub"), col("cv")))),
        s => s.getField("cv"))).as("xhat"))
  }

  /** X2 — OPQ eigenvalue ALLOCATION (Ge et al. 2013 §3.3, the second
    * half of the parametric solution [[pcaRotate]] started): re-order
    * the PCA components so each PQ subspace receives a BALANCED variance
    * product, instead of the naive descending order that hands subspace
    * 0 the k/m largest eigenvalues and the last subspace pure noise.
    * Greedy assignment (the paper's): components in descending
    * eigenvalue order, each to the not-yet-full subspace with the
    * smallest current log-variance product — choosing first by MINIMUM
    * FILL COUNT, then by log-sum, then lowest subspace: the literal
    * "smallest product with empty = 1" rule degenerates to consecutive
    * pairing whenever every eigenvalue is < 1 (any partial product
    * beats the empty bucket), so the balancing is done scale-invariantly
    * on log-sums with round-filling. For subd = k/m = 2 over a
    * descending spectrum this yields the zig-zag pairing
    * (λ1,λk)(λ2,λk−1)… — the closed form the SQL oracle replays.
    * Measured on the anisotropic fixture (sf0.01, m=4 over the top-8
    * rotation): total quantization error 0.890 → 0.548, a 38 % cut at
    * the same code budget.
    *
    * Input/output: pcaTopK's (comp, i, loading, eigenvalue) table with
    * `comp` RELABELED to the allocated coordinate position — feed
    * straight into [[pcaRotate]]. Eager by nature ([[pcaTopK]]'s k·d
    * artifact is collected to build the k-entry permutation — bounded
    * like the fit itself); requires every eigenvalue > 0 (a component
    * pcaTopK could train but allocation cannot price signals a
    * rank-deficient fit — fail loud). */
  def opqAllocate(components: DataFrame, m: Int): DataFrame = {
    val lams = components.select(col("comp").cast("long").as("comp"),
        col("eigenvalue")).distinct()
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val k = lams.length
    require(k > 0, "opqAllocate: empty component table")
    require(k % m == 0, s"component count $k must divide into $m subspaces")
    val slots = k / m
    lams.foreach { case (c, l) =>
      require(l > 0, s"opqAllocate: non-positive eigenvalue $l at component $c")
    }
    val prod = Array.fill(m)(0.0)
    val cnt = Array.fill(m)(0)
    val perm = scala.collection.mutable.Map[Long, Long]()
    lams.sortBy { case (c, l) => (-l, c) }.foreach { case (c, l) =>
      val s = (0 until m).filter(cnt(_) < slots)
        .minBy(i => (cnt(i), prod(i), i))
      perm(c) = (s * slots + cnt(s) + 1).toLong
      prod(s) += math.log(l)
      cnt(s) += 1
    }
    val mapExpr = map(perm.toSeq.sortBy(_._1).flatMap { case (c, p) =>
      Seq(lit(c), lit(p)) }: _*)
    components.select(element_at(mapExpr, col("comp").cast("long")).as("comp"),
      col("i"), col("loading"), col("eigenvalue"))
  }

  /** X2 — one NON-PARAMETRIC OPQ alternation (Ge et al. 2013 §4, the
    * OPQ-NP refinement on top of [[pcaRotate]]'s parametric baseline):
    * train a PQ on the current (already-rotated) vectors, DECODE the
    * reconstructions x̂, and solve the orthogonal Procrustes problem
    * min_R ‖XR − X̂‖_F — the rotation that best aligns the data with
    * what its quantizer can represent. R = M(MᵀM)^(-1/2) (the
    * orthogonal polar factor of M = XᵀX̂), computed on the driver over
    * the collected d² correlation matrix exactly like [[pcaTopK]]'s
    * covariance split: the corpus-sized reductions (PQ training, x̂,
    * M) stay distributed; the d-sized eigensolve of S = MᵀM runs as the
    * same portable-rounded deflated power iteration (v₀ = 1⃗,
    * `powerIters` rounded matvecs per component, Rayleigh λ, rank-1
    * deflation — the identical lattice an unrolled-CTE oracle replays),
    * then S^(-1/2) = Σ_c v_c·v_cᵀ/√λ_c and R = M·S^(-1/2), every entry
    * portable-rounded. A matvec that annihilates the iterate or a
    * non-positive rounded eigenvalue fails loud (S is PD whenever the
    * reconstructions span the space; a deterministic restart here would
    * silently diverge from the oracle's fixed-start replay). Because
    * the eigenpairs come from a FIXED-iteration power method on the
    * rounded lattice, R is only approximately orthogonal — the
    * refinement's gate is the measured quantization error / recall
    * (`x2_opq_np_recall`), not exact orthogonality.
    *
    * Returns the correction rotation as a [(comp, i, loading)] table —
    * [[pcaRotate]]-compatible, loading(i, comp) = R[i][comp-1] — so the
    * apply step is the same one-broadcast-row codegen projection:
    * `pcaRotate(rotated, idCol, vecCol, opqRefine(...))` yields XR.
    * Iterating the alternation = re-calling this op on the re-rotated
    * frame.
    *
    * OPERATING DOMAIN (measured, Round15OpsSpec): the step helps when
    * correlation structure is misaligned with the subspace cuts and the
    * spectrum is moderate (the correlated fixture improves and R'R stays
    * within 3e-3 of I at powerIters=24). It is the WRONG tool after a
    * full parametric rotation on Gaussian-like data: there OPQ-P is
    * already the optimum (Ge et al. §3.3 — measured here: refining the
    * rotated anisotropic fixture moves total quantization error 0.89 →
    * 1.07, pure approximation noise on zero headroom), and a strongly
    * decaying spectrum squares into MᵀM's condition number, pushing the
    * small eigenvalues under the rounding lattice (measured: refining
    * the ALLOCATED anisotropic rotation explodes error 0.55 → 3.5 as
    * 1/√λ amplifies lattice noise). Hence the oracle-gated OPQ query
    * chain uses [[opqAllocate]] (the parametric completion); this op
    * stays spec-gated on its domain. */
  def opqRefine(emb: DataFrame, idCol: String, vecCol: String, m: Int, dim: Int,
                seedPred: Column, iters: Int = 2, powerIters: Int = 3,
                roundDigits: Int = 6, maxDim: Int = 256): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    // distributed: train, encode, decode — corpus-sized, and the SAME
    // chain an eval pricing the baseline variant computes anyway: the
    // reconstruction-level entry below exists so such callers share it.
    // referenced by BOTH the encode and the decode below — cached so the
    // Lloyd chain replays once (r21; m·k·subd rows, cache is ~free)
    val cb = pqTrain(emb, idCol, vecCol, m, dim, seedPred, iters, roundDigits,
      latticeMeans = true).cache()
    val codes = pqEncode(emb, idCol, vecCol, m, dim, cb)
    val xh = pqDecode(codes, cb)
    opqRefineFromReconstruction(emb, idCol, vecCol, xh, dim, powerIters,
      roundDigits, maxDim)
  }

  /** [[opqRefine]]'s Procrustes solve from a PRE-COMPUTED reconstruction
    * table (r22): `xh` must be [[pqDecode]] output (pid, xhat) for the
    * same corpus — callers that already trained/encoded/decoded the
    * baseline variant (the OPQ-NP eval prices its error from the same
    * chain) feed it here instead of [[opqRefine]] re-running the whole
    * Lloyd+encode+decode dataflow. The M reduction and the driver-side
    * eigensolve are `opqRefine` verbatim. */
  private[graft] def opqRefineFromReconstruction(emb: DataFrame, idCol: String,
      vecCol: String, xh: DataFrame, dim: Int, powerIters: Int = 3,
      roundDigits: Int = 6, maxDim: Int = 256): DataFrame = {
    require(dim <= maxDim,
      s"opqRefine collects the d^2 correlation to the driver; dim=$dim " +
        s"exceeds maxDim=$maxDim")
    GraftFunctions.register(emb.sparkSession)
    val s = math.pow(10.0, roundDigits)
    def pr(x: Double): Double = math.floor(x * s + 0.5) / s
    // reduce M = Σ x·x̂ᵀ — corpus-sized; the shuffle carries d² partial
    // sums. Each product lands on the integer 1e-6 lattice BEFORE the
    // sum, so the reduction is an exact integer sum — order-independent
    // across partitionings AND engines (a raw-FP sum rounded after the
    // fact is partial-sum-order-dependent; measured: the r16 oracle
    // replay diverged ~1e-6 per M entry, cascading to ~1e-4 on the
    // error sum).
    val mRows = emb
      .select(col(idCol).cast("long").as("pid"), asDouble(col(vecCol)).as("pv"))
      .join(xh, Seq("pid"))
      .select(posexplode(col("pv")).as(Seq("i", "x")), col("xhat"))
      .select(col("i"), col("x"), posexplode(col("xhat")).as(Seq("j", "xh")))
      .groupBy(col("i"), col("j"))
      .agg((sum(floor(col("x") * col("xh") * lit(s) + lit(0.5)).cast("long"))
        .cast("double") / lit(s)).as("mv"))
      .collect()
    val mm = Array.ofDim[Double](dim, dim)
    mRows.foreach(r => mm(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    // driver: S = MᵀM (rounded), full eigensolve by deflation, S^(-1/2), R
    val a = Array.tabulate(dim, dim) { (i, j) =>
      var acc = 0.0; var k = 0
      while (k < dim) { acc += mm(k)(i) * mm(k)(j); k += 1 }
      pr(acc)
    }
    val vecs = Array.ofDim[Double](dim, dim)
    val lams = Array.ofDim[Double](dim)
    for (c <- 0 until dim) {
      var v = Array.fill(dim)(1.0)
      for (_ <- 1 to powerIters) {
        val w = Array.tabulate(dim) { i =>
          var acc = 0.0; var j = 0
          while (j < dim) { acc += a(i)(j) * v(j); j += 1 }
          pr(acc)
        }
        val nrm = math.sqrt(w.map(x => x * x).sum)
        require(nrm > 0, s"opqRefine: power iterate annihilated at component ${c + 1}" +
          " — reconstruction correlation is rank-deficient")
        v = w.map(x => pr(x / nrm))
      }
      var ray = 0.0
      for (i <- 0 until dim; j <- 0 until dim) ray += a(i)(j) * v(i) * v(j)
      val lam = pr(ray)
      require(lam > 0, s"opqRefine: non-positive eigenvalue $lam at component ${c + 1}" +
        " — MᵀM must be positive definite for the polar factor")
      vecs(c) = v; lams(c) = lam
      for (i <- 0 until dim; j <- 0 until dim)
        a(i)(j) = pr(a(i)(j) - lam * v(i) * v(j))
    }
    val ih = Array.tabulate(dim, dim) { (i, j) =>
      var acc = 0.0; var c = 0
      while (c < dim) { acc += vecs(c)(i) * vecs(c)(j) / math.sqrt(lams(c)); c += 1 }
      pr(acc)
    }
    val out = Seq.newBuilder[(Long, Long, Double)]
    for (j <- 0 until dim; i <- 0 until dim) {
      var acc = 0.0; var k = 0
      while (k < dim) { acc += mm(i)(k) * ih(k)(j); k += 1 }
      out += (((j + 1).toLong, i.toLong, pr(acc)))
    }
    val spark = emb.sparkSession
    import spark.implicits._
    out.result().toDF("comp", "i", "loading")
  }

  /** X2 — asymmetric-distance (ADC) top-k over PQ codes: each query
    * precomputes its distance to every code in every subspace (a
    * queries·m·k table — broadcast-tiny), and a corpus item's
    * approximate distance is the sum of its m looked-up entries. The
    * encoded corpus broadcast-joins the table on (sub, code) — never
    * shuffles — and the per-(query, item) ADC total folds over the m
    * looked-up entries in ASCENDING SUBSPACE ORDER (collect, sort,
    * left-fold): FP addition order is fixed by construction, so the
    * total is bit-identical across engines and partition orders for any
    * m — no rounding needed before ranking. The collected array is
    * m-sized (bounded), and ranking windows per query (bounded by the
    * query count). Output: (query_id, rk, cand_id, adc_dist). */
  def pqSearch(emb: DataFrame, idCol: String, vecCol: String, m: Int, dim: Int,
               codebooks: DataFrame, queryPred: Column, k: Int = 5): DataFrame =
    pqSearchCoded(emb, idCol, vecCol, m, dim,
      pqEncode(emb, idCol, vecCol, m, dim, codebooks), codebooks, queryPred, k)

  /** [[pqSearch]]'s ADC tail over PRE-COMPUTED codes (r22): callers that
    * already hold the encoded corpus — e.g. an eval that prices both the
    * search AND the reconstruction error from one [[pqEncode]] pass —
    * skip the second corpus encode `pqSearch` would pay. `codes` must be
    * [[pqEncode]] output against the SAME `codebooks` (subsetting both
    * to the same subspaces is fine: the distance table and the ADC join
    * only produce rows for subspaces present in `codebooks`, so extra
    * query-slice subspaces drop out in the join). Everything else —
    * distance table, ADC fold order, ranking — is `pqSearch` verbatim. */
  private[graft] def pqSearchCoded(emb: DataFrame, idCol: String, vecCol: String,
                                   m: Int, dim: Int, codes: DataFrame,
                                   codebooks: DataFrame, queryPred: Column,
                                   k: Int = 5): DataFrame =
    pqSearchCodedOver(subSlices(emb.where(queryPred), idCol, vecCol, m, dim)
        .select(col("pid").as("query_id"), col("sub"), col("pv").as("qv")),
      codes, codebooks, k)

  /** [[pqSearchCoded]] over a PRE-SLICED (query_id, sub, qv) query frame
    * (r22; see [[pqTrainOver]]). Subspaces absent from `codebooks` drop
    * out in the distance-table join, as the coded entry documents. */
  private[graft] def pqSearchCodedOver(qs: DataFrame, codes: DataFrame,
                                       codebooks: DataFrame,
                                       k: Int = 5): DataFrame = {
    GraftFunctions.register(qs.sparkSession)
    val cb = codebooks.groupBy(col("sub"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("coord")))),
        s => s.getField("coord")).as("cv"))
    val dt = qs.join(cb, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cell").as("code"),
        ((expr("graft_dot(qv, qv)") - lit(2.0) * expr("graft_dot(qv, cv)"))
          + expr("graft_dot(cv, cv)")).as("d"))
    val scored = codes.join(broadcast(dt), Seq("sub", "code"))
      .where(col("pid") =!= col("query_id"))
      .groupBy(col("query_id"), col("pid"))
      .agg(expr("""aggregate(
          array_sort(collect_list(named_struct('sub', sub, 'd', d))),
          CAST(0 AS DOUBLE), (acc, x) -> acc + x.d)""").as("adc_dist"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("pid").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("pid").as("cand_id"), col("adc_dist"))
  }

  /** X2 — IVF+PQ composed index search: the standard billion-vector
    * serving shape (FAISS's IVFADC; Jégou et al. 2011 §V). A coarse IVF
    * quantizer prunes the corpus to each query's `nprobe` nearest cells,
    * and ADC runs ONLY over the surviving candidates — so the
    * (query × item) term that makes flat [[pqSearch]] all-pairs is cut
    * by the coarse partition fraction (~nprobe/√N of the corpus per
    * query at production sizing).
    *
    * Scale shape — the corpus is scanned ONCE and never shuffled before
    * the candidate aggregation:
    *  1. coarse cell: [[assignNearestCell]]'s one-row-broadcast argmin
    *     fold (no window, no expansion);
    *  2. sub-codes: the same fold per subspace over the m-sliced scan,
    *     with the coarse cell riding along the projection;
    *  3. probe prune: the (query, probed-cell) pairs — queries·nprobe
    *     rows, broadcast-tiny — broadcast-join the coded corpus on the
    *     coarse cell, so pruning adds NO corpus exchange;
    *  4. ADC: the queries·m·k distance table broadcast-joins on
    *     (query_id, sub, code) and the per-(query, candidate) total
    *     folds in ascending subspace order (bit-identical across
    *     engines, as [[pqSearch]]); only candidate rows — the pruned
    *     fraction — reach the groupBy shuffle and the final per-query
    *     ranking window.
    *
    * Coarse centroids come from `centroidPred` (oracle-reproducible, as
    * [[ivfTopK]]); codebooks in [[pqTrain]]'s (sub, cell, pos, coord)
    * long form. Output: (query_id, rk, cand_id, adc_dist). */
  def ivfPqSearch(emb: DataFrame, idCol: String, vecCol: String, m: Int, dim: Int,
                  codebooks: DataFrame, centroidPred: Column, queryPred: Column,
                  k: Int = 5, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, "nprobe must be at least 1")
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    GraftFunctions.register(emb.sparkSession)
    val subd = dim / m
    val coarse = emb.where(centroidPred)
      .select(col(idCol).cast("long").as("cell"), asDouble(col(vecCol)).as("cv"))
    // (1)+(2): coarse cell then sub-codes, one corpus scan, two broadcast folds
    val assigned = assignNearestCell(
      emb.select(col(idCol).as("pid"), asDouble(col(vecCol)).as("pv")), coarse)
      .select(col("pid"), col("cell").as("ivf_cell"), col("pv").as("v"))
      .select(col("pid"), col("ivf_cell"),
        explode(sequence(lit(0L), lit(m - 1L))).as("sub"), col("v"))
      .select(col("pid"), col("ivf_cell"), col("sub"),
        expr(s"slice(v, sub * $subd + 1, $subd)").as("pv"))
    val cb = codebooks.groupBy(col("sub"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("coord")))),
        s => s.getField("coord")).as("cv"))
    val codes = assignSubCells(assigned, cb)
      .select(col("pid"), col("ivf_cell"), col("sub"), col("cell").as("code"))
    // (3): query probe list — nprobe nearest coarse cells per query
    // (the ivfTopKProbe expansion: sorted slice of the one-row centroid
    // frame; struct order (dist, cell) makes array_sort the tie-break)
    val one = centsRow(coarse)
    val qprobe = emb.where(queryPred)
      .select(col(idCol).cast("long").as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("pn", expr("graft_dot(qv, qv)"))
      .join(broadcast(one))
      .withColumn("probe", explode(expr(
        s"""slice(array_sort(transform(cents, c -> named_struct(
              'dist', (pn - 2 * graft_dot(qv, c.cv)) + graft_dot(c.cv, c.cv),
              'cell', c.cell))), 1, $nprobe)""")))
      .select(col("query_id"), col("probe.cell").as("ivf_cell"))
    // (4): per-query distance table over the codebooks, broadcast
    val qs = subSlices(emb.where(queryPred), idCol, vecCol, m, dim)
      .select(col("pid").as("query_id"), col("sub"), col("pv").as("qv"))
    val dt = qs.join(cb, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cell").as("code"),
        ((expr("graft_dot(qv, qv)") - lit(2.0) * expr("graft_dot(qv, cv)"))
          + expr("graft_dot(cv, cv)")).as("d"))
    val scored = codes.join(broadcast(qprobe), Seq("ivf_cell"))
      .where(col("pid") =!= col("query_id"))
      .join(broadcast(dt), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("pid"))
      .agg(expr("""aggregate(
          array_sort(collect_list(named_struct('sub', sub, 'd', d))),
          CAST(0 AS DOUBLE), (acc, x) -> acc + x.d)""").as("adc_dist"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("pid").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("pid").as("cand_id"), col("adc_dist"))
  }

  /** X2 — TWO-STAGE retrieval: coarse shortlist → exact re-rank — the
    * most common production serving shape (FAISS's IVFADC + refine;
    * Jégou et al. 2011 §V.D). Stage 1 is [[ivfPqSearch]] run for a
    * `shortlist` ≥ k candidates per query — cheap approximate ADC
    * distances over PQ codes, coarse-pruned to `nprobe` cells. Stage 2
    * re-scores ONLY the shortlist rows with exact cosine over the
    * original vectors and re-ranks to the final top-k, recovering the
    * ordering quality quantization costs while touching `shortlist`
    * full vectors per query instead of the corpus.
    *
    * Scale shape: stage 1 is [[ivfPqSearch]]'s (corpus scanned once,
    * pruned candidates only through the shuffle); stage 2's candidate
    * frame is queries·shortlist rows — broadcast-tiny — so the exact
    * pass is one more corpus scan with a broadcast semi-join-shaped
    * prune and NO corpus shuffle; the final window ranks ≤ shortlist
    * rows per query. Output: (query_id, rk, cand_id, cosine). */
  def ivfPqRerank(emb: DataFrame, idCol: String, vecCol: String, m: Int, dim: Int,
                  codebooks: DataFrame, centroidPred: Column, queryPred: Column,
                  k: Int = 5, nprobe: Int = 2, shortlist: Int = 20): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover the final top-$k")
    GraftFunctions.register(emb.sparkSession)
    val cand = ivfPqSearch(emb, idCol, vecCol, m, dim, codebooks,
      centroidPred, queryPred, k = shortlist, nprobe = nprobe)
      .select(col("query_id"), col("cand_id"))
    val corp = emb.select(col(idCol).cast("long").as("cand_id"),
      asDouble(col(vecCol)).as("cvec"))
    val qs = emb.where(queryPred)
      .select(col(idCol).cast("long").as("query_id"),
        asDouble(col(vecCol)).as("qvec"))
      .withColumn("qnorm", sqrt(expr("graft_dot(qvec, qvec)")))
    val scored = corp.join(broadcast(cand), Seq("cand_id"))
      .withColumn("cnorm", sqrt(expr("graft_dot(cvec, cvec)")))
      .join(broadcast(qs), Seq("query_id"))
      .withColumn("cosine", round(fastCosine, 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("cand_id"), col("cosine"))
  }

  /** Label-aware (query, candidate) cosine scoring shared by
    * [[knnClassify]] and [[tripletMine]]: the [[bruteForceTopK]] frame
    * with both sides' labels carried through. Same scale shape — the
    * query stripe broadcasts, the corpus scans once and never shuffles;
    * per-pair cost is one fused `graft_dot` loop. The brute scan is the
    * evaluation baseline; at index scale the same downstream logic runs
    * on [[ivfTopKProbe]] candidates instead. */
  private def labeledScored(emb: DataFrame, idCol: String, vecCol: String,
                            labelCol: String, queryPred: Column): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val corpus = emb.select(col(idCol).as("cand_id"), asDouble(col(vecCol)).as("cvec"),
        col(labelCol).cast("long").as("cand_label"))
      .withColumn("cnorm", sqrt(expr("graft_dot(cvec, cvec)")))
    val queries = emb.where(queryPred)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qvec"),
        col(labelCol).cast("long").as("query_label"))
      .withColumn("qnorm", sqrt(expr("graft_dot(qvec, qvec)")))
    corpus.crossJoin(broadcast(queries))
      .where(col("cand_id") =!= col("query_id"))
      .withColumn("cosine", round(fastCosine, 6))
  }

  /** X2 — k-nearest-neighbor classification over a labeled embedding
    * table (the standard embedding-quality probe: if cosine neighborhoods
    * predict held-out labels, the embedding space is organized; the same
    * vote also serves as a weak-labeler for unlabeled corpus slices).
    * Each query's k nearest candidates vote by label; the majority wins,
    * ties broken by the strongest supporting cosine, then lowest label —
    * every tie-break is explicit so any engine replaying the closed form
    * ranks identically. Output per query: (query_id, true_label,
    * pred_label, n_votes, correct).
    *
    * Scale: neighbor retrieval is the brute baseline here (query stripe
    * broadcast, corpus unshuffled); the vote itself is Q·k rows — dust.
    * Swap [[ivfTopKProbe]] in for the scored frame at index scale. */
  def knnClassify(emb: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, queryPred: Column, k: Int = 10): DataFrame = {
    val scored = labeledScored(emb, idCol, vecCol, labelCol, queryPred)
    val nn = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    val topk = scored.withColumn("rk", row_number().over(nn)).where(col("rk") <= k)
    val votes = topk.groupBy(col("query_id"), col("query_label"), col("cand_label"))
      .agg(count(lit(1)).as("n_votes"), max(col("cosine")).as("best_cos"))
    val vw = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("best_cos").desc, col("cand_label").asc)
    votes.withColumn("vr", row_number().over(vw)).where(col("vr") === 1)
      .select(col("query_id"), col("query_label").as("true_label"),
        col("cand_label").as("pred_label"), col("n_votes"),
        (col("cand_label") === col("query_label")).cast("long").as("correct"))
  }

  /** X2 — hard-triplet mining for contrastive embedding training: for
    * each anchor in the query stripe, the nearest SAME-label candidate
    * (the positive) and the nearest DIFFERENT-label candidate (the hard
    * negative — the most confusable wrong-class point, the pair that
    * carries the gradient signal in triplet/InfoNCE training). `margin`
    * = pos_cos − neg_cos; a negative margin marks an active triplet (the
    * imposter currently outranks the positive). Both extremes fall out
    * of ONE scored frame with a single window partitioned by
    * (anchor, same-label?) — no second corpus pass for the negative.
    *
    * Scale: identical to [[bruteForceTopK]] — the anchor stripe is
    * broadcast, the corpus never shuffles; the window ranks Q·2
    * partitions. At billion-row scale the scored frame is replaced by
    * ANN candidates per anchor (mine hard negatives from the probed
    * cells), which is exactly how production contrastive pipelines run. */
  def tripletMine(emb: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, queryPred: Column): DataFrame = {
    val scored = labeledScored(emb, idCol, vecCol, labelCol, queryPred)
      .withColumn("same", col("cand_label") === col("query_label"))
    val w = Window.partitionBy(col("query_id"), col("same"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    val best = scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
    val pos = best.where(col("same"))
      .select(col("query_id"), col("query_label").as("anchor_label"),
        col("cand_id").as("pos_id"), col("cosine").as("pos_cos"))
    val neg = best.where(!col("same"))
      .select(col("query_id"), col("cand_id").as("neg_id"),
        col("cand_label").as("neg_label"), col("cosine").as("neg_cos"))
    pos.join(neg, Seq("query_id"))
      .withColumn("margin", col("pos_cos") - col("neg_cos"))
  }
}
