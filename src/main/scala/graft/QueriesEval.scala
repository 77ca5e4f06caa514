package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.Tables
import graft.streaming.StreamingOps

/** X8 graph evals, recall-eval stripes, PQ/IVF/OPQ oracles, BM25/RRF.
  *
  * Part of the [[Queries]] registry split (r18): the registry grew past
  * 7k LoC in one file, so its definition blocks moved into CHAINED traits
  * — each extends the previous, preserving the original textual
  * definition order (trait linearization initializes them in chain
  * order), member visibility (`private` → `protected`, still invisible
  * outside the object), and `Queries.all`, which is byte-identical. */
private[graft] trait QueriesEval extends QueriesPipelines {
  /** X8 — HITS hubs & authorities ([[GraphOps.hits]]) on the state
    * transition graph: max-normalized so the per-iteration normalizer is
    * order-exact on both engines; same unrolled-CTE oracle discipline as
    * the PageRank queries. */
  protected val x8Hits = Q("x8_hits_states",
    (s, dir) => GraphOps.hits(x8Edges(s, dir), iters = 5, roundDigits = 8)
      .orderBy(col("authority").desc, col("node")),
    Some {
      // every iteration CTE is MATERIALIZED: unlike the pagerank unroll
      // (2 refs/level → 2^5, tolerable inlined), HITS references each
      // level 4× (araw → max + normalize, authority → hub sum + output),
      // so DuckDB's default CTE inlining expands the events scan 4^5
      // times and the oracle never finishes
      val steps = (1 to 5).map { i =>
        val p = s"h${i - 1}"
        s"""ar$i AS MATERIALIZED (SELECT e.dst AS node, sum(e.w * p.h) AS araw
            FROM e JOIN $p p ON p.node = e.src GROUP BY e.dst),
          am$i AS MATERIALIZED (SELECT max(araw) AS m FROM ar$i),
          a$i AS MATERIALIZED (SELECT n.node, ${proundSql(
            s"coalesce(ar.araw, 0.0) / (SELECT m FROM am$i)", 8)} AS a
            FROM nodes n LEFT JOIN ar$i ar ON ar.node = n.node),
          hr$i AS MATERIALIZED (SELECT e.src AS node, sum(e.w * a.a) AS hraw
            FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
          hm$i AS MATERIALIZED (SELECT max(hraw) AS m FROM hr$i),
          h$i AS MATERIALIZED (SELECT n.node, ${proundSql(
            s"coalesce(hr.hraw, 0.0) / (SELECT m FROM hm$i)", 8)} AS h
            FROM nodes n LEFT JOIN hr$i hr ON hr.node = n.node)"""
      }.mkString(",\n        ")
      s"""WITH $x8EdgeCtes,
        e AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM t
          WHERE dst IS NOT NULL AND src IS NOT NULL GROUP BY src, dst),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        h0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes),
        $steps
        SELECT h5.node, h5.h AS hub, a5.a AS authority
        FROM h5 JOIN a5 ON a5.node = h5.node
        ORDER BY authority DESC, h5.node"""
    },
    eagerPlan = true) // construction materializes each iteration's scores

  /** X8 — per-node triangle counts ([[GraphOps.triangleCounts]]) on the
    * undirected state graph. Spark pivots each triangle at its
    * (degree, id)-minimal node (skew-safe orientation); the oracle
    * enumerates canonical a<b<c id-ordered triangles — same triangle
    * set, so the integer counts agree exactly. */
  protected val x8Tri = Q("x8_triangle_counts",
    (s, dir) => GraphOps.triangleCounts(x8Edges(s, dir))
      .orderBy(col("n_triangles").desc, col("node")),
    Some(s"""WITH $x8EdgeCtes,
        e AS (SELECT src, dst FROM t
          WHERE dst IS NOT NULL AND src IS NOT NULL GROUP BY src, dst),
        c AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM e WHERE src <> dst),
        nodes AS (SELECT DISTINCT node FROM
          (SELECT a AS node FROM c UNION ALL SELECT b FROM c)),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM c e1 JOIN c e2 ON e2.a = e1.b
          JOIN c e3 ON e3.a = e1.a AND e3.b = e2.b),
        corners AS (SELECT x AS node FROM tri UNION ALL
          SELECT y FROM tri UNION ALL SELECT z FROM tri),
        cnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
          FROM corners GROUP BY node)
        SELECT n.node, coalesce(cnt.n_triangles, 0) AS n_triangles
        FROM nodes n LEFT JOIN cnt ON cnt.node = n.node
        ORDER BY n_triangles DESC, n.node"""))

  /** X8 — hop distances from the seed states 0..9
    * ([[GraphOps.hopDistances]]): 5 unrolled Bellman-Ford rounds,
    * all-integer, nodes beyond 5 hops stay NULL. Iteration CTEs are
    * MATERIALIZED (each round is referenced twice — keep + relax). */
  protected val x8Hops = Q("x8_hop_distances",
    (s, dir) => GraphOps.hopDistances(x8Edges(s, dir),
        s.range(0, 10).select(col("id").as("node")), maxHops = 5)
      .orderBy(col("hops").asc_nulls_last, col("node")),
    Some {
      val steps = (1 to 5).map { i =>
        val p = s"d${i - 1}"
        s"""rx$i AS MATERIALIZED (SELECT e.dst AS node,
            min(p.hops) + 1 AS relax
            FROM e JOIN $p p ON p.node = e.src GROUP BY e.dst),
          d$i AS MATERIALIZED (SELECT coalesce(d.node, r.node) AS node,
            least(coalesce(d.hops, r.relax), coalesce(r.relax, d.hops)) AS hops
            FROM $p d FULL OUTER JOIN rx$i r ON r.node = d.node)"""
      }.mkString(",\n        ")
      s"""WITH $x8EdgeCtes,
        e AS MATERIALIZED (SELECT src, dst FROM t
          WHERE dst IS NOT NULL AND src IS NOT NULL GROUP BY src, dst),
        nodes AS MATERIALIZED (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        d0 AS (SELECT node, CAST(0 AS BIGINT) AS hops FROM nodes
          WHERE node < 10),
        $steps
        SELECT n.node, CAST(d.hops AS BIGINT) AS hops
        FROM nodes n LEFT JOIN d5 d ON d.node = n.node
        ORDER BY hops ASC NULLS LAST, n.node"""
    },
    eagerPlan = true) // construction materializes each round's frontier

  /** Shared DuckDB cosine closed form (same fold order as `graft_dot`):
    * used by the labeled-neighbor oracles below. */
  protected def cosSql(q: String, c: String): String =
    s"""round(list_sum(list_transform(range(len($q)), i -> $q[i+1]*$c[i+1]))
        / (sqrt(list_sum(list_transform(range(len($q)), i -> $q[i+1]*$q[i+1])))
         * sqrt(list_sum(list_transform(range(len($c)), i -> $c[i+1]*$c[i+1])))), 6)"""

  /** X2 — kNN label vote over the labeled embedding table: the standard
    * embedding-space quality probe (do cosine neighborhoods predict
    * labels?) doubling as a weak-labeler for unlabeled slices. Majority
    * of the 10 nearest labels; ties broken by strongest supporting
    * cosine then lowest label — all explicit, so both engines rank
    * identically. r16: the query stripe is CAPPED (`vec_id < 2100` —
    * ≤300 queries at any scale, identical at/below sf0.1 for vec_id
    * density 1): the uncapped 1/7 stripe made the eval quadratic in the
    * corpus (the 10× board measured ×7.5) — a real kNN eval probes a
    * FIXED query set against a growing corpus, the same argument as the
    * r15 recall stripes. */
  protected val x2Knn = Q("x2_knn_classify",
    (s, dir) => Similarity.knnClassify(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label",
        pmod(col("vec_id"), lit(7)) === 0 && col("vec_id") < 2100, k = 10)
      .orderBy(col("query_id")),
    Some(s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
          embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e
        WHERE vec_id % 7 = 0 AND vec_id < 2100),
      scored AS (SELECT query_id, qlabel, e.vec_id AS cand_id,
          e.label AS clabel, ${cosSql("qv", "v")} AS cosine
        FROM e CROSS JOIN q WHERE e.vec_id <> query_id),
      topk AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, cand_id ASC) AS rk FROM scored) WHERE rk <= 10),
      votes AS (SELECT query_id, qlabel, clabel, count(*) AS n_votes,
          max(cosine) AS best_cos
        FROM topk GROUP BY query_id, qlabel, clabel),
      win AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY n_votes DESC, best_cos DESC, clabel ASC) AS vr FROM votes)
        WHERE vr = 1)
      SELECT query_id, qlabel AS true_label, clabel AS pred_label,
        CAST(n_votes AS BIGINT) AS n_votes,
        CAST(clabel = qlabel AS BIGINT) AS correct
      FROM win ORDER BY query_id"""))

  /** X2 — hard-triplet mining (anchor, nearest same-label positive,
    * nearest wrong-label hard negative) — the candidate generator for
    * contrastive embedding training; negative `margin` = an active
    * triplet (imposter outranks the positive). One scored frame, one
    * window over (anchor, same-label?). r16: anchor stripe CAPPED
    * (`vec_id < 2100`), same rationale as `x2_knn_classify` — the
    * uncapped 1/7 anchors made mining quadratic (×7.3 at the 10×
    * board); a training loop mines hard negatives for a bounded anchor
    * BATCH against the corpus, not all-pairs. */
  protected val x2Triplet = Q("x2_triplet_mining",
    (s, dir) => Similarity.tripletMine(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label",
        pmod(col("vec_id"), lit(7)) === 3 && col("vec_id") < 2100)
      .orderBy(col("query_id")),
    Some(s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
          embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e
        WHERE vec_id % 7 = 3 AND vec_id < 2100),
      scored AS (SELECT query_id, qlabel, e.vec_id AS cand_id,
          e.label AS clabel, (e.label = qlabel) AS same,
          ${cosSql("qv", "v")} AS cosine
        FROM e CROSS JOIN q WHERE e.vec_id <> query_id),
      best AS (SELECT * FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id, same
          ORDER BY cosine DESC, cand_id ASC) AS rk FROM scored) WHERE rk = 1),
      p AS (SELECT query_id, qlabel AS anchor_label, cand_id AS pos_id,
          cosine AS pos_cos FROM best WHERE same),
      n AS (SELECT query_id, cand_id AS neg_id, clabel AS neg_label,
          cosine AS neg_cos FROM best WHERE NOT same)
      SELECT p.query_id, anchor_label, pos_id, pos_cos, neg_id, neg_label,
        neg_cos, pos_cos - neg_cos AS margin
      FROM p JOIN n USING (query_id) ORDER BY p.query_id"""))

  /** X2 — PQ recall@5 against exact L2 ranking (the compression-loss
    * measurement, sibling of x2_ann_recall/x2_ivf_recall): how much of
    * the true top-5 survives 64-dim → 2-byte quantization. Trains a
    * denser codebook than the train/search queries (seeds %23 → ~22
    * codes per subspace, ~480 product cells) so the measurement reflects
    * a usable operating point rather than the oracle-friendly toy. Exact L2
    * distances round portable-free at 6 digits before ranking (same
    * accepted trade as the cosine recalls). */
  /** Shared dataflow of `x2_pq_recall` (seedCap = 0, the original
    * corpus-proportional %23 seed stripe) and `x2_pq_recall_fixedk`
    * (seedCap > 0, the r20 scale path: codebook cardinality pinned at
    * the operating point). */
  private def pqRecallRun(s: SparkSession, dir: String, seedCap: Long) = {
    val emb = Tables.embeddings(s, dir)
    val qp = cappedStripe(col("vec_id"))
    val sp0 = pmod(col("vec_id"), lit(23)) === 3
    val sp = if (seedCap > 0) sp0 && col("vec_id") < lit(seedCap) else sp0
    // cb is referenced twice inside pqSearch (the encode fold and the ADC
    // distance table) — uncached, each reference replays the 2-iteration
    // Lloyd chain over the corpus (r21; k·dim rows, cache is ~free)
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, dim = 64,
      seedPred = sp, iters = 2).cache()
    val pq = Similarity.pqSearch(emb, "vec_id", "embedding", m = 8, dim = 64,
      codebooks = cb, queryPred = qp, k = 5)
      .select(col("query_id"), col("cand_id"))
    val e = emb.select(col("vec_id").cast("long").as("cand_id"),
      col("embedding").cast("array<double>").as("cv"))
    val q = emb.where(qp).select(col("vec_id").cast("long").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d").asc, col("cand_id").asc)
    val exact = e.crossJoin(broadcast(q))
      .where(col("cand_id") =!= col("query_id"))
      .withColumn("d", round(expr(
        "aggregate(zip_with(cv, qv, (a, b) -> (a-b)*(a-b)), 0D, (acc, x) -> acc + x)"), 6))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
      .select(col("query_id"), col("cand_id"))
    recallOf(exact, pq, k = 5)
  }

  private def pqRecallOracle(seedCap: Long): String =
    s"""${pqOracleCtes(23, 8, seedCap)},
      m1 AS (SELECT sub, cell, i AS pos,
          floor(avg(pv[i+1]) * 1000000.0 + 0.5) / 1000000.0 AS m
        FROM a1, range(8) t(i) GROUP BY sub, cell, i),
      cb AS (SELECT sub, cell, list(m ORDER BY pos) AS cv FROM m1 GROUP BY sub, cell),
      codes AS (SELECT pid, sub, cell AS code FROM (
        SELECT e.pid, e.sub, c.cell,
          row_number() OVER (PARTITION BY e.pid, e.sub ORDER BY
            ((e.pn - 2*${dotSql("pv", "cv")}) + ${dotSql("cv", "cv")}) ASC, c.cell ASC) AS rk
        FROM e JOIN cb c USING (sub)) WHERE rk = 1),
      dt AS (SELECT q.pid AS query_id, q.sub, c.cell AS code,
          ((q.pn - 2*${dotSql("q.pv", "c.cv")}) + ${dotSql("c.cv", "c.cv")}) AS d
        FROM e q JOIN cb c USING (sub) WHERE q.pid % 100 = 0 AND q.pid < 800),
      pqscored AS (SELECT dt.query_id, codes.pid,
          list_sum(list(dt.d ORDER BY dt.sub)) AS adc_dist
        FROM codes JOIN dt ON codes.sub = dt.sub AND codes.code = dt.code
        WHERE codes.pid <> dt.query_id GROUP BY dt.query_id, codes.pid),
      pqrk AS (SELECT query_id, pid AS cand_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist ASC, pid ASC) AS rk FROM pqscored) WHERE rk <= 5),
      q2 AS (SELECT pid AS query_id, v AS qv FROM v
        WHERE pid % 100 = 0 AND pid < 800),
      exscored AS (SELECT query_id, w.pid AS cand_id,
          round(list_sum(list_transform(range(len(w.v)),
            i -> (w.v[i+1]-qv[i+1])*(w.v[i+1]-qv[i+1]))), 6) AS d
        FROM v w CROSS JOIN q2 WHERE w.pid <> query_id),
      exrk AS (SELECT query_id, cand_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY d ASC, cand_id ASC) AS rk FROM exscored) WHERE rk <= 5),
      hits AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM exrk JOIN pqrk USING (query_id, cand_id) GROUP BY query_id),
      qs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
        FROM exrk GROUP BY query_id)
      SELECT qs.query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
        coalesce(n_hits, 0) / CAST(least(n_exact, 5) AS DOUBLE) AS recall
      FROM qs LEFT JOIN hits USING (query_id) ORDER BY query_id"""

  protected val x2PqRecall = Q("x2_pq_recall",
    (s, dir) => pqRecallRun(s, dir, seedCap = 0L),
    Some(pqRecallOracle(0L)))

  /** X2 — `x2_pq_recall` at a SCALE-INVARIANT operating point (r20): the
    * %23 seed stripe additionally capped at id < 5888, pinning the
    * codebook at ≤256 cells per subspace (87 from sf0.1 up, 22 at
    * sf0.01) regardless of corpus size. The original stripe grows the
    * codebook WITH the corpus (2,558 cells/sub at sf3, 7,911 at sf10),
    * which turns every broadcast-assign stage — Lloyd's iterations,
    * encoding, the ADC table — into O(N·cells) ≈ O(N²/23): measured
    * train+search 16.2 s → 67.9 s across sf3 → sf10 for the uncapped
    * stripe vs 5.0 s → 5.5 s FLAT for this operating point (SCALING.md
    * round 20). A PQ codebook is fixed-k by definition (8-bit codes =
    * 256 cells); the uncapped sibling stays as the denser-codebook
    * diagnostic and its own oracle anchor. At the correctness SFs
    * (max vec_id 1999 < 5888) the cap does not bind and the two queries
    * coincide by construction — the hash gate pins the shared dataflow;
    * the divergence is purely the plan's scale behavior. */
  protected val x2PqRecallFixedK = Q("x2_pq_recall_fixedk",
    (s, dir) => pqRecallRun(s, dir, seedCap = 5888L),
    Some(pqRecallOracle(5888L)))

  /** X2 — OPQ-rotation recall A/B ([[graft.ops.Similarity.pcaRotate]] ∘
    * pcaTopK → pqTrain/pqSearch): the measurement the `covarianceMatrix`
    * scaladoc promises — at the SAME code budget (8 sub-codes from
    * ~%23-seeded codebooks), PQ over the top-8 PCA rotation vs plain PQ
    * over the raw 64 dims, recall@5 against exact L2 on the original
    * vectors. The corpus is the embeddings under a deterministic
    * 1/(1+i) per-dim scaling — the DECAYING spectrum real text
    * embeddings have; the raw synthetic embeddings are near-isotropic
    * (flat eigenspectrum, measured λ₁..λ₁₆ ∈ [0.019, 0.022]), where no
    * rotation can help by construction. On the anisotropic shape the
    * gain is large (measured 0.20 → 0.72 mean recall@5 at sf0.01):
    * plain PQ gives subspace 0 (the high-energy dims) the same 22 codes
    * as the noise subspaces, while the rotation re-expresses the energy
    * in 8 decorrelated coordinates that each get their own quantizer —
    * the eigen-allocation argument of Ge et al. 2013 (OPQ). The oracle
    * replays the ENTIRE chain: covariance, 8 deflated power-iteration
    * components, rotation, both PQ trainings, both ADC searches, exact
    * ranking, and the per-query recalls. */
  protected val x2OpqRecall = Q("x2_opq_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"),
        expr("transform(sequence(0, 63), i -> " +
          "element_at(CAST(embedding AS array<double>), i+1) / (1.0D + i))")
          .as("embedding"))
      val qp = cappedStripe(col("vec_id"))
      val sp = pmod(col("vec_id"), lit(23)) === 3
      val e = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").as("cv"))
      val q = emb.where(qp).select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("d").asc, col("cand_id").asc)
      val exact = e.crossJoin(broadcast(q))
        .where(col("cand_id") =!= col("query_id"))
        .withColumn("d", round(expr(
          "aggregate(zip_with(cv, qv, (a, b) -> (a-b)*(a-b)), 0D, (acc, x) -> acc + x)"), 6))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select(col("query_id"), col("cand_id"))
        .cache() // feeds both recallOf sides (r21; queries·5 rows)
      val comps = Similarity.pcaTopK(emb, "embedding", dim = 64, k = 8, iters = 3)
      // r22 fusion (guide §1, the x2_opq_alloc_recall recipe extended to
      // HETEROGENEOUS sub widths): the plain variant slices the raw 64
      // dims at width 8 while the rotated variant slices 8 rotated
      // coords at width 1 — a uniform slicer cannot fuse them (the
      // zero-padding alternative is FP-exact but multiplies the rotated
      // half's O(N·cells) assignment FLOPs by the pad width — measured
      // at-best-tied with the unfused chain at sf1 while this spec
      // slicing won every interleaved pair, REJECTED; see
      // SCALING.md r22). Instead
      // ONE 72-dim frame [raw 64 | rot 8] is sliced by an explicit
      // per-subspace (sub, offset, width) spec: subs 0-7 are the plain
      // variant's width-8 slices, subs 8-15 the rotated variant's
      // width-1 slices — each sub's rows, scan order, and FP folds are
      // IDENTICAL to the separate chains (disjoint (sub,cell,pos)
      // groups; Round22OpsSpec pins train+search equivalence), so ONE
      // pqTrainOver/pqEncodeOver runs both variants' corpus dataflows
      // (rotate+train chains 2→1, encode 2→1) at identical per-row
      // FLOPs, at every scale. The former N×8 cached `rot` frame
      // disappears — the rotation rides each fused scan as a codegen
      // projection (re-scan beats the corpus-sized cache, the r18 rule).
      val fused = Similarity.pcaRotateConcatPadded(emb, "vec_id", "embedding",
        comps, pad = 1) // pad=1 = plain concat, no padded lanes
      val spec = (0 until 8).map(s => (s, s * 8 + 1, 8)) ++
        (0 until 8).map(s => (s + 8, 64 + s + 1, 1))
      val pts = Similarity.subSlicesAt(fused, "vec_id", "fv", spec)
      val seeds = Similarity.subSlicesAt(fused.where(sp), "vec_id", "fv", spec)
      // bounded caches (r21): codebooks ≤ k·(dim+8) coords, codes N×16 longs
      val cb = Similarity.pqTrainOver(pts, seeds, iters = 2).cache()
      val codes = Similarity.pqEncodeOver(pts, cb)
        .cache() // feeds both variants' ADC search
      val qs = Similarity.subSlicesAt(fused.where(qp), "vec_id", "fv", spec)
        .select(col("pid").as("query_id"), col("sub"), col("pv").as("qv"))
      // lo = first fused subspace of the variant (0 = plain over the raw
      // 64 dims, 8 = rotated): subsetting codes+codebooks to subs
      // lo..lo+7 makes the ADC join see exactly the separate variant's
      // rows (sub ids shift by lo but their ASCENDING order — the ADC
      // fold order — is preserved; extra query-slice subspaces drop out
      // in the distance-table join).
      def cand(lo: Int): DataFrame =
        Similarity.pqSearchCodedOver(qs,
          codes.where(col("sub") >= lo && col("sub") < lo + 8),
          cb.where(col("sub") >= lo && col("sub") < lo + 8), k = 5)
          .select(col("query_id"), col("cand_id"))
      recallOf(exact, cand(0), 5)
        .select(col("query_id"), col("recall").as("recall_plain"))
        .join(recallOf(exact, cand(8), 5)
          .select(col("query_id"), col("recall").as("recall_rotated")),
          Seq("query_id"))
        .orderBy(col("query_id"))
    },
    Some {
      val dim = 64; val kComp = 8
      // deflated power-iteration chain: g{c-1} --3 iters--> p{c}3, lam{c},
      // then g{c} = g{c-1} − λ·vvᵀ (portable-rounded), exactly pcaTopK's
      // driver lattice
      def iterCtes(matrix: String, p: String): String = (1 to 3).map { t =>
        val prev = s"$p${t - 1}"
        s"""w_$p$t AS (SELECT m.i, floor(sum(m.cov * vj) * 1000000.0 + 0.5) / 1000000.0 AS wi
            FROM $matrix m JOIN $prev ON m.j = $prev.j GROUP BY m.i),
          n_$p$t AS (SELECT sqrt(sum(wi * wi)) AS nrm FROM w_$p$t),
          $p$t AS (SELECT i AS j, floor(wi / nrm * 1000000.0 + 0.5) / 1000000.0 AS vj
            FROM w_$p$t, n_$p$t)"""
      }.mkString(",\n        ")
      val compCtes = (1 to kComp).map { c =>
        val mat = s"g${c - 1}"; val p = s"p$c"
        val defl = if (c < kComp) s""",
          g$c AS MATERIALIZED (SELECT m.i, m.j,
              floor((m.cov - lam * a.vj * b.vj) * 1000000.0 + 0.5) / 1000000.0 AS cov
            FROM $mat m JOIN ${p}3 a ON m.i = a.j JOIN ${p}3 b ON m.j = b.j
            CROSS JOIN lam$c)""" else ""
        s"""${p}0 AS (SELECT i AS j, 1.0 AS vj FROM range($dim) t(i)),
          ${iterCtes(mat, p)},
          lam$c AS (SELECT floor(sum(m.cov * a.vj * b.vj) * 1000000.0 + 0.5)
              / 1000000.0 AS lam
            FROM $mat m JOIN ${p}3 a ON m.i = a.j JOIN ${p}3 b ON m.j = b.j)$defl"""
      }.mkString(",\n        ")
      val pcCtes = (1 to kComp).map(c =>
        s"pc$c AS (SELECT list(vj ORDER BY j) AS pc FROM p${c}3)").mkString(",\n        ")
      val rotScores = (1 to kComp).map(c =>
        s"floor(${dotSql("v.v", s"pc$c.pc")} * 1000000.0 + 0.5) / 1000000.0")
        .mkString("[", ", ", "]")
      val rotJoin = (1 to kComp).map(c => s"CROSS JOIN pc$c").mkString(" ")
      // PQ train→encode→ADC replay over a source CTE (pid, v)
      def pqCtes(pfx: String, src: String, d: Int, m: Int): String = {
        val subd = d / m
        val dpc = dotSql("pv", "cv"); val dcc = dotSql("cv", "cv")
        def distRk(cents: String) =
          s"""SELECT pid, sub, pv, pn, cell FROM (
            SELECT e.pid, e.sub, e.pv, e.pn, c.cell,
              row_number() OVER (PARTITION BY e.pid, e.sub ORDER BY
                ((e.pn - 2*$dpc) + $dcc) ASC, c.cell ASC) AS rk
            FROM ${pfx}e e JOIN $cents c USING (sub)) WHERE rk = 1"""
        s"""${pfx}e0 AS (SELECT pid, s AS sub, v[s*$subd+1 : s*$subd+$subd] AS pv
            FROM $src, range($m) t(s)),
          ${pfx}e AS (SELECT pid, sub, pv, ${dotSql("pv", "pv")} AS pn FROM ${pfx}e0),
          ${pfx}c0 AS (SELECT sub, CAST(pid AS BIGINT) AS cell, pv AS cv
            FROM ${pfx}e0 WHERE pid % 23 = 3),
          ${pfx}a0 AS (${distRk(s"${pfx}c0")}),
          ${pfx}m0 AS (SELECT sub, cell, i AS pos,
              floor(avg(pv[i+1]) * 1000000.0 + 0.5) / 1000000.0 AS m
            FROM ${pfx}a0, range($subd) t(i) GROUP BY sub, cell, i),
          ${pfx}c1 AS (SELECT sub, cell, list(m ORDER BY pos) AS cv
            FROM ${pfx}m0 GROUP BY sub, cell),
          ${pfx}a1 AS (${distRk(s"${pfx}c1")}),
          ${pfx}m1 AS (SELECT sub, cell, i AS pos,
              floor(avg(pv[i+1]) * 1000000.0 + 0.5) / 1000000.0 AS m
            FROM ${pfx}a1, range($subd) t(i) GROUP BY sub, cell, i),
          ${pfx}cb AS (SELECT sub, cell, list(m ORDER BY pos) AS cv
            FROM ${pfx}m1 GROUP BY sub, cell),
          ${pfx}codes AS (SELECT pid, sub, cell AS code FROM (
            SELECT e.pid, e.sub, c.cell,
              row_number() OVER (PARTITION BY e.pid, e.sub ORDER BY
                ((e.pn - 2*$dpc) + $dcc) ASC, c.cell ASC) AS rk
            FROM ${pfx}e e JOIN ${pfx}cb c USING (sub)) WHERE rk = 1),
          ${pfx}dt AS (SELECT q.pid AS query_id, q.sub, c.cell AS code,
              ((q.pn - 2*${dotSql("q.pv", "c.cv")}) + ${dotSql("c.cv", "c.cv")}) AS d
            FROM ${pfx}e q JOIN ${pfx}cb c USING (sub)
            WHERE q.pid % 100 = 0 AND q.pid < 800),
          ${pfx}sc AS (SELECT dt.query_id, codes.pid,
              list_sum(list(dt.d ORDER BY dt.sub)) AS adc_dist
            FROM ${pfx}codes codes JOIN ${pfx}dt dt
              ON codes.sub = dt.sub AND codes.code = dt.code
            WHERE codes.pid <> dt.query_id GROUP BY dt.query_id, codes.pid),
          ${pfx}rk AS (SELECT query_id, pid AS cand_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adc_dist ASC, pid ASC) AS rk FROM ${pfx}sc) WHERE rk <= 5)"""
      }
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS pid,
          list_transform(range(64), i -> (embedding::DOUBLE[])[i+1] / (1.0 + i)) AS v
          FROM embeddings),
        p AS (SELECT i, j, v[i+1] AS x, v[j+1] AS y
          FROM v, range($dim) a(i), range($dim) b(j) WHERE i <= j),
        up AS MATERIALIZED (SELECT i, j,
            floor(((sum(x*y) - sum(x)*sum(y)/count(*)) / count(*)) * 1000000.0 + 0.5)
              / 1000000.0 AS cov
          FROM p GROUP BY i, j),
        g0 AS MATERIALIZED (SELECT i, j, cov FROM up
               UNION ALL SELECT j AS i, i AS j, cov FROM up WHERE i <> j),
        $compCtes,
        $pcCtes,
        rot AS MATERIALIZED (SELECT pid, $rotScores AS v FROM v $rotJoin),
        ${pqCtes("pl", "v", 64, 8)},
        ${pqCtes("ro", "rot", 8, 8)},
        q2 AS (SELECT pid AS query_id, v AS qv FROM v
          WHERE pid % 100 = 0 AND pid < 800),
        exsc AS (SELECT query_id, w.pid AS cand_id,
            round(list_sum(list_transform(range(len(w.v)),
              i -> (w.v[i+1]-qv[i+1])*(w.v[i+1]-qv[i+1]))), 6) AS d
          FROM v w CROSS JOIN q2 WHERE w.pid <> query_id),
        exrk AS (SELECT query_id, cand_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY d ASC, cand_id ASC) AS rk FROM exsc) WHERE rk <= 5),
        qs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
          FROM exrk GROUP BY query_id),
        ph AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM exrk JOIN plrk USING (query_id, cand_id) GROUP BY query_id),
        rh AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM exrk JOIN rork USING (query_id, cand_id) GROUP BY query_id)
        SELECT qs.query_id,
          coalesce(ph.n_hits, 0) / CAST(least(qs.n_exact, 5) AS DOUBLE)
            AS recall_plain,
          coalesce(rh.n_hits, 0) / CAST(least(qs.n_exact, 5) AS DOUBLE)
            AS recall_rotated
        FROM qs LEFT JOIN ph USING (query_id) LEFT JOIN rh USING (query_id)
        ORDER BY qs.query_id"""
    },
    eagerPlan = true) // the pcaTopK training inside collects the covariance

  /** X2 — OPQ eigenvalue-ALLOCATION A/B
    * ([[graft.ops.Similarity.opqAllocate]], Ge et al. 2013 §3.3 — the
    * second half of the parametric OPQ solution `x2_opq_recall`'s
    * rotation started): naive descending-order PCA hands subspace 0 the
    * two largest eigenvalues and the last subspace pure noise; the
    * greedy variance-product balancing (= the zig-zag pairing
    * (λ1,λ8)(λ2,λ7)(λ3,λ6)(λ4,λ5) at subd=2 over a descending
    * spectrum) re-orders the SAME 8 rotated coordinates so every m=4
    * sub-quantizer prices comparable energy. Reports per-query recall@5
    * vs exact 64-dim L2 for both orders AND the total quantization
    * error ‖X−X̂‖² per variant (the paper's objective — measured 0.890 →
    * 0.548 at sf0.01, a 38 % cut at the same code budget; recall@5 over
    * the 5-query stripe is a coarser signal). The non-parametric
    * alternation ([[graft.ops.Similarity.opqRefine]]) is deliberately
    * NOT in this chain: on Gaussian-like data the parametric solution
    * is already optimal (§3.3) and the decaying spectrum squares into
    * MᵀM's condition number — spec-gated on its operating domain
    * instead (Round15OpsSpec). The oracle replays the full chain:
    * covariance → 8 deflated components → both coordinate orders → both
    * PQ trainings → reconstructions and error sums → both ADC searches
    * → exact ranking. */
  protected val x2OpqAlloc = Q("x2_opq_alloc_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"),
        expr("transform(sequence(0, 63), i -> " +
          "element_at(CAST(embedding AS array<double>), i+1) / (1.0D + i))")
          .as("embedding"))
      val qp = cappedStripe(col("vec_id"))
      val sp = pmod(col("vec_id"), lit(23)) === 3
      val e = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").as("cv"))
      val q = emb.where(qp).select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("d").asc, col("cand_id").asc)
      val exact = e.crossJoin(broadcast(q))
        .where(col("cand_id") =!= col("query_id"))
        .withColumn("d", round(expr(
          "aggregate(zip_with(cv, qv, (a, b) -> (a-b)*(a-b)), 0D, (acc, x) -> acc + x)"), 6))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select(col("query_id"), col("cand_id"))
        .cache() // feeds both recallOf sides (r21; queries·5 rows)
      val comps = Similarity.pcaTopK(emb, "embedding", dim = 64, k = 8, iters = 3)
      // r22 fusion (guide §1 — do the corpus work once): the two variants
      // are the SAME m=4/dim=8 PQ over two rotations of one corpus, so
      // relabel the allocated components to comp 9..16, union the
      // component tables, and ONE pcaRotate yields a 16-dim frame whose
      // dim-pairs 0-3 ARE the PCA-order variant and 4-7 the allocated
      // variant (pcaRotate orders the broadcast pcs array by comp; each
      // score is the same per-row rounded dot as the separate rotations).
      // ONE pqTrain (m=8, dim=16, subd still 2) then trains BOTH codebook
      // sets — per (sub, cell, pos) group the contributing rows and their
      // scan order are identical to the two separate m=4 trainings, the
      // groups are disjoint (subs 0-3 vs 4-7), and seeds are the same
      // vec_id%23 slices — and ONE pqEncode codes both. Corpus passes:
      // rotate 2→1, train 2→1, encode 4→1 (search and error now share
      // the coded corpus via pqSearchCoded) at EVERY scale.
      val compsBoth = comps.unionByName(
        Similarity.opqAllocate(comps, m = 4)
          .select((col("comp").cast("long") + lit(8L)).as("comp"), col("i"),
            col("loading"), col("eigenvalue")))
      val rotC = Similarity.pcaRotate(emb, "vec_id", "embedding", compsBoth)
        .cache()
      val cb = Similarity.pqTrain(rotC, "vec_id", "rv", m = 8, dim = 16,
        seedPred = sp, iters = 2).cache()
      val codes = Similarity.pqEncode(rotC, "vec_id", "rv", m = 8, dim = 16, cb)
        .cache() // feeds both variants' search AND reconstruction error
      // lo = first fused subspace of the variant (0 = PCA order, 4 =
      // allocated): subsetting codes+codebooks to subs lo..lo+3 makes the
      // ADC join and the decode see exactly the separate variant's rows
      // (sub ids shift by lo but their ASCENDING order — the ADC fold
      // order and the decode concat order — is preserved).
      def variant(lo: Int): (DataFrame, DataFrame) = {
        val cbV = cb.where(col("sub") >= lo && col("sub") < lo + 4)
        val codesV = codes.where(col("sub") >= lo && col("sub") < lo + 4)
        val cand = Similarity.pqSearchCoded(rotC, "vec_id", "rv", m = 8,
          dim = 16, codesV, cbV, queryPred = qp, k = 5)
          .select(col("query_id"), col("cand_id"))
        val xh = Similarity.pqDecode(codesV, cbV)
        val err = rotC.select(col("vec_id").cast("long").as("pid"),
            expr(s"slice(rv, ${2 * lo + 1}, 8)").as("rv"))
          .join(xh, Seq("pid"))
          .select(expr("aggregate(zip_with(rv, xhat, (a, b) -> (a-b)*(a-b)), " +
            "0D, (acc, x) -> acc + x)").as("e"))
          // 4-digit rounding for the cross-row error SUM: at 6 digits the
          // engines' partial-sum orders measurably hit a lattice boundary
          // (sf0.1: 0.981761 vs 0.98176); the per-row folds stay exact
          .agg((floor(sum(col("e")) * lit(10000.0) + lit(0.5)) / lit(10000.0))
            .as("err"))
        (cand, err)
      }
      val (candP, errP) = variant(0)
      val (candA, errA) = variant(4)
      recallOf(exact, candP, 5)
        .select(col("query_id"), col("recall").as("recall_pca"))
        .join(recallOf(exact, candA, 5)
          .select(col("query_id"), col("recall").as("recall_alloc")),
          Seq("query_id"))
        .crossJoin(broadcast(errP.select(col("err").as("err_pca"))))
        .crossJoin(broadcast(errA.select(col("err").as("err_alloc"))))
        .orderBy(col("query_id"))
    },
    Some {
      val dim = 64; val kComp = 8
      // the x2_opq_recall builder chain, extended with the allocated
      // coordinate order + per-variant reconstruction error
      def iterCtes(matrix: String, p: String): String = (1 to 3).map { t =>
        val prev = s"$p${t - 1}"
        s"""w_$p$t AS (SELECT m.i, floor(sum(m.cov * vj) * 1000000.0 + 0.5) / 1000000.0 AS wi
            FROM $matrix m JOIN $prev ON m.j = $prev.j GROUP BY m.i),
          n_$p$t AS (SELECT sqrt(sum(wi * wi)) AS nrm FROM w_$p$t),
          $p$t AS (SELECT i AS j, floor(wi / nrm * 1000000.0 + 0.5) / 1000000.0 AS vj
            FROM w_$p$t, n_$p$t)"""
      }.mkString(",\n        ")
      val compCtes = (1 to kComp).map { c =>
        val mat = s"g${c - 1}"; val p = s"p$c"
        val defl = if (c < kComp) s""",
          g$c AS MATERIALIZED (SELECT m.i, m.j,
              floor((m.cov - lam * a.vj * b.vj) * 1000000.0 + 0.5) / 1000000.0 AS cov
            FROM $mat m JOIN ${p}3 a ON m.i = a.j JOIN ${p}3 b ON m.j = b.j
            CROSS JOIN lam$c)""" else ""
        s"""${p}0 AS (SELECT i AS j, 1.0 AS vj FROM range($dim) t(i)),
          ${iterCtes(mat, p)},
          lam$c AS (SELECT floor(sum(m.cov * a.vj * b.vj) * 1000000.0 + 0.5)
              / 1000000.0 AS lam
            FROM $mat m JOIN ${p}3 a ON m.i = a.j JOIN ${p}3 b ON m.j = b.j)$defl"""
      }.mkString(",\n        ")
      val pcCtes = (1 to kComp).map(c =>
        s"pc$c AS (SELECT list(vj ORDER BY j) AS pc FROM p${c}3)").mkString(",\n        ")
      def rotScores(order: Seq[Int]): String = order.map(c =>
        s"floor(${dotSql("v.v", s"pc$c.pc")} * 1000000.0 + 0.5) / 1000000.0")
        .mkString("[", ", ", "]")
      val rotJoin = (1 to kComp).map(c => s"CROSS JOIN pc$c").mkString(" ")
      // greedy variance-product balancing over a DESCENDING spectrum at
      // subd=2 is exactly the zig-zag pairing — a static coordinate
      // order (the realized eigenvalue order is descending on this
      // fixture; a violation would surface as a hash mismatch)
      val allocOrder = Seq(1, 8, 2, 7, 3, 6, 4, 5)
      def pqCtes(pfx: String, src: String, d: Int, m: Int): String = {
        val subd = d / m
        val dpc = dotSql("pv", "cv"); val dcc = dotSql("cv", "cv")
        def distRk(cents: String) =
          s"""SELECT pid, sub, pv, pn, cell FROM (
            SELECT e.pid, e.sub, e.pv, e.pn, c.cell,
              row_number() OVER (PARTITION BY e.pid, e.sub ORDER BY
                ((e.pn - 2*$dpc) + $dcc) ASC, c.cell ASC) AS rk
            FROM ${pfx}e e JOIN $cents c USING (sub)) WHERE rk = 1"""
        s"""${pfx}e0 AS (SELECT pid, s AS sub, v[s*$subd+1 : s*$subd+$subd] AS pv
            FROM $src, range($m) t(s)),
          ${pfx}e AS (SELECT pid, sub, pv, ${dotSql("pv", "pv")} AS pn FROM ${pfx}e0),
          ${pfx}c0 AS (SELECT sub, CAST(pid AS BIGINT) AS cell, pv AS cv
            FROM ${pfx}e0 WHERE pid % 23 = 3),
          ${pfx}a0 AS (${distRk(s"${pfx}c0")}),
          ${pfx}m0 AS (SELECT sub, cell, i AS pos,
              floor(avg(pv[i+1]) * 1000000.0 + 0.5) / 1000000.0 AS m
            FROM ${pfx}a0, range($subd) t(i) GROUP BY sub, cell, i),
          ${pfx}c1 AS (SELECT sub, cell, list(m ORDER BY pos) AS cv
            FROM ${pfx}m0 GROUP BY sub, cell),
          ${pfx}a1 AS (${distRk(s"${pfx}c1")}),
          ${pfx}m1 AS (SELECT sub, cell, i AS pos,
              floor(avg(pv[i+1]) * 1000000.0 + 0.5) / 1000000.0 AS m
            FROM ${pfx}a1, range($subd) t(i) GROUP BY sub, cell, i),
          ${pfx}cb AS (SELECT sub, cell, list(m ORDER BY pos) AS cv
            FROM ${pfx}m1 GROUP BY sub, cell),
          ${pfx}codes AS (SELECT pid, sub, cell AS code FROM (
            SELECT e.pid, e.sub, c.cell,
              row_number() OVER (PARTITION BY e.pid, e.sub ORDER BY
                ((e.pn - 2*$dpc) + $dcc) ASC, c.cell ASC) AS rk
            FROM ${pfx}e e JOIN ${pfx}cb c USING (sub)) WHERE rk = 1),
          ${pfx}xhat AS (SELECT codes.pid, flatten(list(cv ORDER BY codes.sub)) AS xh
            FROM ${pfx}codes codes JOIN ${pfx}cb cb
              ON codes.sub = cb.sub AND codes.code = cb.cell
            GROUP BY codes.pid),
          ${pfx}err AS (SELECT floor(sum(list_sum(list_transform(range($d),
                i -> (s.v[i+1] - xh[i+1]) * (s.v[i+1] - xh[i+1])))) * 10000.0 + 0.5)
              / 10000.0 AS err
            FROM $src s JOIN ${pfx}xhat x ON s.pid = x.pid),
          ${pfx}dt AS (SELECT q.pid AS query_id, q.sub, c.cell AS code,
              ((q.pn - 2*${dotSql("q.pv", "c.cv")}) + ${dotSql("c.cv", "c.cv")}) AS d
            FROM ${pfx}e q JOIN ${pfx}cb c USING (sub)
            WHERE q.pid % 100 = 0 AND q.pid < 800),
          ${pfx}sc AS (SELECT dt.query_id, codes.pid,
              list_sum(list(dt.d ORDER BY dt.sub)) AS adc_dist
            FROM ${pfx}codes codes JOIN ${pfx}dt dt
              ON codes.sub = dt.sub AND codes.code = dt.code
            WHERE codes.pid <> dt.query_id GROUP BY dt.query_id, codes.pid),
          ${pfx}rk AS (SELECT query_id, pid AS cand_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adc_dist ASC, pid ASC) AS rk FROM ${pfx}sc) WHERE rk <= 5)"""
      }
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS pid,
          list_transform(range(64), i -> (embedding::DOUBLE[])[i+1] / (1.0 + i)) AS v
          FROM embeddings),
        p AS (SELECT i, j, v[i+1] AS x, v[j+1] AS y
          FROM v, range($dim) a(i), range($dim) b(j) WHERE i <= j),
        up AS MATERIALIZED (SELECT i, j,
            floor(((sum(x*y) - sum(x)*sum(y)/count(*)) / count(*)) * 1000000.0 + 0.5)
              / 1000000.0 AS cov
          FROM p GROUP BY i, j),
        g0 AS MATERIALIZED (SELECT i, j, cov FROM up
               UNION ALL SELECT j AS i, i AS j, cov FROM up WHERE i <> j),
        $compCtes,
        $pcCtes,
        rotp AS MATERIALIZED (SELECT pid, ${rotScores(1 to kComp)} AS v FROM v $rotJoin),
        rota AS MATERIALIZED (SELECT pid, ${rotScores(allocOrder)} AS v FROM v $rotJoin),
        ${pqCtes("pp", "rotp", 8, 4)},
        ${pqCtes("aa", "rota", 8, 4)},
        q2 AS (SELECT pid AS query_id, v AS qv FROM v
          WHERE pid % 100 = 0 AND pid < 800),
        exsc AS (SELECT query_id, w.pid AS cand_id,
            round(list_sum(list_transform(range(len(w.v)),
              i -> (w.v[i+1]-qv[i+1])*(w.v[i+1]-qv[i+1]))), 6) AS d
          FROM v w CROSS JOIN q2 WHERE w.pid <> query_id),
        exrk AS (SELECT query_id, cand_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY d ASC, cand_id ASC) AS rk FROM exsc) WHERE rk <= 5),
        qs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
          FROM exrk GROUP BY query_id),
        pph AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM exrk JOIN pprk USING (query_id, cand_id) GROUP BY query_id),
        aah AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM exrk JOIN aark USING (query_id, cand_id) GROUP BY query_id)
        SELECT qs.query_id,
          coalesce(pph.n_hits, 0) / CAST(least(qs.n_exact, 5) AS DOUBLE)
            AS recall_pca,
          coalesce(aah.n_hits, 0) / CAST(least(qs.n_exact, 5) AS DOUBLE)
            AS recall_alloc,
          pperr.err AS err_pca, aaerr.err AS err_alloc
        FROM qs LEFT JOIN pph USING (query_id) LEFT JOIN aah USING (query_id)
        CROSS JOIN pperr CROSS JOIN aaerr
        ORDER BY qs.query_id"""
    },
    eagerPlan = true) // pcaTopK + opqAllocate collect bounded artifacts

  /** X2 — one NON-PARAMETRIC OPQ alternation, oracle-gated
    * ([[graft.ops.Similarity.opqRefine]], Ge et al. 2013 §4 — the
    * completion of the r14-r16 OPQ arc: rotation → allocation →
    * alternation). Fixture: a deterministic CORRELATED 8-dim view of the
    * embeddings (dims 4-7 mix 0.9/0.8/0.7/0.6 of dims 0-3 with 0.6 fresh
    * signal — cross-subspace correlation at the m=4 cuts, the op's
    * documented operating domain; the coefficients differ per pair so
    * the spectrum has no degenerate eigenvalues to stall the deflation).
    * Baseline = plain descending top-8 PCA rotation (NOT the allocation:
    * opqAllocate's greedy permutation depends on the REALIZED eigenvalue
    * order, which flips between near-equal λ3/λ4 across scale factors on
    * this fixture — measured at sf0.001 — so a static oracle cannot
    * replay it; the allocation is priced on its own well-separated
    * fixture in `x2_opq_alloc_recall`). The NP step then trains a PQ on
    * the rotated frame, solves the orthogonal Procrustes polar factor
    * R = M(MᵀM)^(-1/2) against the reconstructions (powerIters=12
    * rounded fixed-iteration eigensolve — the oracle-replayable
    * lattice), re-rotates, retrains, and reports per-query recall@5 +
    * total quantization error for BOTH sides. The oracle replays the
    * full chain:
    * covariance → 8 deflated components → rotation → PQ train/encode/
    * decode → M = XᵀX̂ → S = MᵀM → 8-component rounded eigensolve →
    * S^(-1/2) → R → re-rotation → second PQ training → both ADC
    * searches + error sums → exact ranking. Driver-side reductions
    * (S, Rayleigh, S^(-1/2), R) replay with ORDER-PINNED list folds —
    * the Scala loops sum in deterministic index order, so the SQL must
    * too — and the whole chain trains with `latticeMeans` (bit-
    * deterministic codebook means; the classic `pr(avg)` measurably
    * landed one lattice step apart between engines on this rotated —
    * lattice-valued — frame, 51/500 reconstructions off at sf0.001).
    * Measured err_pca → err_np: sf0.01 5.1761 → 5.0911, sf0.1 5.9057 →
    * 5.8221 — the alternation improves its training objective on its
    * operating domain; at sf0.001 (50-vector cells) 5.8375 → 5.8615,
    * inside retraining noise — the r15 finding that strict monotonicity
    * does not survive re-seeded codebooks stands (Round15OpsSpec pins
    * the FIXED-reconstruction objective non-increase instead). */
  protected val x2OpqNp = Q("x2_opq_refine_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), expr(
        "transform(sequence(0, 7), i -> CASE WHEN i < 4 THEN " +
          "element_at(CAST(embedding AS array<double>), i+1) ELSE " +
          "(0.9D - 0.1D * (i-4)) * element_at(CAST(embedding AS array<double>), i-3) + " +
          "0.6D * element_at(CAST(embedding AS array<double>), i+1) END)")
        .as("embedding"))
      val qp = cappedStripe(col("vec_id"))
      val sp = pmod(col("vec_id"), lit(23)) === 3
      val e = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").as("cv"))
      val q = emb.where(qp).select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("d").asc, col("cand_id").asc)
      val exact = e.crossJoin(broadcast(q))
        .where(col("cand_id") =!= col("query_id"))
        .withColumn("d", round(expr(
          "aggregate(zip_with(cv, qv, (a, b) -> (a-b)*(a-b)), 0D, (acc, x) -> acc + x)"), 6))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select(col("query_id"), col("cand_id"))
        .cache() // feeds both recallOf sides (r21; queries·5 rows)
      val comps = Similarity.pcaTopK(emb, "embedding", dim = 8, k = 8, iters = 6)
      // r21: rotP feeds variant() (4 consumers) AND opqRefine's internal
      // train/encode/decode/M chain; rotN feeds variant() — cached, each
      // chain replays once instead of per consumer (N×8 doubles)
      val rotP = Similarity.pcaRotate(emb, "vec_id", "embedding", comps).cache()
      // r22 fusion (guide §1): variant()'s codebook chain is IDENTICAL to
      // the one opqRefine re-ran internally (same corpus, m, dim, seeds,
      // iters, latticeMeans) — train/encode/decode ONCE per rotation and
      // feed the reconstruction to the Procrustes solve directly; the
      // search prices its ADC from the same coded corpus (pqSearchCoded)
      // instead of re-encoding. Corpus passes per rotation: train 2→1
      // chains, encode 3→1 (search + error + M all read `codes`).
      def variant(rot: DataFrame): (DataFrame, DataFrame, DataFrame) = {
        // latticeMeans: this chain's codebooks feed opqRefine's floored
        // Procrustes reduction — the mean must be bit-deterministic
        val cb = Similarity.pqTrain(rot, "vec_id", "rv", m = 4, dim = 8,
          seedPred = sp, iters = 2, latticeMeans = true).cache()
        val codes = Similarity.pqEncode(rot, "vec_id", "rv", m = 4, dim = 8, cb)
          .cache()
        val cand = Similarity.pqSearchCoded(rot, "vec_id", "rv", m = 4, dim = 8,
          codes, cb, queryPred = qp, k = 5)
          .select(col("query_id"), col("cand_id"))
        val xh = Similarity.pqDecode(codes, cb)
        // ORDER-INDEPENDENT error sum: each per-row error (bit-exact
        // cross-engine) rounds onto the 1e-6 integer lattice first, the
        // integers sum exactly (no FP partial-sum order), one division
        // renders the total. The alloc query's round-the-raw-sum-at-1e4
        // discipline measurably hit a half-boundary here at sf0.1
        // (5.82255: spark 5.8225 vs duckdb 5.8226).
        val err = rot.select(col("vec_id").cast("long").as("pid"), col("rv"))
          .join(xh, Seq("pid"))
          .select(expr("aggregate(zip_with(rv, xhat, (a, b) -> (a-b)*(a-b)), " +
            "0D, (acc, x) -> acc + x)").as("e"))
          .agg((sum(floor(col("e") * lit(1000000.0) + lit(0.5)).cast("long"))
            .cast("double") / lit(1000000.0)).as("err"))
        (cand, err, xh)
      }
      val (candP, errP, xhP) = variant(rotP)
      val r = Similarity.opqRefineFromReconstruction(rotP, "vec_id", "rv", xhP,
        dim = 8, powerIters = 12)
      val rotN = Similarity.pcaRotate(rotP, "vec_id", "rv", r).cache()
      val (candN, errN, _) = variant(rotN)
      recallOf(exact, candP, 5)
        .select(col("query_id"), col("recall").as("recall_pca"))
        .join(recallOf(exact, candN, 5)
          .select(col("query_id"), col("recall").as("recall_np")),
          Seq("query_id"))
        .crossJoin(broadcast(errP.select(col("err").as("err_pca"))))
        .crossJoin(broadcast(errN.select(col("err").as("err_np"))))
        .orderBy(col("query_id"))
    },
    Some {
      val dim = 8; val kComp = 8
      // plain-sum power-iteration triplets (the proven x2_opq_recall
      // lattice) for the PCA side; ORDER-PINNED list-fold triplets for
      // the NP side (new reduction shapes get the exact driver order)
      // every iterate CTE is MATERIALIZED: DuckDB inlines plain CTEs, so a
      // 6/12-deep chain whose levels reference the previous one more than
      // once re-evaluates exponentially (the pcaTopKCtes 276s lesson,
      // squared — measured: the unmaterialized 12-iter chain ran >16 min)
      def iterCtes(matrix: String, p: String, n: Int): String = (1 to n).map { t =>
        val prev = s"$p${t - 1}"
        s"""w_$p$t AS (SELECT m.i, floor(sum(m.cov * vj) * 1000000.0 + 0.5) / 1000000.0 AS wi
            FROM $matrix m JOIN $prev ON m.j = $prev.j GROUP BY m.i),
          n_$p$t AS (SELECT sqrt(sum(wi * wi)) AS nrm FROM w_$p$t),
          $p$t AS MATERIALIZED (SELECT i AS j, floor(wi / nrm * 1000000.0 + 0.5) / 1000000.0 AS vj
            FROM w_$p$t, n_$p$t)"""
      }.mkString(",\n        ")
      def iterCtesOrdered(matrix: String, p: String, n: Int): String = (1 to n).map { t =>
        val prev = s"$p${t - 1}"
        s"""w_$p$t AS (SELECT m.i,
              floor(list_sum(list(m.cov * vj ORDER BY m.j)) * 1000000.0 + 0.5)
                / 1000000.0 AS wi
            FROM $matrix m JOIN $prev ON m.j = $prev.j GROUP BY m.i),
          n_$p$t AS (SELECT sqrt(list_sum(list(wi * wi ORDER BY i))) AS nrm FROM w_$p$t),
          $p$t AS MATERIALIZED (SELECT i AS j, floor(wi / nrm * 1000000.0 + 0.5) / 1000000.0 AS vj
            FROM w_$p$t, n_$p$t)"""
      }.mkString(",\n        ")
      def eigChain(g0: String, pfx: String, n: Int, ordered: Boolean): String =
        (1 to kComp).map { c =>
          val mat = if (c == 1) g0 else s"${pfx}g${c - 1}"
          val p = s"$pfx$c"
          val lamExpr =
            if (ordered)
              s"floor(list_sum(list(m.cov * a.vj * b.vj ORDER BY m.i, m.j)) * 1000000.0 + 0.5) / 1000000.0"
            else
              s"floor(sum(m.cov * a.vj * b.vj) * 1000000.0 + 0.5) / 1000000.0"
          val defl = if (c < kComp) s""",
          ${pfx}g$c AS MATERIALIZED (SELECT m.i, m.j,
              floor((m.cov - lam * a.vj * b.vj) * 1000000.0 + 0.5) / 1000000.0 AS cov
            FROM $mat m JOIN $p$n a ON m.i = a.j JOIN $p$n b ON m.j = b.j
            CROSS JOIN ${pfx}lam$c)""" else ""
          s"""${p}0 AS (SELECT i AS j, 1.0 AS vj FROM range($dim) t(i)),
          ${if (ordered) iterCtesOrdered(mat, p, n) else iterCtes(mat, p, n)},
          ${pfx}lam$c AS (SELECT $lamExpr AS lam
            FROM $mat m JOIN $p$n a ON m.i = a.j JOIN $p$n b ON m.j = b.j)$defl"""
        }.mkString(",\n        ")
      val pcCtes = (1 to kComp).map(c =>
        s"pc$c AS (SELECT list(vj ORDER BY j) AS pc FROM pp${c}6)").mkString(",\n        ")
      val rotScores = (1 to kComp).map(c =>
        s"floor(${dotSql("v.v", s"pc$c.pc")} * 1000000.0 + 0.5) / 1000000.0")
        .mkString("[", ", ", "]")
      val rotJoin = (1 to kComp).map(c => s"CROSS JOIN pc$c").mkString(" ")
      def pqCtes(pfx: String, src: String, d: Int, m: Int): String = {
        val subd = d / m
        val dpc = dotSql("pv", "cv"); val dcc = dotSql("cv", "cv")
        def distRk(cents: String) =
          s"""SELECT pid, sub, pv, pn, cell FROM (
            SELECT e.pid, e.sub, e.pv, e.pn, c.cell,
              row_number() OVER (PARTITION BY e.pid, e.sub ORDER BY
                ((e.pn - 2*$dpc) + $dcc) ASC, c.cell ASC) AS rk
            FROM ${pfx}e e JOIN $cents c USING (sub)) WHERE rk = 1"""
        s"""${pfx}e0 AS (SELECT pid, s AS sub, v[s*$subd+1 : s*$subd+$subd] AS pv
            FROM $src, range($m) t(s)),
          ${pfx}e AS (SELECT pid, sub, pv, ${dotSql("pv", "pv")} AS pn FROM ${pfx}e0),
          ${pfx}c0 AS (SELECT sub, CAST(pid AS BIGINT) AS cell, pv AS cv
            FROM ${pfx}e0 WHERE pid % 23 = 3),
          ${pfx}a0 AS (${distRk(s"${pfx}c0")}),
          ${pfx}m0 AS (SELECT sub, cell, i AS pos,
              floor(CAST(sum(CAST(floor(pv[i+1] * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                / count(*) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS m
            FROM ${pfx}a0, range($subd) t(i) GROUP BY sub, cell, i),
          ${pfx}c1 AS (SELECT sub, cell, list(m ORDER BY pos) AS cv
            FROM ${pfx}m0 GROUP BY sub, cell),
          ${pfx}a1 AS (${distRk(s"${pfx}c1")}),
          ${pfx}m1 AS (SELECT sub, cell, i AS pos,
              floor(CAST(sum(CAST(floor(pv[i+1] * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                / count(*) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS m
            FROM ${pfx}a1, range($subd) t(i) GROUP BY sub, cell, i),
          ${pfx}cb AS (SELECT sub, cell, list(m ORDER BY pos) AS cv
            FROM ${pfx}m1 GROUP BY sub, cell),
          ${pfx}codes AS (SELECT pid, sub, cell AS code FROM (
            SELECT e.pid, e.sub, c.cell,
              row_number() OVER (PARTITION BY e.pid, e.sub ORDER BY
                ((e.pn - 2*$dpc) + $dcc) ASC, c.cell ASC) AS rk
            FROM ${pfx}e e JOIN ${pfx}cb c USING (sub)) WHERE rk = 1),
          ${pfx}xhat AS (SELECT codes.pid, flatten(list(cv ORDER BY codes.sub)) AS xh
            FROM ${pfx}codes codes JOIN ${pfx}cb cb
              ON codes.sub = cb.sub AND codes.code = cb.cell
            GROUP BY codes.pid),
          ${pfx}err AS (SELECT CAST(sum(CAST(floor(list_sum(list_transform(range($d),
                i -> (s.v[i+1] - xh[i+1]) * (s.v[i+1] - xh[i+1]))) * 1000000.0 + 0.5)
                AS BIGINT)) AS DOUBLE) / 1000000.0 AS err
            FROM $src s JOIN ${pfx}xhat x ON s.pid = x.pid),
          ${pfx}dt AS (SELECT q.pid AS query_id, q.sub, c.cell AS code,
              ((q.pn - 2*${dotSql("q.pv", "c.cv")}) + ${dotSql("c.cv", "c.cv")}) AS d
            FROM ${pfx}e q JOIN ${pfx}cb c USING (sub)
            WHERE q.pid % 100 = 0 AND q.pid < 800),
          ${pfx}sc AS (SELECT dt.query_id, codes.pid,
              list_sum(list(dt.d ORDER BY dt.sub)) AS adc_dist
            FROM ${pfx}codes codes JOIN ${pfx}dt dt
              ON codes.sub = dt.sub AND codes.code = dt.code
            WHERE codes.pid <> dt.query_id GROUP BY dt.query_id, codes.pid),
          ${pfx}rk AS (SELECT query_id, pid AS cand_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY adc_dist ASC, pid ASC) AS rk FROM ${pfx}sc) WHERE rk <= 5)"""
      }
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS pid,
          list_transform(range(8), i -> CASE WHEN i < 4
            THEN (embedding::DOUBLE[])[i+1]
            ELSE (0.9 - 0.1 * (i-4)) * (embedding::DOUBLE[])[i-3]
              + 0.6 * (embedding::DOUBLE[])[i+1] END) AS v
          FROM embeddings),
        p AS (SELECT i, j, v[i+1] AS x, v[j+1] AS y
          FROM v, range($dim) a(i), range($dim) b(j) WHERE i <= j),
        up AS MATERIALIZED (SELECT i, j,
            floor(((sum(x*y) - sum(x)*sum(y)/count(*)) / count(*)) * 1000000.0 + 0.5)
              / 1000000.0 AS cov
          FROM p GROUP BY i, j),
        g0 AS MATERIALIZED (SELECT i, j, cov FROM up
               UNION ALL SELECT j AS i, i AS j, cov FROM up WHERE i <> j),
        ${eigChain("g0", "pp", 6, ordered = false)},
        $pcCtes,
        rotp AS MATERIALIZED (SELECT pid, $rotScores AS v FROM v $rotJoin),
        ${pqCtes("aa", "rotp", 8, 4)},
        npm AS MATERIALIZED (SELECT a.i AS i, b.j AS j,
            CAST(sum(CAST(floor(s.v[a.i+1] * x.xh[b.j+1] * 1000000.0 + 0.5)
              AS BIGINT)) AS DOUBLE) / 1000000.0 AS mv
          FROM rotp s JOIN aaxhat x ON s.pid = x.pid
          CROSS JOIN range($dim) a(i) CROSS JOIN range($dim) b(j)
          GROUP BY a.i, b.j),
        nps0 AS MATERIALIZED (SELECT m1.j AS i, m2.j AS j,
            floor(list_sum(list(m1.mv * m2.mv ORDER BY m1.i)) * 1000000.0 + 0.5)
              / 1000000.0 AS cov
          FROM npm m1 JOIN npm m2 ON m1.i = m2.i GROUP BY m1.j, m2.j),
        ${eigChain("nps0", "nq", 12, ordered = true)},
        npev AS (${(1 to kComp).map(c =>
          s"SELECT $c AS c, j, vj FROM nq${c}12").mkString("\n          UNION ALL ")}),
        nplam AS (${(1 to kComp).map(c =>
          s"SELECT $c AS c, lam FROM nqlam$c").mkString("\n          UNION ALL ")}),
        npih AS (SELECT a.j AS i, b.j AS j,
            floor(list_sum(list(a.vj * b.vj / sqrt(l.lam) ORDER BY a.c))
              * 1000000.0 + 0.5) / 1000000.0 AS ih
          FROM npev a JOIN npev b ON a.c = b.c JOIN nplam l ON l.c = a.c
          GROUP BY a.j, b.j),
        npr AS (SELECT m.i AS i, h.j AS comp0,
            floor(list_sum(list(m.mv * h.ih ORDER BY m.j)) * 1000000.0 + 0.5)
              / 1000000.0 AS loading
          FROM npm m JOIN npih h ON m.j = h.i GROUP BY m.i, h.j),
        nprc AS (SELECT comp0 + 1 AS comp, list(loading ORDER BY i) AS pc
          FROM npr GROUP BY comp0),
        rotn AS MATERIALIZED (SELECT s.pid,
            list(floor(list_sum(list_transform(range($dim),
                t -> s.v[t+1] * r.pc[t+1])) * 1000000.0 + 0.5) / 1000000.0
              ORDER BY r.comp) AS v
          FROM rotp s CROSS JOIN nprc r GROUP BY s.pid),
        ${pqCtes("nn", "rotn", 8, 4)},
        q2 AS (SELECT pid AS query_id, v AS qv FROM v
          WHERE pid % 100 = 0 AND pid < 800),
        exsc AS (SELECT query_id, w.pid AS cand_id,
            round(list_sum(list_transform(range(len(w.v)),
              i -> (w.v[i+1]-qv[i+1])*(w.v[i+1]-qv[i+1]))), 6) AS d
          FROM v w CROSS JOIN q2 WHERE w.pid <> query_id),
        exrk AS (SELECT query_id, cand_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY d ASC, cand_id ASC) AS rk FROM exsc) WHERE rk <= 5),
        qs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
          FROM exrk GROUP BY query_id),
        aah AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM exrk JOIN aark USING (query_id, cand_id) GROUP BY query_id),
        nnh AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM exrk JOIN nnrk USING (query_id, cand_id) GROUP BY query_id)
        SELECT qs.query_id,
          coalesce(aah.n_hits, 0) / CAST(least(qs.n_exact, 5) AS DOUBLE)
            AS recall_pca,
          coalesce(nnh.n_hits, 0) / CAST(least(qs.n_exact, 5) AS DOUBLE)
            AS recall_np,
          aaerr.err AS err_pca, nnerr.err AS err_np
        FROM qs LEFT JOIN aah USING (query_id) LEFT JOIN nnh USING (query_id)
        CROSS JOIN aaerr CROSS JOIN nnerr
        ORDER BY qs.query_id"""
    },
    eagerPlan = true) // pcaTopK + opqRefine collect bounded d² artifacts

  /** X2 — PQ-CODEBOOK artifact round-trip ([[graft.ops.Artifacts]] ×
    * [[graft.ops.Similarity.pqTrain]]): the trained m=2 codebooks COMMIT
    * to the versioned store, load back in a fresh read, and the whole
    * corpus ENCODES against the LOADED table. The oracle replays
    * train+encode from the source rows directly, so a hash match proves
    * the store is lossless for this family too — a mis-serialized
    * codebook row (dropped sub, reordered pos, lost double precision)
    * shifts downstream codes and fails the gate, closing the r15 verdict
    * gap where only FacadeSpec would have caught it. Same store
    * discipline as `x2_artifact_roundtrip` (centroids) and
    * `x3_bpe_artifact_apply` (merge tables). */
  protected val x2PqArtifactRt = Q("x2_pq_artifact_roundtrip",
    (s, dir) => {
      val root = "/tmp/graft_art_pqcb_" + Tables.scratchTag(s, dir)
      val emb = Tables.embeddings(s, dir)
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 2, dim = 64,
        seedPred = pmod(col("vec_id"), lit(97)) === 3, iters = 2)
      val v = Artifacts.saveArtifact(cb, root, "pq_codebooks",
        Map("m" -> "2", "dim" -> "64", "iters" -> "2", "seeds" -> "vec_id%97=3"))
      val (loaded, meta) = Artifacts.loadArtifactVersion(s, root, v, "pq_codebooks")
      require(meta.params("m") == "2", "sidecar params must round-trip")
      Similarity.pqEncode(emb, "vec_id", "embedding", m = 2, dim = 64, loaded)
        .orderBy(col("pid"), col("sub"))
    },
    Some(s"""${pqOracleCtes()},
      m1 AS (SELECT sub, cell, i AS pos,
          floor(avg(pv[i+1]) * 1000000.0 + 0.5) / 1000000.0 AS m
        FROM a1, range(32) t(i) GROUP BY sub, cell, i),
      cb AS (SELECT sub, cell, list(m ORDER BY pos) AS cv FROM m1 GROUP BY sub, cell),
      codes AS (SELECT pid, sub, cell AS code FROM (
        SELECT e.pid, e.sub, c.cell,
          row_number() OVER (PARTITION BY e.pid, e.sub ORDER BY
            ((e.pn - 2*${dotSql("pv", "cv")}) + ${dotSql("cv", "cv")}) ASC, c.cell ASC) AS rk
        FROM e JOIN cb c USING (sub)) WHERE rk = 1)
      SELECT pid, sub, code FROM codes ORDER BY pid, sub"""),
    eagerPlan = true) // constructing commits the artifact version on disk


  /** Shared oracle CTEs for the IVF+PQ composed index: coarse centroids
    * (vec_id%89==1) assign every vector / probe the 2 nearest cells per
    * query (vec_id%100==0), chained onto [[pqOracleCtes]]'s trained m=2
    * codebooks + codes (same association order and tie-breaks as the
    * Spark folds — all proven by the component queries). */
  protected def ivfPqOracleCtes(capQueries: Boolean = false): String = {
    val dww = dotSql("w.v", "w.v"); val dwc = dotSql("w.v", "c.cv")
    val dcc = dotSql("c.cv", "c.cv")
    // capQueries: the *_recall evals use the fixed-size stripe (see
    // [[cappedStripe]]); the topk demos keep the uncapped one
    val cap = if (capQueries) " AND w.pid < 800" else ""
    val capQ = if (capQueries) " AND q.pid < 800" else ""
    s"""${pqOracleCtes()},
      m1 AS (SELECT sub, cell, i AS pos,
          floor(avg(pv[i+1]) * 1000000.0 + 0.5) / 1000000.0 AS m
        FROM a1, range(32) t(i) GROUP BY sub, cell, i),
      cb AS (SELECT sub, cell, list(m ORDER BY pos) AS cv FROM m1 GROUP BY sub, cell),
      codes AS (SELECT pid, sub, cell AS code FROM (
        SELECT e.pid, e.sub, c.cell,
          row_number() OVER (PARTITION BY e.pid, e.sub ORDER BY
            ((e.pn - 2*${dotSql("pv", "cv")}) + ${dotSql("cv", "cv")}) ASC, c.cell ASC) AS rk
        FROM e JOIN cb c USING (sub)) WHERE rk = 1),
      cc AS (SELECT CAST(pid AS BIGINT) AS cell, v AS cv FROM v WHERE pid % 89 = 1),
      cassign AS (SELECT pid, cell FROM (
          SELECT w.pid, c.cell,
            row_number() OVER (PARTITION BY w.pid ORDER BY
              (($dww - 2*$dwc) + $dcc) ASC, c.cell ASC) AS rk
          FROM v w CROSS JOIN cc c) WHERE rk = 1),
      qprobe AS (SELECT pid AS query_id, cell FROM (
          SELECT w.pid, c.cell,
            row_number() OVER (PARTITION BY w.pid ORDER BY
              (($dww - 2*$dwc) + $dcc) ASC, c.cell ASC) AS rk
          FROM v w CROSS JOIN cc c WHERE w.pid % 100 = 0$cap) WHERE rk <= 2),
      dt AS (SELECT q.pid AS query_id, q.sub, c.cell AS code,
          ((q.pn - 2*${dotSql("q.pv", "c.cv")}) + ${dotSql("c.cv", "c.cv")}) AS d
        FROM e q JOIN cb c USING (sub) WHERE q.pid % 100 = 0$capQ),
      pqscored AS (SELECT dt.query_id, codes.pid,
          list_sum(list(dt.d ORDER BY dt.sub)) AS adc_dist
        FROM codes
        JOIN cassign ON codes.pid = cassign.pid
        JOIN qprobe ON cassign.cell = qprobe.cell AND qprobe.query_id <> codes.pid
        JOIN dt ON codes.sub = dt.sub AND codes.code = dt.code
          AND dt.query_id = qprobe.query_id
        GROUP BY dt.query_id, codes.pid)"""
  }

  /** X2 — IVF+PQ composed index search
    * ([[graft.ops.Similarity.ivfPqSearch]]): the FAISS-IVFADC serving
    * shape — coarse cells prune each query to its 2 probed cells, ADC
    * scores only the survivors. The oracle composes the proven component
    * CTEs (coarse assign/probe from x2_ivf_nprobe_topk, trained
    * codebooks/codes/distance table from x2_pq_adc_topk) with the probe
    * restriction in the scored join. */
  protected val x2IvfPq = Q("x2_ivf_pq_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 2, dim = 64,
        seedPred = pmod(col("vec_id"), lit(97)) === 3, iters = 2)
        .cache() // r21: referenced by both the encode fold and the ADC table
      Similarity.ivfPqSearch(emb, "vec_id", "embedding", m = 2, dim = 64,
        codebooks = cb, centroidPred = pmod(col("vec_id"), lit(89)) === 1,
        queryPred = pmod(col("vec_id"), lit(100)) === 0, k = 5, nprobe = 2)
        .orderBy(col("query_id"), col("rk"))
    },
    Some(s"""${ivfPqOracleCtes(capQueries = false)},
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc_dist ASC, pid ASC) AS rk FROM pqscored)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, pid AS cand_id, adc_dist
      FROM ranked WHERE rk <= 5 ORDER BY query_id, rk"""))

  /** X2 — IVF+PQ recall@5 vs exact L2 (sibling of x2_pq_recall for the
    * composed index): what the coarse prune + quantization jointly cost
    * in retrieval quality. Exact side is brute-force L2 over the full
    * corpus; recall divides by the MEASURED per-query exact-candidate
    * count capped at k (min(k, n_exact)), so a thin query stripe never
    * understates recall. */
  protected val x2IvfPqRecall = Q("x2_ivf_pq_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qp = cappedStripe(col("vec_id"))
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 2, dim = 64,
        seedPred = pmod(col("vec_id"), lit(97)) === 3, iters = 2)
        .cache() // r21: referenced by both the encode fold and the ADC table
      val ivfpq = Similarity.ivfPqSearch(emb, "vec_id", "embedding", m = 2, dim = 64,
        codebooks = cb, centroidPred = pmod(col("vec_id"), lit(89)) === 1,
        queryPred = qp, k = 5, nprobe = 2)
        .select(col("query_id"), col("cand_id"))
      val e = emb.select(col("vec_id").cast("long").as("cand_id"),
        col("embedding").cast("array<double>").as("cv"))
      val q = emb.where(qp).select(col("vec_id").cast("long").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("d").asc, col("cand_id").asc)
      val exact = e.crossJoin(broadcast(q))
        .where(col("cand_id") =!= col("query_id"))
        .withColumn("d", round(expr(
          "aggregate(zip_with(cv, qv, (a, b) -> (a-b)*(a-b)), 0D, (acc, x) -> acc + x)"), 6))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select(col("query_id"), col("cand_id"))
      recallOf(exact, ivfpq, k = 5)
    },
    Some(s"""${ivfPqOracleCtes(capQueries = true)},
      pqrk AS (SELECT query_id, pid AS cand_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist ASC, pid ASC) AS rk FROM pqscored) WHERE rk <= 5),
      q2 AS (SELECT pid AS query_id, v AS qv FROM v
        WHERE pid % 100 = 0 AND pid < 800),
      exscored AS (SELECT query_id, w.pid AS cand_id,
          round(list_sum(list_transform(range(len(w.v)),
            i -> (w.v[i+1]-qv[i+1])*(w.v[i+1]-qv[i+1]))), 6) AS d
        FROM v w CROSS JOIN q2 WHERE w.pid <> query_id),
      exrk AS (SELECT query_id, cand_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY d ASC, cand_id ASC) AS rk FROM exscored) WHERE rk <= 5),
      hits AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM exrk JOIN pqrk USING (query_id, cand_id) GROUP BY query_id),
      qs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
        FROM exrk GROUP BY query_id)
      SELECT qs.query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
        coalesce(n_hits, 0) / CAST(least(n_exact, 5) AS DOUBLE) AS recall
      FROM qs LEFT JOIN hits USING (query_id) ORDER BY query_id"""))

  /** X2 — two-stage retrieval ([[graft.ops.Similarity.ivfPqRerank]]):
    * IVFADC shortlist of 20 candidates per query, exact-cosine re-rank
    * to the top 5 — the FAISS refine serving shape. The oracle chains
    * the proven IVF+PQ CTEs with the same shortlist cut and replays the
    * exact cosine only over shortlist rows. */
  protected val x2IvfRerank = Q("x2_ivf_rerank_topk",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 2, dim = 64,
        seedPred = pmod(col("vec_id"), lit(97)) === 3, iters = 2)
        .cache() // r21: referenced by both the encode fold and the ADC table
      Similarity.ivfPqRerank(emb, "vec_id", "embedding", m = 2, dim = 64,
        codebooks = cb, centroidPred = pmod(col("vec_id"), lit(89)) === 1,
        queryPred = pmod(col("vec_id"), lit(100)) === 0,
        k = 5, nprobe = 2, shortlist = 20)
        .orderBy(col("query_id"), col("rk"))
    },
    Some(s"""${ivfPqOracleCtes(capQueries = false)},
      sl AS (SELECT query_id, pid AS cand_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist ASC, pid ASC) AS rk FROM pqscored) WHERE rk <= 20),
      q2 AS (SELECT pid AS query_id, v AS qv FROM v WHERE pid % 100 = 0),
      ex AS (SELECT sl.query_id, sl.cand_id,
          ${cosSql("qv", "w.v")} AS cosine
        FROM sl JOIN v w ON w.pid = sl.cand_id
        JOIN q2 ON q2.query_id = sl.query_id),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, cand_id ASC) AS rk FROM ex)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, cand_id, cosine
      FROM ranked WHERE rk <= 5 ORDER BY query_id, rk"""))

  /** X2 — two-stage recall@5 vs exact cosine (the refine payoff the
    * recall harness measures): with the exact re-rank on top, the index
    * can only miss a true neighbor that fell OUTSIDE the 20-candidate
    * shortlist — ordering errors inside the shortlist are repaired.
    * The guaranteed form of that claim is per-query hit-count dominance
    * over the raw ADC top-k AGAINST THE SAME cosine reference
    * (Round11OpsSpec proves it); comparing this query's number to
    * `x2_ivf_pq_recall` is only indicative, since that eval's exact
    * side is L2, a different reference ranking. Measured
    * min(k, n_exact) denominator, as every recall eval. */
  protected val x2IvfRerankRecall = Q("x2_ivf_rerank_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qp = cappedStripe(col("vec_id"))
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 2, dim = 64,
        seedPred = pmod(col("vec_id"), lit(97)) === 3, iters = 2)
        .cache() // r21: referenced by both the encode fold and the ADC table
      val rr = Similarity.ivfPqRerank(emb, "vec_id", "embedding", m = 2, dim = 64,
        codebooks = cb, centroidPred = pmod(col("vec_id"), lit(89)) === 1,
        queryPred = qp, k = 5, nprobe = 2, shortlist = 20)
        .select(col("query_id"), col("cand_id"))
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qp, k = 5)
        .select(col("query_id"), col("cand_id"))
      recallOf(exact, rr, k = 5)
    },
    Some(s"""${ivfPqOracleCtes(capQueries = true)},
      sl AS (SELECT query_id, pid AS cand_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist ASC, pid ASC) AS rk FROM pqscored) WHERE rk <= 20),
      q2 AS (SELECT pid AS query_id, v AS qv FROM v
        WHERE pid % 100 = 0 AND pid < 800),
      rrex AS (SELECT sl.query_id, sl.cand_id,
          ${cosSql("qv", "w.v")} AS cosine
        FROM sl JOIN v w ON w.pid = sl.cand_id
        JOIN q2 ON q2.query_id = sl.query_id),
      rrk AS (SELECT query_id, cand_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, cand_id ASC) AS rk FROM rrex) WHERE rk <= 5),
      exscored AS (SELECT q2.query_id, w.pid AS cand_id,
          ${cosSql("qv", "w.v")} AS cosine
        FROM v w CROSS JOIN q2 WHERE w.pid <> q2.query_id),
      exrk AS (SELECT query_id, cand_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, cand_id ASC) AS rk FROM exscored) WHERE rk <= 5),
      hits AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM exrk JOIN rrk USING (query_id, cand_id) GROUP BY query_id),
      qs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
        FROM exrk GROUP BY query_id)
      SELECT qs.query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
        coalesce(n_hits, 0) / CAST(least(n_exact, 5) AS DOUBLE) AS recall
      FROM qs LEFT JOIN hits USING (query_id) ORDER BY query_id"""))

  /** X5 — Misra–Gries heavy hitters per source (mergeable sketch
    * aggregate; see [[graft.ops.MisraGriesAggregator]]). Capacity 64 vs a
    * 31-token vocabulary puts the sketch in its exact regime, so the
    * oracle is the exact per-group top-5 — while the PLAN is the sketch's:
    * partial per-partition summaries merged at the final agg, never a
    * token-level shuffle. */
  protected val x5Heavy = Q("x5_heavy_hitters",
    (s, dir) => {
      val mg = udaf(new MisraGriesAggregator(64))
      Tables.documents(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("source")).agg(mg(col("tok")).as("hh"))
        .select(col("source"), posexplode(col("hh")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
          col("col._1").as("token"), col("col._2").as("n"))
        .where(col("rk") <= 5)
        .orderBy(col("source"), col("rk"))
    },
    Some(s"""WITH base AS ($docsTokSql),
      t AS (SELECT source, unnest(toks) AS token FROM base),
      c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
        FROM t GROUP BY source, token),
      r AS (SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY n DESC, token) AS rk FROM c)
      SELECT source, CAST(rk AS BIGINT) AS rk, token, n
      FROM r WHERE rk <= 5 ORDER BY source, rk"""))

  /** X5 — Count–Min point-frequency estimates (mergeable sketch
    * aggregate, [[graft.ops.CountMinAggregator]]): the whole corpus
    * folds into one depth×width counter matrix (partial + merge, never
    * a token-level shuffle for the SKETCH side), and doc 0's distinct
    * tokens probe it via the shared closed-form hash. `n_exact` rides
    * along to exhibit the one-sided error (est ≥ exact always; the
    * oracle replays sketch construction in SQL, so both engines see the
    * identical collisions). */
  protected val x5CountMin = Q("x5_count_min",
    (s, dir) => {
      val cms = udaf(new CountMinAggregator(3, 64))
      val docs = Tables.documents(s, dir)
      val toks = docs.select(explode(TextOps.tokens(col("text"))).as("t"))
      val sketch = toks.agg(cms(col("t")).as("sk"))
      val exact = toks.groupBy(col("t")).agg(count(lit(1)).as("n_exact"))
      val probes = docs.where(col("doc_id") === 0)
        .select(explode(TextOps.tokens(col("text"))).as("t")).distinct()
      val lookups = (0 until 3).map { j =>
        expr(s"element_at(sk, CAST(${j * 64} + ${CountMin.bucketSql("code", j, 64)} + 1 AS INT))")
      }
      probes.join(exact, Seq("t"))
        .crossJoin(broadcast(sketch))
        .withColumn("code", expr(CountMin.codeSql("t")))
        .select(col("t").as("token"), least(lookups: _*).as("est"),
          col("n_exact"))
        .orderBy(col("token"))
    },
    Some {
      val aCase = "CASE j " + CountMin.A.take(3).zipWithIndex
        .map { case (a, j) => s"WHEN $j THEN $a" }.mkString(" ") + " END"
      val bucket = s"((($aCase * c + j + 1) % ${CountMin.P}) % 64)"
      s"""WITH base AS ($docsTokSql),
        tok AS (SELECT unnest(toks) AS t FROM base),
        cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY t),
        code AS (SELECT t, n, ${CountMin.codeDuck("t")} AS c FROM cnt),
        bk AS (SELECT t, n, c, j, $bucket AS b FROM code, range(3) s(j)),
        rows_ AS (SELECT j, b, CAST(sum(n) AS BIGINT) AS tot FROM bk GROUP BY j, b),
        probes AS (SELECT DISTINCT unnest(toks) AS t FROM base WHERE doc_id = 0),
        pbk AS (SELECT bk.t, bk.j, bk.b FROM bk JOIN probes USING (t)),
        est AS (SELECT t, CAST(min(tot) AS BIGINT) AS est
          FROM pbk JOIN rows_ USING (j, b) GROUP BY t)
        SELECT t AS token, est, cnt.n AS n_exact
        FROM est JOIN cnt USING (t) ORDER BY token"""
    })

  /** X3 — URL canonicalization + URL-level dedup (the fetch-identity
    * pass web curation runs BEFORE content dedup). Messy URLs are
    * synthesized deterministically (mixed-case scheme/host, default
    * port, trailing slash, tracking params, fragments, shuffled param
    * order) so each normalization fires; canonical collisions group to
    * (canon_url, keeper = min doc_id, n_dups). Both engines build and
    * canonicalize the identical string with the identical regexps —
    * extraction-only, never group-ref replacement (see
    * TextOps.canonicalUrl). */
  protected val x3Url = Q("x3_url_canonical",
    (s, dir) => {
      val id = col("doc_id")
      val messy = concat(
        when(id % 2 === 0, lit("HTTPS")).otherwise(lit("https")), lit("://"),
        when(id % 3 === 0, lit("WWW.")).otherwise(lit("www.")),
        col("source"), lit(".Example.COM"),
        when(id % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), (id % 50).cast("string"),
        when(id % 5 === 0, lit("/")).otherwise(lit("")),
        when(id % 6 === 0, lit("?utm_source=x&b=2&a=1"))
          .when(id % 6 === 1, lit("?a=1&b=2")).otherwise(lit("")),
        when(id % 7 === 0, lit("#frag")).otherwise(lit("")))
      Tables.documents(s, dir)
        .withColumn("canon_url", TextOps.canonicalUrl(messy))
        .groupBy(col("canon_url"))
        .agg(min(id).as("keeper"), count(lit(1)).as("n_dups"))
        .orderBy(col("canon_url"))
    },
    Some("""WITH m AS (SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END) ||
        source || '.Example.COM' ||
        (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
        (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x&b=2&a=1'
              WHEN doc_id % 6 = 1 THEN '?a=1&b=2' ELSE '' END) ||
        (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS u
      FROM documents),
      p AS (SELECT doc_id,
        lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host,
        regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]+:([0-9]+)', 1) AS port,
        rtrim(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/') AS path,
        array_to_string(list_sort(list_filter(
          string_split(regexp_extract(u, '[?]([^#]*)', 1), '&'),
          x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|ref)='))),
          '&') AS params
      FROM m),
      c AS (SELECT doc_id,
        scheme || '://' || host ||
        (CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                   AND NOT (scheme = 'https' AND port = '443')
              THEN ':' || port ELSE '' END) ||
        path ||
        (CASE WHEN params <> '' THEN '?' || params ELSE '' END) AS canon_url
      FROM p)
      SELECT canon_url, min(doc_id) AS keeper,
        CAST(count(*) AS BIGINT) AS n_dups
      FROM c GROUP BY canon_url ORDER BY canon_url"""))

  /** S8 — ORC round-trip: the third columnar container after parquet and
    * the text formats (Spark ships the ORC reader/writer natively; ORC is
    * the interchange format for Hive-era warehouses a 100 TB ingest
    * frequently starts from). Partitioned write (8 files), schema-carrying
    * re-read, aggregate. The oracle computes from the SOURCE table — if
    * the ORC round-trip corrupted values or types, the Spark side
    * diverges. */
  protected val s8Orc = Q("s8_orc_roundtrip",
    (s, dir) => {
      val path = "/tmp/graft_s8_orc_" + Tables.scratchTag(s, dir)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"))
        .where(pmod(col("l_orderkey"), lit(3)) === 0)
        .repartition(8)
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      round(sum(l_quantity), 4) AS sum_qty,
      round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_orderkey % 3 = 0
      GROUP BY l_returnflag ORDER BY l_returnflag"""),
    eagerPlan = true) // constructing runs the ORC sink write

  /** S3-family — winsorized preprocessing (see [[graft.ops.AggOps.winsorize]]):
    * prices clamped at per-flag exact P05/P95 via the distributed rank
    * quantile, then re-aggregated. Clamp counts are exact integers; the
    * winsorized sum is 2-decimal money (boundary-free rounding). The
    * oracle computes the same bounds with quantile_disc — the
    * position-rule agreement x5_approx_quantile established. */
  protected val s3Winsorize = Q("s3_winsorize",
    (s, dir) => {
      val v = col("l_extendedprice"); val vw = col("l_extendedprice_w")
      AggOps.winsorize(Tables.lineitem(s, dir), Seq("l_returnflag"),
          // scan-rooted input auto-detected (r19): skips the 60M-row
          // projection materialization — see exactQuantiles
          "l_extendedprice", 0.05, 0.95)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(vw > v, 1L).otherwise(0L)).as("n_clamped_lo"),
          sum(when(vw < v, 1L).otherwise(0L)).as("n_clamped_hi"),
          round(sum(vw), 2).as("sum_w"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH q AS (SELECT l_returnflag,
        quantile_disc(l_extendedprice, 0.05) AS lo,
        quantile_disc(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag)
      SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
        CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi,
        round(sum(CASE WHEN l_extendedprice < lo THEN lo
                       WHEN l_extendedprice > hi THEN hi
                       ELSE l_extendedprice END), 2) AS sum_w
      FROM lineitem l JOIN q USING (l_returnflag)
      GROUP BY 1 ORDER BY l_returnflag"""))

  /** X6 — leakage-safe group-wise split: the split bucket hashes the
    * site DOMAIN (the x3_domain_cap host synthesis), so every page of a
    * host lands in one split and near-identical same-site pages can
    * never straddle train/test. Output groups by (domain, split): the
    * hash-match proves each domain maps to exactly one split with the
    * identical bucket math in both engines. */
  protected val x6GroupSplit = Q("x6_group_split",
    (s, dir) => {
      val withDomain = Tables.documents(s, dir)
        .withColumn("domain", concat(col("source"),
          (col("doc_id") % 7).cast("string"), lit(".example.com")))
      Curation.splitAssignBy(withDomain, col("domain"))
        .groupBy(col("domain"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("domain"), col("split"))
    },
    Some("""WITH d AS (SELECT *,
        source || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS domain
      FROM documents),
      b AS (SELECT *,
        CAST(('0x' || substr(md5(domain), 1, 15)) AS BIGINT) % 100 AS bk FROM d)
      SELECT domain,
        CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val' ELSE 'test' END AS split,
        CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM b GROUP BY 1, 2 ORDER BY domain, split"""))

}
