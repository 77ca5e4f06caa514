package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.{Parquet, Tables}
import graft.streaming.StreamingOps

/** batch 3: correlation stats, arg-extrema, grouping sets, sliding/nth frames, unpivot, simhash pairs, TF-IDF, quantization, source round-trips, approx distinct.
  *
  * Part of the [[Queries]] registry split (r18): the registry grew past
  * 7k LoC in one file, so its definition blocks moved into CHAINED traits
  * — each extends the previous, preserving the original textual
  * definition order (trait linearization initializes them in chain
  * order), member visibility (`private` → `protected`, still invisible
  * outside the object), and `Queries.all`, which is byte-identical. */
private[graft] trait QueriesBatch2 extends QueriesX14 {
  // ------------------------------------------------------------------
  // batch 3 (round 2): correlation stats, arg-extrema, grouping sets,
  // sliding windows, nth_value frames, unpivot, simhash pairs, TF-IDF,
  // int8 quantization, partitioned/JSON source round-trips, config
  // overlay, approximate distinct
  // ------------------------------------------------------------------

  /** A-family extension: two-column association aggregates (corr /
    * covar_pop / regr_slope) — ratio-of-sums forms, rounded at 4 since
    * partial-aggregation order differs between engines. */
  protected val aCorr = Q("a_corr_stats",
    (s, dir) => Tables.lineitem(s, dir).groupBy(col("l_returnflag")).agg(
      round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
      round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qp"),
      round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
      count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
      round(covar_pop(l_quantity, l_extendedprice), 2) AS covar_qp,
      round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** A-family: argument extrema (max_by/min_by ↔ DuckDB arg_max/arg_min);
    * the ordering argument (event_id) is unique per key → deterministic. */
  protected val aMinMaxBy = Q("a_minmax_by",
    (s, dir) => Tables.events(s, dir).groupBy(col("user_id")).agg(
      max_by(col("value"), col("event_id")).as("latest_value"),
      min_by(col("value"), col("event_id")).as("earliest_value"),
      max(col("event_id")).as("last_event_id"))
      .orderBy(col("user_id")),
    Some("""SELECT user_id, arg_max(value, event_id) AS latest_value,
      arg_min(value, event_id) AS earliest_value, max(event_id) AS last_event_id
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Explicit GROUPING SETS (beyond rollup/cube): chosen aggregation
    * lattice cells in one pass. */
  protected val groupingSetsAgg = Q("grouping_sets_agg",
    (s, dir) => Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
      CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""))

  /** Sliding (hopping) event-time window: width 1 day, slide 12 h —
    * every event lands in exactly 2 windows, both aligned to the epoch
    * like Spark's `window()`. */
  protected val slidingWindow = Q("sliding_window",
    (s, dir) => StreamingOps.slidingAgg(Tables.events(s, dir), "1 day", "12 hours")
      .select(col("w_start_us"), col("event_type"), col("n"),
        round(col("total"), 2).as("total"))
      .orderBy(col("w_start_us"), col("event_type")),
    Some("""WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
      x AS (SELECT unnest([(us // 43200000000) * 43200000000,
                           (us // 43200000000) * 43200000000 - 43200000000]) AS w_start_us,
                   event_type, value FROM e)
      SELECT w_start_us, event_type, CAST(count(*) AS BIGINT) AS n,
        round(sum(value), 2) AS total
      FROM x GROUP BY 1, 2 ORDER BY w_start_us, event_type"""))

  /** Positional window functions: first / nth / last value over running
    * and full-partition frames. */
  protected val nthWindow = Q("nth_value_window",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, dir).select(col("user_id"), col("event_id"),
        first(col("value")).over(wRun).as("first_v"),
        nth_value(col("value"), 2).over(wRun).as("second_v"),
        last(col("value")).over(wAll).as("final_v"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""SELECT user_id, event_id,
      first_value(value) OVER w1 AS first_v,
      nth_value(value, 2) OVER w1 AS second_v,
      last_value(value) OVER w2 AS final_v
      FROM events
      WINDOW w1 AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w2 AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY user_id, event_id"""))

  /** S6 melt direction: wide metric columns → (user, metric, value) log
    * rows via the native unpivot operator (reference logger.store shape). */
  protected val unpivotMetrics = Q("unpivot_metrics",
    (s, dir) => Tables.events(s, dir).groupBy(col("user_id")).agg(
      round(sum(when(col("event_type") === "click", col("value")).otherwise(0.0)), 4).as("click_sum"),
      round(sum(when(col("event_type") === "view", col("value")).otherwise(0.0)), 4).as("view_sum"),
      round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 4).as("purchase_sum"))
      .unpivot(Array(col("user_id")),
        Array(col("click_sum"), col("view_sum"), col("purchase_sum")),
        "metric", "value")
      .orderBy(col("user_id"), col("metric")),
    Some("""WITH p AS (SELECT user_id,
        round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0.0 END), 4) AS click_sum,
        round(sum(CASE WHEN event_type = 'view' THEN value ELSE 0.0 END), 4) AS view_sum,
        round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 4) AS purchase_sum
        FROM events GROUP BY user_id)
      SELECT user_id, metric, value FROM (
        SELECT user_id, 'click_sum' AS metric, click_sum AS value FROM p
        UNION ALL SELECT user_id, 'view_sum', view_sum FROM p
        UNION ALL SELECT user_id, 'purchase_sum', purchase_sum FROM p)
      ORDER BY user_id, metric"""))

  /** X1 SimHash near-dup pairs: 48-bit fingerprint, 4×12-bit band
    * blocking + Hamming verify (the SimHash counterpart of the
    * MinHash-LSH pair query; band width is the anti-quadratic lever —
    * see Dedup.simhashPairs). */
  protected val x1SimhashPairs = Q("x1_simhash_pairs",
    (s, dir) => Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
      bits = 48, nBands = 4, maxHamming = 3)
      .orderBy(col("doc_a"), col("doc_b")),
    Some {
      val bitSums = (0 until 48).map { j =>
        s"CAST(sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$j"
      }.mkString(", ")
      val fpExpr = (0 until 48).map { j =>
        s"(CASE WHEN s$j >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH sets AS ($shingleSetSql),
      tok AS (SELECT doc_id, unnest(toks) AS tok FROM sets),
      j AS (SELECT doc_id, ${Dedup.FeatureHashSql} AS h FROM tok),
      agg AS (SELECT doc_id, $bitSums FROM j GROUP BY doc_id),
      fp AS (SELECT doc_id, $fpExpr AS simhash FROM agg),
      bands AS (SELECT doc_id, simhash, band, (simhash >> (band*12)) & 4095 AS bucket
                FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
      cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                 CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
               FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
               WHERE l.doc_id < r.doc_id
                 AND bit_count(xor(l.simhash, r.simhash)) <= 3)
      SELECT doc_a, doc_b, hamming FROM cand ORDER BY doc_a, doc_b"""
    })

  /** X1 — SimHash hot-bucket skew report
    * ([[graft.ops.Dedup.simhashBucketReport]]): every (band, bucket)
    * holding ≥ 2 docs with the quadratic candidate count the blocking
    * join pays there — the diagnosis behind `simhashPairs`' per-bucket
    * cap (one dominant boilerplate template concentrates one bucket no
    * matter how wide the bands are). Same fingerprint/banding chain as
    * `x1_simhash_pairs`, reduced to one count row per bucket. */
  protected val x1SimhashSkew = Q("x1_simhash_bucket_skew",
    (s, dir) => Dedup.simhashBucketReport(Tables.documents(s, dir), "doc_id", "text",
      bits = 48, nBands = 4, minDocs = 2),
    Some {
      val bitSums = (0 until 48).map { j =>
        s"CAST(sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$j"
      }.mkString(", ")
      val fpExpr = (0 until 48).map { j =>
        s"(CASE WHEN s$j >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH sets AS ($shingleSetSql),
      tok AS (SELECT doc_id, unnest(toks) AS tok FROM sets),
      j AS (SELECT doc_id, ${Dedup.FeatureHashSql} AS h FROM tok),
      agg AS (SELECT doc_id, $bitSums FROM j GROUP BY doc_id),
      fp AS (SELECT doc_id, $fpExpr AS simhash FROM agg),
      bands AS (SELECT doc_id, simhash, band, (simhash >> (band*12)) & 4095 AS bucket
                FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b)
      SELECT CAST(band AS INTEGER) AS band, bucket,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_candidate_pairs
      FROM bands GROUP BY band, bucket HAVING count(*) >= 2
      ORDER BY n_docs DESC, band, bucket"""
    })

  /** X3 TF-IDF: top-3 terms per document, ranked on the rounded score
    * with a term tie-break. */
  protected val x3Tfidf = Q("x3_tfidf_topterms",
    (s, dir) => TextOps.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", 3)
      .orderBy(col("doc_id"), col("rk")),
    Some("""WITH toks AS (SELECT doc_id,
          unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, tok),
      idf AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (SELECT doc_id, tok,
          round(tf * ln(CAST(n.n AS DOUBLE) / df), 4) AS tfidf
        FROM tf JOIN idf USING (tok) CROSS JOIN n),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rk
        FROM scored)
      SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, tfidf
      FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk"""))

  /** X3 BM25 ([[TextOps.bm25TopDocs]]): top-20 documents for a 4-term
    * query. idf rounds at 6 (transcendental), the saturation factor is
    * rational per-row IEEE, contributions fold in term order, final
    * score portable-rounds at 4 — the [[x6Dsir]] fold discipline applied
    * to retrieval. Output re-sorted by doc_id for a deterministic dump. */
  /** Shared BM25 oracle CTE chain (terms spark/vector/merge/stream,
    * k1 = 1.2, b = 0.75) ending at `bm_top(doc_id, n_terms, score)` with
    * the given page size — used by the standalone query and the hybrid
    * RRF fusion. Constants are the identical Scala doubles the DataFrame
    * side folds in (1.2+1.0 is a round-to-even tie — a parsed "2.2"
    * literal may differ by an ulp from the computed sum, so both engines
    * get the printed sum). */
  protected def bm25Ctes(topK: Int): String = {
    val k1p1 = d(1.2 + 1.0); val k1 = d(1.2)
    val oneMb = d(1.0 - 0.75); val b = d(0.75)
    s"""bm_q(term) AS (VALUES ('spark'), ('vector'), ('merge'), ('stream')),
      bm_toks AS (SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS t
        FROM documents),
      bm_dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM bm_toks),
      bm_stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
          CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM bm_dl),
      bm_tok AS (SELECT doc_id, unnest(t) AS tok FROM bm_toks),
      bm_tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM bm_tok JOIN bm_q ON tok = bm_q.term GROUP BY doc_id, tok),
      bm_df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM bm_tf GROUP BY tok),
      bm_c AS (SELECT bm_tf.doc_id, bm_tf.tok,
          (floor(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * 1000000.0 + 0.5) / 1000000.0)
            * (tf * $k1p1) / (tf + $k1 * ($oneMb + $b * bm_dl.dl / avgdl)) AS contrib
        FROM bm_tf JOIN bm_df USING (tok) JOIN bm_dl ON bm_dl.doc_id = bm_tf.doc_id
        CROSS JOIN bm_stats),
      bm_sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
          list_sum(list(contrib ORDER BY tok)) AS raw
        FROM bm_c GROUP BY doc_id),
      bm_top AS (SELECT doc_id, n_terms,
          floor(raw * 10000.0 + 0.5) / 10000.0 AS score
        FROM bm_sc ORDER BY score DESC, doc_id LIMIT $topK)"""
  }

  protected val x3Bm25 = Q("x3_bm25_topdocs", {
    (s, dir) =>
      import s.implicits._
      TextOps.bm25TopDocs(Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "vector", "merge", "stream").toDF("term"),
          k1 = 1.2, b = 0.75, topK = 20, roundDigits = 4)
        .orderBy(col("doc_id"))
  },
    Some(s"""WITH ${bm25Ctes(20)}
      SELECT doc_id, n_terms, score FROM bm_top ORDER BY doc_id"""))

  /** X2 — hybrid retrieval ([[Similarity.rrfFuse]]): BM25 page (lexical)
    * ⊕ brute-cosine page for query vector 0 (dense), fused by reciprocal
    * rank at c = 60. Ranks derive from already-rounded scores with id
    * tie-breaks; the fused score is a fixed-order two-term reciprocal
    * sum — exact on both engines, no further rounding. */
  protected val x2Rrf = Q("x2_hybrid_rrf", {
    (s, dir) =>
      import s.implicits._
      val bm = TextOps.bm25TopDocs(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "vector", "merge", "stream").toDF("term"), topK = 50)
      // rank within the 50-row retrieval page WITHOUT a window: an
      // unpartitioned row_number is the single-partition-funnel class the
      // PlanSpec gate closes, so the bounded page ranks by a count-ahead
      // self-join instead (k² comparisons on a k-row page; AQE broadcasts
      // it by size — no hint, the page carries a fact key)
      val page = bm.select(col("doc_id"), col("score"))
      val ahead = page.select(col("doc_id").as("b_id"), col("score").as("b_score"))
      val bmr = page.join(ahead,
          col("b_score") > col("score")
            || (col("b_score") === col("score") && col("b_id") < col("doc_id")),
          "left")
        .groupBy(col("doc_id"))
        .agg((count(col("b_id")) + lit(1L)).as("rank"))
        .select(col("doc_id").as("id"), col("rank"))
      val cos = Similarity.bruteForceTopK(Tables.embeddings(s, dir),
        "vec_id", "embedding", col("vec_id") === 0, k = 50)
      val cr = cos.select(col("cand_id").as("id"), col("rk").as("rank"))
      Similarity.rrfFuse(bmr, cr, c = 60, topK = 10).orderBy(col("id"))
  },
    Some(s"""WITH ${bm25Ctes(50)},
      bmr AS (SELECT doc_id AS id,
          CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        FROM bm_top),
      ce AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cq AS (SELECT v AS qv FROM ce WHERE vec_id = 0),
      csc AS (SELECT ce.vec_id AS cand_id,
          round(list_sum(list_transform(range(len(qv)), i -> qv[i+1]*v[i+1]))
            / (sqrt(list_sum(list_transform(range(len(qv)), i -> qv[i+1]*qv[i+1])))
             * sqrt(list_sum(list_transform(range(len(v)), i -> v[i+1]*v[i+1])))), 6) AS cosine
        FROM ce CROSS JOIN cq WHERE ce.vec_id <> 0),
      cranked AS (SELECT cand_id, row_number() OVER (
          ORDER BY cosine DESC, cand_id ASC) AS rk FROM csc),
      cr AS (SELECT cand_id AS id, CAST(rk AS BIGINT) AS rank
        FROM cranked WHERE rk <= 50),
      fused AS (SELECT coalesce(b.id, c2.id) AS id,
          b.rank AS rank_a, c2.rank AS rank_b,
          coalesce(1.0 / (60 + b.rank), 0.0)
            + coalesce(1.0 / (60 + c2.rank), 0.0) AS rrf
        FROM bmr b FULL OUTER JOIN cr c2 ON b.id = c2.id),
      page AS (SELECT id, rank_a, rank_b, rrf FROM fused
        ORDER BY rrf DESC, id LIMIT 10)
      SELECT id, rank_a, rank_b, rrf FROM page ORDER BY id"""))

  /** X3 — benchmark decontamination: docs with doc_id ≡ 7 (mod 10) play
    * the eval set; the report lists every training doc sharing a word
    * 8-gram with it. Spark joins on the fused kernel's 64-bit gram hashes (the scale
    * shape — broadcast longs, corpus never shuffled); the oracle joins on
    * the gram STRINGS, so any hash collision would fail the gate here. */
  protected val x3Decon = Q("x3_decontaminate",
    (s, dir) => TextOps.contaminationReport(Tables.documents(s, dir),
      "doc_id", "text", isBench = col("doc_id") % 10 === 7, n = 8)
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS t
        FROM documents),
      i AS (SELECT doc_id, t, unnest(range(greatest(len(t) - 7, 0))) AS i FROM toks),
      grams AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+8], ' ') AS g FROM i),
      bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 7)
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM grams g JOIN bench USING (g) WHERE g.doc_id % 10 <> 7
      GROUP BY g.doc_id ORDER BY doc_id"""))

  /** X1 — cross-document duplicated-span fraction (Lee et al. exact-
    * substring dedup signal at 8-gram granularity): occurrences whose
    * gram appears in ≥2 distinct documents. Counts are exact integers;
    * the ratio uses portable rounding. Spark matches on 64-bit gram hashes, the
    * oracle on gram strings — the same accepted 2⁻⁶⁴ collision trade as
    * x3_decontaminate. */
  protected val x1DupSpans = Q("x1_dup_span_fraction",
    (s, dir) => {
      val r = TextOps.duplicatedSpans(Tables.documents(s, dir), "doc_id", "text", n = 8)
      r.select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        pround(col("n_dup_grams").cast("double") / col("n_grams"), 4).as("dup_span_frac"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS t
        FROM documents),
      i AS (SELECT doc_id, t, unnest(range(greatest(len(t) - 7, 0))) AS i
            FROM toks WHERE len(t) >= 8),
      gr AS (SELECT doc_id, array_to_string(t[i+1:i+8], ' ') AS g FROM i),
      df AS (SELECT g, count(DISTINCT doc_id) AS df FROM gr GROUP BY g)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
        """ + proundSql("sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 4) + """ AS dup_span_frac
      FROM gr JOIN df USING (g) GROUP BY doc_id ORDER BY doc_id"""))

  /** X3 — Gopher-style repetition quality gates: duplicate-bigram ratio
    * and top-token frequency ratio per doc. Counts are exact integers;
    * the two ratios use portable rounding (ratios of small ints land
    * near decimal boundaries often enough to hit the round-half trap). */
  protected val x3Repetition = Q("x3_repetition_quality",
    (s, dir) => {
      val r = TextOps.repetitionStats(Tables.documents(s, dir), "doc_id", "text", n = 2)
      r.select(col("doc_id"), col("n_toks"), col("n_grams"), col("n_dup_grams"),
        col("top_tok_cnt"),
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(pround(col("n_dup_grams").cast("double") / col("n_grams"), 4))
          .as("dup_gram_ratio"),
        pround(col("top_tok_cnt").cast("double") / col("n_toks"), 4).as("top_tok_ratio"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS t
        FROM documents),
      base AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_toks FROM toks WHERE len(t) > 0),
      gi AS (SELECT doc_id, t, unnest(range(greatest(len(t) - 1, 0))) AS i FROM base),
      g AS (SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS g FROM gi),
      gs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(count(DISTINCT g) AS BIGINT) AS n_uniq FROM g GROUP BY doc_id),
      tok AS (SELECT doc_id, unnest(t) AS tok FROM base),
      tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
      top AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_tok_cnt FROM tc GROUP BY doc_id)
      SELECT b.doc_id, b.n_toks,
        coalesce(gs.n_grams, 0) AS n_grams,
        coalesce(gs.n_grams - gs.n_uniq, 0) AS n_dup_grams,
        top.top_tok_cnt,
        CASE WHEN coalesce(gs.n_grams, 0) = 0 THEN 0.0
             ELSE """ + proundSql("(gs.n_grams - gs.n_uniq) / CAST(gs.n_grams AS DOUBLE)", 4) + """ END AS dup_gram_ratio,
        """ + proundSql("top.top_tok_cnt / CAST(b.n_toks AS DOUBLE)", 4) + """ AS top_tok_ratio
      FROM (SELECT doc_id, n_toks FROM base) b
      JOIN top USING (doc_id) LEFT JOIN gs USING (doc_id)
      ORDER BY doc_id"""))

  /** X6 — stride-overlap document chunking (32-token windows every 24
    * tokens): map-only explode, no shuffle; text joins are string-exact
    * so no rounding anywhere. */
  protected val x6Chunk = Q("x6_chunk_documents",
    (s, dir) => Curation.chunkDocuments(Tables.documents(s, dir),
      "doc_id", "text", chunkTokens = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""WITH toks AS (SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS t
        FROM documents),
      base AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
      st AS (SELECT doc_id, t, unnest(range(0, len(t), 24)) AS s FROM base)
      SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_idx,
        array_to_string(t[s+1:s+32], ' ') AS chunk_text,
        CAST(least(len(t) - s, 32) AS BIGINT) AS n_chunk_tokens
      FROM st ORDER BY doc_id, chunk_idx"""))

  /** X2 int8 scalar quantization of the embedding column (4× ANN memory
    * cut) with per-element reconstruction error — portable floor(x+0.5)
    * rounding, identical FP ops in both engines. */
  protected val x2Quantize = Q("x2_embedding_quantize",
    (s, dir) => Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
      .orderBy(col("vec_id"), col("pos")),
    Some("""WITH p AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS i,
          embedding::DOUBLE[] AS v FROM embeddings),
      c AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
          least(greatest(v[i], -1.0), 1.0) AS cl FROM p)
      SELECT vec_id, pos, CAST(floor(cl*127.0 + 0.5) AS BIGINT) AS q,
        floor(cl*127.0 + 0.5)/127.0 AS recon,
        abs(floor(cl*127.0 + 0.5)/127.0 - cl) AS err
      FROM c ORDER BY vec_id, pos"""))

  /** S-family: hive-style partitioned parquet sink + partition-pruned
    * re-read (the layout a 100 TB events table would use: the filter on
    * the partition column prunes directories, not rows). */
  protected val s7Partitioned = Q("s7_partitioned_roundtrip",
    (s, dir) => {
      val path = "/tmp/graft_s7_part_" + Tables.scratchTag(s, dir)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
      Parquet.read(s, path)
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id ORDER BY user_id"""),
    eagerPlan = true) // constructing runs the partitioned parquet sink write

  /** S4 JSON-lines source/sink round-trip (same proof as the CSV one:
    * doubles survive the text format via shortest-round-trip rendering). */
  protected val s4Jsonl = Q("s4_jsonl_roundtrip",
    (s, dir) => {
      val path = "/tmp/graft_s4_jsonl_" + Tables.scratchTag(s, dir)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
        .where(pmod(col("event_id"), lit(7)) === 0)
        .coalesce(1)
        .write.mode("overwrite").json(path)
      s.read.schema("event_id LONG, user_id LONG, value DOUBLE").json(path)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
      FROM events WHERE event_id % 7 = 0
      GROUP BY user_id ORDER BY user_id"""),
    eagerPlan = true) // constructing runs the JSONL sink write

  /** J4 — config cascade overlay (reference train_fawac_iql.py:28-32):
    * per-task overrides overlaid on defaults, full-outer so new keys
    * survive, provenance flag per key. */
  protected val configOverlay = Q("j4_config_overlay",
    (s, dir) => {
      import s.implicits._
      val defaults = Seq(("discount", 0.99), ("tau", 0.005), ("beta", 2.0),
        ("iql_tau", 0.7), ("cost_limit", 10.0))
        .toDF("key", "default_v")
      val overrides = Seq(("beta", 4.0), ("cost_limit", 20.0), ("episode_len", 300.0))
        .toDF("key", "override_v")
      defaults.join(overrides, Seq("key"), "full_outer")
        .select(col("key"),
          coalesce(col("override_v"), col("default_v")).as("value"),
          col("override_v").isNotNull.as("overridden"))
        .orderBy(col("key"))
    },
    Some("""WITH d(key, default_v) AS (VALUES ('discount', 0.99), ('tau', 0.005),
        ('beta', 2.0), ('iql_tau', 0.7), ('cost_limit', 10.0)),
      o(key, override_v) AS (VALUES ('beta', 4.0), ('cost_limit', 20.0), ('episode_len', 300.0))
      SELECT coalesce(d.key, o.key) AS key,
        CAST(coalesce(override_v, default_v) AS DOUBLE) AS value,
        override_v IS NOT NULL AS overridden
      FROM d FULL JOIN o ON d.key = o.key ORDER BY key"""))

  /** HLL++ sketch validated against the exact count: the raw estimate is
    * engine-specific (Spark HLL++ vs DuckDB HLL differ by design), so the
    * oracle-checked output is the exact count plus the sketch's
    * within-tolerance verdict — deterministic for fixed input, and a
    * mismatch would surface as `sketch_ok = false` hash-failing against
    * the oracle's TRUE. Tolerance 2× the default rsd (0.05). */
  protected val x5ApproxDistinct = Q("x5_approx_distinct",
    (s, dir) => Tables.lineitem(s, dir).groupBy(col("l_returnflag")).agg(
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= lit(0.1) * col("exact_parts")).as("sketch_ok"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      TRUE AS sketch_ok FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** GK sketch (approx_percentile) validated against the exact discrete
    * quantile, same oracle pattern as x5_approx_distinct: the exact p50/p90
    * are actual data values (bit-exact across engines, no rounding), the
    * sketch contributes a within-tolerance verdict. percentile_disc =
    * smallest value with cume_dist ≥ p in BOTH engines (ceil(p·n) index —
    * verified against DuckDB's quantile_disc). */
  protected val x5ApproxQuantile = Q("x5_approx_quantile",
    (s, dir) => {
      // Exact discrete quantiles (percentile_disc position rule: the
      // value at 1-based position ceil(q·n)) via the DISTRIBUTED
      // selection primitive (AggOps.exactQuantiles, r16): bucket counts
      // locate each rank's bucket, only that bucket's rows rank. The
      // previous global-rank window partitioned by l_returnflag — THREE
      // groups, so one task sorted each group's whole slice (measured
      // ×6.5 at the 10× board; a straight single-node sort at 100 TB).
      // Spark's percentile_disc aggregate is equally single-node (per-
      // group value map in one buffer). The GK sketch (approx_percentile)
      // rides a plain aggregate, and sketch_ok asserts it lands within
      // 2% of the exact p50 — the approx-vs-exact contract
      // x5_approx_distinct also follows.
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"))
      val exact = AggOps.exactQuantiles(li, Seq("l_returnflag"),
          // scan-rooted input auto-detected (r19): re-reading pruned
          // parquet beats materializing (44.9 → 28.9 s at 60M rows)
          "l_extendedprice", Seq(0.5, 0.9))
        .groupBy(col("l_returnflag"))
        .agg(min(when(col("__q") === lit(0.5), col("__qval"))).as("p50"),
          min(when(col("__q") === lit(0.9), col("__qval"))).as("p90"))
      li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(2000)).as("ap50"))
        .join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("p50"), col("p90"),
          (abs(col("ap50") - col("p50")) <= col("p50") * lit(0.02)).as("sketch_ok"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, quantile_disc(l_extendedprice, 0.5) AS p50,
      quantile_disc(l_extendedprice, 0.9) AS p90, TRUE AS sketch_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Distributed uniform k-sample without replacement: rank every row by a
    * salted 60-bit hash of its key and take the global top-k — the batch
    * equivalent of reservoir sampling (each key's rank is an iid uniform
    * draw), executed as TakeOrderedAndProject: per-partition top-k then a
    * driver merge of k·partitions candidates, never a global sort.
    * Deterministic given the salt, so both engines select the same rows. */
  protected val x6Reservoir = Q("x6_reservoir_sample",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"),
        Dedup.featureHash(concat(lit("rsv1:"), col("doc_id").cast("string"))).as("rk"))
      .orderBy(col("rk"), col("doc_id")).limit(100),
    Some("""SELECT doc_id,
      CAST(('0x' || substr(md5('rsv1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS rk
      FROM documents ORDER BY rk, doc_id LIMIT 100"""))

  /** Time-series resample + gap fill: per user, a continuous daily grid
    * from first to last purchase day, value = last observation carried
    * forward (LOCF). The grid is generated per key (sequence + explode —
    * no driver loop) and the fill is one window pass. */
  protected val resampleLocf = Q("resample_locf",
    (s, dir) => {
      val ev = Tables.events(s, dir).where(col("event_type") === "purchase")
        .withColumn("day", to_date(timestamp_micros(expr("ts div 1000"))))
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val daily = ev.withColumn("__rk", row_number().over(w)).where(col("__rk") === 1)
        .select(col("user_id"), col("day"), round(col("value"), 4).as("v"))
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      val filled = grid.join(daily, Seq("user_id", "day"), "left")
        .withColumn("v_filled",
          last(col("v"), ignoreNulls = true).over(
            Window.partitionBy(col("user_id")).orderBy(col("day"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      filled.select(col("user_id"), col("day").cast("string").as("day"), col("v_filled"))
        .orderBy(col("user_id"), col("day"))
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value, epoch_ns(ts) AS ns, event_id
              FROM events WHERE event_type = 'purchase'),
      daily AS (SELECT user_id, day, round(value, 4) AS v FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id, day ORDER BY ns DESC, event_id DESC) AS rk
          FROM ev) WHERE rk = 1),
      grid AS (SELECT user_id,
          CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY user_id),
      filled AS (SELECT g.user_id, g.day,
          last_value(d.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
            ROWS UNBOUNDED PRECEDING) AS v_filled
        FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
      SELECT user_id, CAST(day AS VARCHAR) AS day, v_filled
      FROM filled ORDER BY user_id, day"""))

  /** Ordered funnel (view → click → purchase): each stage's timestamp
    * must follow the previous stage's; counts per stage in one row.
    * Sequential min-after-min via two re-aggregations — no window over
    * the full log. Stage joins are keyed on user_id with NO broadcast
    * hint: the per-user stage table is corpus-cardinality (one row per
    * surviving user), so the join strategy is left to Spark/AQE — a
    * forced broadcast would OOM the driver at real user counts. */
  protected val funnelStages = Q("funnel_stages",
    (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("us", expr("ts div 1000"))
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("us_v"))
      val c = ev.where(col("event_type") === "click")
        .join(v, "user_id").where(col("us") > col("us_v"))
        .groupBy(col("user_id")).agg(min(col("us")).as("us_c"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("us") > col("us_c"))
        .groupBy(col("user_id")).agg(min(col("us")).as("us_p"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      v AS (SELECT user_id, min(us) AS us_v FROM e WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, min(us) AS us_c FROM e JOIN v USING (user_id)
            WHERE event_type = 'click' AND us > us_v GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(us) AS us_p FROM e JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND us > us_c GROUP BY e.user_id)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
             (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_view_click,
             (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_full_funnel"""))

  /** TPC-H Q3-style shipping priority: selective dimension filter,
    * fact-fact join on the order key, revenue aggregate, top-10 on the
    * ROUNDED revenue with pk tie-break (rank stability across engines).
    * Revenue terms price·(1−discount) live on a 4-decimal lattice →
    * round(4) is exact. The filtered customer side is NOT broadcast-hinted:
    * the segment filter keeps ~1/5 of customers — still linear in the
    * corpus — so strategy choice belongs to size-based selection/AQE. */
  protected val q3Ship = Q("q3_shipping_priority",
    (s, dir) => {
      val c = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") < to_timestamp(lit("1995-03-15")))
      val l = Tables.lineitem(s, dir)
        .where(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
    Some("""SELECT l_orderkey, o_orderpriority,
        round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15'
        AND l_shipdate > TIMESTAMP '1995-03-15'
      GROUP BY l_orderkey, o_orderpriority
      ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"""))

  /** TPC-H Q5 shape: two fact-side joins (orders⋈customer, lineitem⋈
    * supplier) with the local-supplier condition c_nationkey = s_nationkey,
    * dimension chain nation→region broadcast. The extra equi-condition
    * rides on the supplier join (no separate shuffle); only lineitem and
    * orders move. */
  protected val q5Local = Q("q5_local_supplier_volume",
    (s, dir) => {
      val r = Tables.region(s, dir).where(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .join(c, col("o_custkey") === col("c_custkey"))
      Tables.lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"), count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"))
    },
    Some("""SELECT n_name,
        round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name ORDER BY n_name"""))

  /** P10 at parameter-table scale — the distributed join-aggregate
    * matmul (ModelOps.denseLayerFromTable): a 64→8 ReLU layer whose
    * weights live in a table built from the same closed form as
    * pseudoWeights, broadcast-joined to the exploded input. The sum per
    * (row, unit) crosses partition boundaries → rounded on both sides. */
  protected val p10Table = Q("p10_table_inference",
    (s, dir) => {
      val iCol = col("id") % 64
      val jCol = expr("id div 64")
      val w = s.range(8L * 64L).select(
        iCol.as("i"), jCol.as("j"),
        ((((lit(3) * jCol + lit(5) * iCol) % 13) - lit(6)).cast("double") / lit(10.0)).as("w"))
      ModelOps.denseLayerFromTable(Tables.embeddings(s, dir), "vec_id", "embedding",
        w, ModelOps.pseudoBias, ModelOps.relu)
        .select(col("vec_id"), col("j"), round(col("h"), 6).as("h"))
        .orderBy(col("vec_id"), col("j"))
    },
    Some("""WITH idx AS (SELECT unnest(range(64)) AS i),
      ou AS (SELECT unnest(range(8)) AS j),
      x AS (SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x
            FROM embeddings CROSS JOIN idx),
      w AS (SELECT i, j, CAST(((3*j + 5*i) % 13) - 6 AS DOUBLE) / 10.0 AS w
            FROM idx CROSS JOIN ou),
      h AS (SELECT vec_id, j, sum(x * w) AS s FROM x JOIN w USING (i) GROUP BY vec_id, j)
      SELECT vec_id, CAST(j AS BIGINT) AS j,
        round(greatest(s + CAST((5*j) % 7 - 3 AS DOUBLE) / 10.0, 0.0), 6) AS h
      FROM h ORDER BY vec_id, j"""))

  // ------------------------------------------------------------------
  // X6 — training-data assembly (ops.Curation): split / mix / pack
  // ------------------------------------------------------------------

  protected val bucketSql =
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"

  /** X6 — deterministic train/val/test split (90/5/5 by id bucket);
    * growth-stable, never moves an existing document between splits. */
  protected val x6Split = Q("x6_split_assign",
    (s, dir) => Curation.splitAssign(Tables.documents(s, dir), "doc_id")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"), col("lang")),
    Some(s"""WITH b AS (SELECT *, $bucketSql AS bk FROM documents)
      SELECT CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val' ELSE 'test' END AS split,
        lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM b GROUP BY 1, 2 ORDER BY split, lang"""))

  /** X6 — stratified mix sampling: language keep-rates (downsample the
    * dominant en, keep all zh), id-bucket keyed → exactly reproducible. */
  protected val x6Sample = Q("x6_stratified_sample",
    (s, dir) => Curation.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
      Map("en" -> 25, "zh" -> 100), defaultPct = 50)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, lang
      FROM (SELECT *, $bucketSql AS bk FROM documents)
      WHERE bk < CASE WHEN lang = 'en' THEN 25 WHEN lang = 'zh' THEN 100 ELSE 50 END
      ORDER BY doc_id"""))

  /** X6 — greedy contiguous sequence packing into 512-token bins per
    * language (bin = where the document's token span starts). */
  protected val x6Pack = Q("x6_pack_sequences",
    (s, dir) => {
      val nToks = TextOps.textStats(col("text")).getField("n_tokens").cast("long")
      Curation.packSequences(Tables.documents(s, dir), "doc_id", "lang", nToks, 512)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_sum"))
        .orderBy(col("lang"), col("bin"))
    },
    Some("""WITH t AS (SELECT doc_id, lang,
        CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS BIGINT) AS n_tokens
        FROM documents),
      p AS (SELECT *, CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT) AS bin FROM t)
      SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tok_sum
      FROM p GROUP BY lang, bin ORDER BY lang, bin"""))

}
