package graft

/** Benchmark surface (driver contract): times every registered query at
  * SPARK_GRAFT_SF_DIR and prints ONE short JSON line.
  *
  * The driver captures a bounded tail of stdout, so the printed line keeps
  * only a headline per-query subset (one representative per operator
  * family); the full per-query timing map is written to
  * `target/bench_full.json` for local inspection.
  *
  * Queries are forced through the `noop` sink (not `count()`): count lets
  * Catalyst prune every computed column on projection-style queries, which
  * would under-report the real work. noop materializes all output columns.
  */
object Bench {
  private val headline = Seq(
    "q1_pricing_summary",        // TPC-H style agg
    "join_star_revenue",         // multi-way broadcast star join
    "asof_join_custom_operator", // custom LogicalPlan/Strategy/Exec
    "session_windows",           // sessionization
    "cdc_latest_state",          // CDC latest-state compaction
    "w1_discounted_return",      // window recurrence (discounted cumsum)
    "stateful_ema_series",       // per-key ordered fold
    "s3_preprocess_density",     // density-capped subsample
    "p10_mlp_inference",         // batch MLP over array cols
    "x1_dedup_pipeline",         // end-to-end near-dedup
    "x1_minhash_lsh_pairs",      // MinHash+LSH banding
    "x2_similarity_topk",        // brute-force cosine top-k
    "x2_ann_lsh_topk",           // LSH-bucketed ANN
    "x3_text_analysis",          // text quality/lang-id kernels
    "e2e_train_step",            // full train_one_step composition
    "e2e_train_step_lagrangian", // FAWAC-M branch (histogram-fold medians)
    "x2_kmeans_fit",             // in-plan Lloyd's (broadcast-fold assign)
    "x6_token_budget",           // bucket-prefix global selection
    "x7_curation_pipeline",      // full curation program DAG
    "x2_pq_adc_topk",            // PQ train→encode→ADC search chain
    "x1_dup_span_fraction",      // cross-doc duplicated-span signal
    "x3_bpe_merges",             // BPE training loop (vocab iterations)
    "x1_paragraph_dedup",        // sub-document keep-first dedup
    "x2_pca_project",            // power iteration + whitening apply chain
    "x3_corpus_drift",           // per-source KL drift report
    "x1_cdc_chunk_dedup",        // content-defined chunk dedup (rolling hash)
    "x2_ivf_nprobe_topk",        // multi-probe IVF ANN
    "x2_ivf_pq_topk",            // IVF+PQ composed index (IVFADC)
    "e2e_train_kstep",           // k-step bounded-lineage training loop
    "x1_edit_distance_join",     // lossless Ed-Join prefix-filter chain
    "x6_dsir_select",            // DSIR hashed-ngram importance selection
    "x8_pagerank_states",        // 5-iteration weighted PageRank
    "x3_bm25_topdocs",           // BM25 lexical retrieval page
    "x2_hybrid_rrf",             // BM25 ⊕ dense page RRF fusion
    "x8_triangle_counts",        // degree-oriented exact triangles
    "x3_train_classifier")       // in-engine GD training loop

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    // Warmup: JIT/codegen + file-index the inputs once so the first timed
    // query doesn't absorb ~10s of JVM startup (measured; see BENCH notes).
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def onePass(): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        // Every query starts isolated (Engine.isolate): each timing is the
        // query's self-contained full cost; within-query reuse — the part
        // that is a real operator property — still counts.
        Engine.isolate(spark)
        val t0 = System.nanoTime()
        // A crashing query must not vanish into a fast-looking timing:
        // record it in `failed`, surfaced in the output JSON, and say why
        // on stderr the first time (stdout carries only the JSON line).
        try force(fn(spark, sfDir))
        catch { case e: Throwable =>
          if (failed.add(name)) System.err.println(s"[bench] $name failed: $e")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    // three passes, per-query MIN: isolates JIT/GC/machine-load noise.
    // Two passes proved insufficient when the HOST is loaded for the whole
    // run (round 3's driver bench measured 98s for work that re-measures at
    // 50s idle — both passes were slow together); a third pass widens the
    // window a transient load spike must fully cover to distort the min.
    // SPARK_GRAFT_BENCH_PASSES (r19, default 3 — driver semantics
    // unchanged) exists for the big scaled boards, where one pass is
    // hours and per-query times are tens of seconds — far above the
    // noise the min-of-3 exists to cancel; the stat field labels it.
    val nPasses = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3")
      // validate BEFORE the hours-long run: a typo'd or non-positive
      // value must fail here, not as an opaque min-of-empty at the end
      val n = try raw.toInt catch {
        case _: NumberFormatException =>
          sys.error(s"SPARK_GRAFT_BENCH_PASSES must be an integer >= 1, got '$raw'")
      }
      require(n >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $n")
      n
    }
    val passes = (1 to nPasses).map(_ => onePass().toMap)
    val results = SparkEntry.queries.keys.toSeq.sorted
      .map(k => k -> passes.map(_(k)).min)
    // Locale.ROOT: the f-interpolator uses the default locale, which
    // renders a comma decimal separator on e.g. de_DE JVMs → broken JSON
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def fmt(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val full = fmt(results)
    val head = fmt(results.filter { case (k, _) => headline.contains(k) })
    val fail = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Self-normalization (round 14): three consecutive rounds spent a
    // verdict item refuting cross-session load multipliers, so the sweep
    // now classifies its own movers. `normalized` divides each query by
    // THIS sweep's per-query mean — a pure shape profile that cancels any
    // whole-sweep multiplier, so a mover is real only if its NORMALIZED
    // value shifts across rounds. `q1_anchor_ratio` divides this sweep's
    // q1_pricing_summary by the r8 isolated anchor (0.446 s) — the
    // absolute session-load estimate for the sweep as a whole. Reading
    // rule documented in BASELINE.md ("Bench anchor" section).
    // Failed queries are EXCLUDED from both the mean denominator and the
    // normalized map: a failed entry records time-to-crash, which would
    // shift the whole shape profile and break the cross-round comparison
    // the normalized columns exist for (the `failed` array is the flag).
    val ok = results.filter { case (k, _) => !failed.contains(k) }
    val pqMean = ok.map(_._2).sum / math.max(1, ok.size)
    val normalized = ok.map { case (k, v) => k -> v / pqMean }
    val q1Ratio = results.toMap.get("q1_pricing_summary")
      .map(t => s""","q1_anchor_ratio":${num(t / 0.446)}""").getOrElse("")
    val meanPart = s""","pq_mean":${num(pqMean)}$q1Ratio"""
    try {
      val fullJson =
        s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$fail$meanPart,"queries":$full,"normalized":${fmt(normalized)},"sf":"$sfDir"}"""
      val p = java.nio.file.Paths.get("target/bench_full.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, fullJson.getBytes)
      // Every sweep ALSO lands a timestamped copy under bench_archive/
      // (r19): target/bench_full.json is single-generation, and the r18
      // closing sweep's per-query detail was overwritten by the next
      // driver sweep before anyone archived it. The archive makes every
      // sweep's full map durable without changing the driver contract.
      val ts = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
        .format(new java.util.Date())
      val sfBase = java.nio.file.Paths.get(sfDir).getFileName.toString
      val ap = java.nio.file.Paths.get(
        s"bench_archive/bench_full_${ts}_${sfBase}.json")
      java.nio.file.Files.createDirectories(ap.getParent)
      java.nio.file.Files.write(ap, fullJson.getBytes)
    } catch { case _: Throwable => () }
    // stdout stays SHORT (round 15): the driver captures a bounded tail,
    // and r14's line — headline + normalized headline — overflowed it,
    // clipping the leading '{' so BENCH_r14.json parsed null. The
    // normalized map lives only in target/bench_full.json now.
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","n_queries":${results.size},"failed":$fail,"stat":"min_of_$nPasses"$meanPart,"queries":$head,"sf":"$sfDir"}""")
    spark.stop()
  }
}
