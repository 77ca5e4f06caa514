package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, DedupCaches, GraphOps, TextOps}

/** Round-11 regression fixtures: the x8 NULL-state oracle trap, the
  * vertical-tab whitespace-class divergence, and the X8 cache handle. */
class Round11OpsSpec extends SparkSpec {
  import spark.implicits._

  /** Transition edges derived from an event log where one event's props
    * payload LACKS the state key — the realistic ingest gap that makes
    * `state` NULL and (pre-fix) poisoned the oracle's `NOT IN` dangling
    * set. Yields both a NULL-src and a NULL-dst edge candidate. */
  private def edgesWithNullState = {
    val ev = Seq(
      // user A walks 1 → 2 → (missing) → 3: the middle event has no k,
      // so transitionEdges emits (2, NULL)-dropped and (NULL, 3) edges
      ("a", 1L, """{"k": 1}"""),
      ("a", 2L, """{"k": 2}"""),
      ("a", 3L, """{}"""),
      ("a", 4L, """{"k": 3}"""),
      // user B: a clean 1 → 3 → 1 cycle plus a dangling hop to 4
      ("b", 1L, """{"k": 1}"""),
      ("b", 2L, """{"k": 3}"""),
      ("b", 3L, """{"k": 1}"""),
      ("b", 4L, """{"k": 4}""")
    ).toDF("user_id", "ts", "props")
    GraphOps.transitionEdges(ev, "user_id", Seq(col("ts")),
      get_json_object(col("props"), "$.k").cast("long"))
  }

  private def cleanEdges =
    edgesWithNullState.where(col("src").isNotNull && col("dst").isNotNull)

  test("transitionEdges surfaces NULL-state edges; the graph ops drop them") {
    val e = edgesWithNullState
    // the raw edge list DOES carry the ingest gap (src NULL, dst kept)…
    assert(e.where(col("src").isNull).count() == 1)
    // …and every iterative op excludes it: no NULL node anywhere
    val frames = Seq(
      GraphOps.pagerank(e, iters = 3),
      GraphOps.pagerankPersonalized(e, Seq(1L).toDF("node"), iters = 3),
      GraphOps.hits(e, iters = 3),
      GraphOps.hopDistances(e, Seq(1L).toDF("node"), maxHops = 3),
      GraphOps.triangleCounts(e))
    frames.foreach { f =>
      assert(f.where(col("node").isNull).count() == 0)
    }
  }

  test("pagerank over a null-state log equals pagerank over the clean graph") {
    // the agreement the rewritten oracle encodes: a NULL state is not a
    // node, so ranks (incl. the dangling set feeding node 4's mass)
    // match the pre-filtered graph exactly
    val got = GraphOps.pagerank(edgesWithNullState, iters = 5)
      .as[(Long, Double)].collect().toMap
    val want = GraphOps.pagerank(cleanEdges, iters = 5)
      .as[(Long, Double)].collect().toMap
    assert(got == want)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    // node 4 has no out-edges — it IS dangling, and its mass was
    // redistributed (rank strictly above the bare teleport floor means
    // the dangling term stayed non-empty despite the NULL src rows)
    assert(got(4L) > (1.0 - 0.85) / 4.0)
  }

  test("personalized pagerank dangling mass survives NULL-src edges") {
    val got = GraphOps.pagerankPersonalized(edgesWithNullState,
      Seq(1L).toDF("node"), iters = 5).as[(Long, Double)].collect().toMap
    val want = GraphOps.pagerankPersonalized(cleanEdges,
      Seq(1L).toDF("node"), iters = 5).as[(Long, Double)].collect().toMap
    assert(got == want)
  }

  test("cross-corpus dedup keeps a null-text document (anti-join semantics)") {
    // the NOT EXISTS oracle discipline: a NULL fingerprint matches no
    // reference row, so the document SURVIVES on both engines — the old
    // NOT IN form would have three-valued it out of the oracle's result
    val newDocs = Seq((1L, Option("shared body")), (2L, Option.empty[String]),
      (3L, Option("fresh body"))).toDF("doc_id", "text")
    val refDocs = Seq((10L, "shared body")).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstReference(newDocs, refDocs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L))
  }

  test("vertical tab: fingerprint and stripMarkup collapse U+000B like Java \\s") {
    // Java `\s` includes U+000B; RE2/DuckDB `\s` does not — the explicit
    // class keeps the Spark side on Java-`\s` semantics so the oracle can
    // replay the SAME byte set with the SAME literal.
    val df = Seq(("ab", "a b"), ("x\ty", "x y"))
      .toDF("vt", "plain")
    val r = df.select(
      TextOps.fingerprint(col("vt")).as("fp_vt"),
      TextOps.fingerprint(col("plain")).as("fp_plain"),
      TextOps.stripMarkup(concat(lit("<p>"), col("vt"), lit("</p>"))).as("clean"),
      col("plain")).collect()
    r.foreach { case Row(fpVt: String, fpPlain: String, clean: String, plain: String) =>
      assert(fpVt == fpPlain)
      assert(clean == plain)
    }
  }

  test("exact re-rank dominates raw ADC top-k against the same exact reference") {
    // any true neighbor the ADC top-5 catches is in the 20-candidate
    // shortlist, and within the shortlist at most 4 items outrank it by
    // cosine — so per query |exact ∩ rerank5| >= |exact ∩ adc5|, always
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val qp = pmod(col("vec_id"), lit(100)) === 0
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 2, dim = 64,
      seedPred = pmod(col("vec_id"), lit(97)) === 3, iters = 2).cache()
    def pairs(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("cand_id")).as[(Long, Long)]
        .collect().groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val exact = pairs(Similarity.bruteForceTopK(emb, "vec_id", "embedding", qp, k = 5))
    val adc = pairs(Similarity.ivfPqSearch(emb, "vec_id", "embedding", 2, 64, cb,
      pmod(col("vec_id"), lit(89)) === 1, qp, k = 5, nprobe = 2))
    val rr = pairs(Similarity.ivfPqRerank(emb, "vec_id", "embedding", 2, 64, cb,
      pmod(col("vec_id"), lit(89)) === 1, qp, k = 5, nprobe = 2, shortlist = 20))
    cb.unpersist()
    exact.foreach { case (q, ex) =>
      val hitsRr = ex.intersect(rr.getOrElse(q, Set.empty)).size
      val hitsAdc = ex.intersect(adc.getOrElse(q, Set.empty)).size
      assert(hitsRr >= hitsAdc, s"query $q: rerank $hitsRr < adc $hitsAdc")
    }
  }

  test("x8 iterative ops release their working set through the cache handle") {
    val e = cleanEdges
    def assertReleased(run: DedupCaches => org.apache.spark.sql.DataFrame): Unit = {
      spark.sharedState.cacheManager.clearCache()
      val caches = new DedupCaches
      run(caches).collect()
      assert(!spark.sharedState.cacheManager.isEmpty) // working set cached
      caches.unpersistAll()
      assert(spark.sharedState.cacheManager.isEmpty)  // and fully released
    }
    assertReleased(c => GraphOps.hits(e, iters = 2, caches = c))
    assertReleased(c => GraphOps.pagerankPersonalized(e,
      Seq(1L).toDF("node"), iters = 2, caches = c))
    assertReleased(c => GraphOps.hopDistances(e,
      Seq(1L).toDF("node"), maxHops = 2, caches = c))
    assertReleased(c => GraphOps.triangleCounts(e, caches = c))
  }
}
