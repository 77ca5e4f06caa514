package graft

import org.apache.spark.sql.functions._
import graft.ops._
import graft.sources.Tables
import graft.streaming.StreamingOps

/** Remaining-op coverage: simhash pairs, salted agg, as-of marker window,
  * IVF, seeded sampling, and a smoke pass over the operator surface. */
class FacadeSpec extends SparkSpec {
  import spark.implicits._

  test("simhash pairs surface identical documents at hamming 0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words entirely here now")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("salted two-stage aggregation equals the direct groupBy") {
    val df = Seq(("a", 1.0, 1L), ("a", 2.0, 2L), ("b", 5.0, 3L), ("a", 4.0, 4L))
      .toDF("k", "v", "pk")
    val salted = AggOps.saltedSum(df, "k", "v", saltBuckets = 4, saltSource = col("pk"))
      .orderBy("k").as[(String, Long, Double)].collect().toSeq
    assert(salted == Seq(("a", 3L, 7.0), ("b", 1L, 5.0)))
  }

  test("asOfLastMarker window: latest marker at-or-before each row") {
    val df = Seq((1L, 1L, "click", 10L), (1L, 2L, "view", 0L),
      (1L, 3L, "click", 30L), (1L, 4L, "view", 0L)).toDF("k", "t", "typ", "m")
    val got = JoinOps.asOfLastMarker(df, "k", Seq(col("t")),
      col("typ") === "click", col("m"), "last_click")
      .orderBy("t").select("last_click").as[Long].collect().toSeq
    assert(got == Seq(10L, 10L, 30L, 30L))
  }

  test("asOfLastMarker returns the LATEST marker, not the max (non-monotone payload)") {
    val df = Seq((1L, 1L, "click", 90L), (1L, 2L, "click", 10L),
      (1L, 3L, "view", 0L)).toDF("k", "t", "typ", "m")
    val got = JoinOps.asOfLastMarker(df, "k", Seq(col("t")),
      col("typ") === "click", col("m"), "last_click")
      .orderBy("t").select("last_click").as[Long].collect().toSeq
    assert(got == Seq(90L, 10L, 10L)) // a running max would give 90, 90, 90
  }

  test("IVF top-k finds the near-parallel vector within its cell") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),          // centroid (pred: id % 2 == 0 picks 0, 2)
      (1L, Seq(0.99f, 0.01f)),        // near 0's cell
      (2L, Seq(0.0f, 1.0f)),          // centroid
      (3L, Seq(0.01f, 0.99f)))        // near 2's cell
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      centroidPred = pmod(col("vec_id"), lit(2)) === 0,
      queryPred = col("vec_id") === 1L, k = 1)
      .select("cand_id").as[Long].collect().toSeq
    assert(got == Seq(0L)) // cell-mate, not the orthogonal pair
  }

  test("seeded sampling is reproducible for a fixed seed") {
    val df = spark.range(1000).toDF("x")
    val a = JoinOps.seededSample(df, 0.1, seed = 7).as[Long].collect().toSeq
    val b = JoinOps.seededSample(df, 0.1, seed = 7).as[Long].collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("operator surface smoke over sf0.001") {
    val docs = Tables.documents(spark, sf001)
    val st = TextOps.textStats(col("text"))
    assert(docs.select(col("doc_id"), st.getField("n_tokens").cast("long"),
      TextOps.subwordCountFromStats(st, col("text")),
      TextOps.qualityScoreFromStats(st, col("text")), TextOps.langIdFromStats(st),
      TextOps.fingerprint(col("text"))).count() == 500)
    val ev = Tables.events(spark, sf001)
    assert(StreamingOps.sessionSums(ev).count() > 0)
    assert(StreamingOps.cdcLatestState(ev).count() > 0)
    val t = Tables.transitions(spark, sf001)
    assert(SeqOps.discountedReturn(t, "episode_id", Seq(col("t"), col("cost")),
      col("cost"), 0.99, "return").columns.contains("return"))
    assert(Similarity.bruteForceTopK(Tables.embeddings(spark, sf001), "vec_id",
      "embedding", col("vec_id") === 0L, k = 3).count() == 3)
    assert(docs.withColumn("text", TextOps.redactPii(col("text"))).count() == 500)
    assert(AggOps.exactQuantiles(docs, Seq("lang"), "n_chars", Seq(0.5, 0.9))
      .columns.toSeq == Seq("lang", "__q", "__qval"))
    assert(docs.withColumn("clf_score", TextOps.classifierScore(col("text")))
      .columns.contains("clf_score"))
    val kept = Curation.tokenBudgetSelect(
      docs.select(col("doc_id"), TextOps.qualityScoreFromStats(st, col("text")).as("q"),
        st.getField("n_tokens").cast("long").as("n")),
      "doc_id", col("q"), col("n"), 2000L)
    assert(kept.count() > 0 && kept.count() < 500)
    assert(Curation.mixtureSample(docs, "doc_id", "source",
      Map("src0" -> 50, "src1" -> 50)).count() > 0)
    // round-9 surfaces
    assert(Dedup.editDistanceJoin(docs, "doc_id", lower(substring(col("text"), 1, 40)))
      .columns.toSeq == Seq("a_id", "b_id", "dist"))
    assert(Curation.dsirWeights(docs, "text", col("lang") === "en")
      .orderBy(col("weight").desc, col("doc_id")).limit(20).count() == 20)
    assert(Curation.weightedSample(docs, "doc_id", col("n_chars").cast("double"), 25)
      .count() == 25)
    val emb = Tables.embeddings(spark, sf001)
    assert(Similarity.knnClassify(emb, "vec_id", "embedding", "label",
      col("vec_id") % 50 === 0).columns.contains("pred_label"))
    assert(Similarity.tripletMine(emb, "vec_id", "embedding", "label",
      col("vec_id") % 50 === 0).columns.contains("margin"))
    assert(HyperLogLog.estimate(HyperLogLog.registers(
      docs.select(col("source"), explode(TextOps.tokens(col("text"))).as("t")),
      "source", col("t")), "source").count() == 20)
    val byUser = Seq(col("ts"), col("event_id"))
    assert(GraphOps.pagerank(GraphOps.transitionEdges(ev, "user_id", byUser,
      get_json_object(col("props"), "$.k").cast("long")), iters = 2).count() > 0)
    assert(GraphOps.topPaths(ev, "user_id", byUser, col("event_type")).count() > 0)
    // round-13 surfaces
    val comps = Similarity.pcaTopK(emb, "embedding", dim = 64, k = 2, iters = 2)
    assert(comps.count() == 128 && comps.columns.contains("eigenvalue"))
    val white = Similarity.pcaProjectTopK(emb, "vec_id", "embedding", comps)
    assert(white.columns.toSeq ==
      Seq("vec_id", "comp", "score", "white", "residual_norm2"))
    assert(TextOps.bpeMergesLocal(docs, "doc_id", "text", merges = 2).count() == 2)
    assert(TextOps.bpeMergesBytes(docs, "doc_id", "text", merges = 2)
      .select("merged").as[String].collect().forall(_.matches("[0-9a-f]+")))
    val wav = spark.range(3).select(col("id").as("doc_id"),
      Multimodal.syntheticWav(lit(8000), lit(1), lit(8),
        lit("pcm0".getBytes)).as("media")).as[Multimodal.MediaRow]
    assert(Multimodal.decodeWav(wav).collect().forall(_.n_frames == 4L))
    val mp4 = spark.range(3).select(col("id").as("doc_id"),
      Multimodal.syntheticMp4(lit(600L), lit(1200L),
        lit(Array.emptyByteArray)).as("media")).as[Multimodal.MediaRow]
    assert(Multimodal.decodeMp4(mp4).collect().forall(_.duration_us == 2000000L))
    val img = spark.range(3).select(col("id").as("doc_id"),
      Multimodal.syntheticExifJpeg(lit(40), lit(30), lit(6), lit(true),
        lit(Array.emptyByteArray)).as("media")).as[Multimodal.MediaRow]
    assert(Multimodal.decodeExif(img).collect().forall(d =>
      d.effective_w == 30 && d.effective_h == 40))
  }

  test("artifact store + ANN index maintenance + serving round-trip") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_ann_art").toString
    val index = s"$base/index"; val store = s"$base/centroids"
    val v = Artifacts.saveArtifact(
      Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "cv"),
      store, "ivf_centroids", Map("dim" -> "2"))
    assert(v == 1L)
    val (cents, meta) = Artifacts.loadArtifact(spark, store, "ivf_centroids")
    assert(meta.params("dim") == "2" && cents.count() == 2L)
    // a small skewed index on disk, then the composed pass + serving
    ((0L until 12L).map(i =>
      (i, Seq(1.0 + 0.001 * i, if (i % 2 == 0) 0.3 else -0.3), 0L)) :+
      ((100L, Seq(0.0, 1.0), 1L)))
      .toDF("pid", "pv", "cell").write.partitionBy("cell").parquet(index)
    val (_, v2, report) = StreamingOps.maintainAnnIndex(spark, index, store,
      maxFilesPerCell = 2, maxSkew = 1.5, nSplit = 2)
    assert(v2 == 2L && report.count() >= 2L)
    val hits = Similarity.annIndexSearchFromStore(spark, index, store,
      Seq((9999L, Seq(1.0, 0.31))).toDF("vec_id", "embedding"), "vec_id", "embedding",
      k = 3).select("cand_id").as[Long].collect().toSet
    assert(hits.nonEmpty && hits.forall(_ % 2 == 0), hits.toString)
    // OPQ allocation + simhash bucket report
    val comps = (1 to 4).flatMap(c => (0 until 4).map(i =>
      (c.toLong, i.toLong, 0.1, 1.0 / c))).toDF("comp", "i", "loading", "eigenvalue")
    val alloc = Similarity.opqAllocate(comps, m = 2)
      .select("comp", "eigenvalue").distinct().as[(Long, Double)].collect().toMap
    assert(alloc == Map(1L -> 1.0, 2L -> 0.25, 3L -> 0.5, 4L -> 1.0 / 3))
    assert(Dedup.simhashBucketReport(
      Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee")).toDF("doc_id", "text"),
      "doc_id", "text").count() >= 1L)
  }
}
