package graft

import org.apache.spark.sql.functions._

/** Round-9 operator semantics: the IVF+PQ composed index and the
  * incremental reweighting chain components. */
class Round9OpsSpec extends SparkSpec {

  private def emb = sources.Tables.embeddings(spark, sf001)
  private val coarsePred = pmod(col("vec_id"), lit(89)) === 1
  private val seedPred = pmod(col("vec_id"), lit(97)) === 3
  private val queryPred = pmod(col("vec_id"), lit(100)) === 0

  private def codebooks = ops.Similarity.pqTrain(emb, "vec_id", "embedding",
    m = 2, dim = 64, seedPred = seedPred, iters = 2)

  test("IVF+PQ: probing every cell reproduces flat ADC search exactly") {
    // With nprobe ≥ the coarse cell count the prune is a no-op, so the
    // composed index must equal pqSearch bit-for-bit (same ADC fold
    // order, same tie-breaks) — the composition adds pruning, never a
    // different distance.
    val cb = codebooks.cache()
    try {
      val flat = ops.Similarity.pqSearch(emb, "vec_id", "embedding",
        m = 2, dim = 64, codebooks = cb, queryPred = queryPred, k = 5)
        .collect().toSet
      val full = ops.Similarity.ivfPqSearch(emb, "vec_id", "embedding",
        m = 2, dim = 64, codebooks = cb, centroidPred = coarsePred,
        queryPred = queryPred, k = 5, nprobe = 1000000)
        .collect().toSet
      assert(full == flat,
        "all-cells IVF+PQ must equal flat ADC search exactly")
    } finally cb.unpersist()
  }

  test("IVF+PQ: widening nprobe never loses flat-ADC top-k hits") {
    val cb = codebooks.cache()
    try {
      val flat = ops.Similarity.pqSearch(emb, "vec_id", "embedding",
        m = 2, dim = 64, codebooks = cb, queryPred = queryPred, k = 5)
        .select(col("query_id"), col("cand_id"))
      def hits(nprobe: Int): Long =
        flat.join(
          ops.Similarity.ivfPqSearch(emb, "vec_id", "embedding",
            m = 2, dim = 64, codebooks = cb, centroidPred = coarsePred,
            queryPred = queryPred, k = 5, nprobe = nprobe)
            .select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_semi").count()
      val h1 = hits(1); val h2 = hits(2); val h3 = hits(3)
      assert(h2 >= h1 && h3 >= h2,
        s"ADC hits must be monotone in nprobe: $h1, $h2, $h3")
    } finally cb.unpersist()
  }

  test("k-step training loop: per-iteration lineage truncated to leaves; plan linear in k") {
    val df4 = Queries.trainKStep(spark, sf001, 4)
    val plan4 = df4.queryExecution.executedPlan.toString
    // every step's aggregate was localCheckpointed away: the final plan
    // is a union of k one-row leaf scans — no aggregate or window left
    assert(!plan4.contains("HashAggregate") && !plan4.contains("SortAggregate"),
      "step lineage must be truncated, not re-embedded")
    assert("ExistingRDD".r.findAllIn(plan4).size == 4,
      "one checkpointed leaf per step")
    // doubling k grows the final plan linearly (one leaf per step) —
    // naive chaining would re-embed every prior step's aggregate (O(k²))
    val len2 = Queries.trainKStep(spark, sf001, 2)
      .queryExecution.executedPlan.toString.length
    val len8 = Queries.trainKStep(spark, sf001, 8)
      .queryExecution.executedPlan.toString.length
    assert(len8 < len2 * 6,
      s"plan must grow linearly in k: k=2 → $len2 chars, k=8 → $len8")
  }

  test("k-step training loop: first two steps reproduce e2e_train_2step exactly") {
    val two = Queries.all.find(_.name == "e2e_train_2step").get
      .run(spark, sf001).collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val kfirst = Queries.trainKStep(spark, sf001, 2).collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(kfirst == two,
      "the checkpointed loop must compute the same recurrence as the unrolled DAG")
  }

  // ---- edit-distance similarity join ------------------------------------

  /** Brute-force reference: all-pairs Levenshtein via Spark's own
    * `levenshtein` on a cross join — the quadratic plan the operator's
    * filter chain must reproduce exactly (losslessness). */
  private def bruteEd(rows: Seq[(Long, String)], d: Int) = {
    import spark.implicits._
    val k = rows.toDF("id", "key")
    val a = k.select(col("id").as("a_id"), col("key").as("ka"))
    val b = k.select(col("id").as("b_id"), col("key").as("kb"))
    a.crossJoin(b).where(col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("ka"), col("kb")).cast("long"))
      .where(col("dist") <= d)
      .select(col("a_id"), col("b_id"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def edJoin(rows: Seq[(Long, String)], d: Int, q: Int = 2) = {
    import spark.implicits._
    ops.Dedup.editDistanceJoin(rows.toDF("id", "key"), "id", col("key"),
        maxDist = d, q = q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("editDistanceJoin is lossless vs brute force on random edit scripts") {
    // seeded generator: base strings plus mutants at 1..4 edits — the
    // prefix/length filter chain must drop NO pair the quadratic scan finds
    val rng = new scala.util.Random(9)
    val alpha = "abcdefg"
    def randStr(n: Int) = (0 until n).map(_ => alpha(rng.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (0 until edits).foreach { _ =>
        val p = if (cur.isEmpty) 0 else rng.nextInt(cur.length)
        rng.nextInt(3) match {
          case 0 if cur.nonEmpty => cur = cur.take(p) + cur.drop(p + 1) // del
          case 1 if cur.nonEmpty => // sub
            cur = cur.take(p) + alpha(rng.nextInt(alpha.length)) + cur.drop(p + 1)
          case _ => cur = cur.take(p) + alpha(rng.nextInt(alpha.length)) + cur.drop(p)
        }
      }
      cur
    }
    val bases = (0 until 12).map(i => randStr(6 + rng.nextInt(20)))
    val strs = bases ++ bases.flatMap(s => (1 to 4).map(e => mutate(s, e)))
    val rows = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    assert(edJoin(rows, d = 2) == bruteEd(rows, d = 2))
    assert(edJoin(rows, d = 1) == bruteEd(rows, d = 1))
  }

  test("editDistanceJoin short-string pool: below-prefix-threshold keys still pair") {
    // all of these are shorter than q(d+1)=6 (or straddle it) — the prefix
    // principle gives no guarantee here, the length-banded short pool must
    val rows: Seq[(Long, String)] = Seq(
      1L -> "ab", 2L -> "ac", 3L -> "abc", 4L -> "", 5L -> "a",
      6L -> "abcde", 7L -> "abcdef", 8L -> "abcdefg", 9L -> "zzzz")
    assert(edJoin(rows, d = 2) == bruteEd(rows, d = 2))
  }

  test("editDistanceJoin repetitive keys: gram multiplicity tokens keep losslessness") {
    // "aaaa…" strings have ONE distinct gram — the (gram, occurrence#)
    // tokenization is what keeps the prefix filter sound here
    val rows: Seq[(Long, String)] = Seq(
      1L -> ("a" * 20), 2L -> ("a" * 19 + "b"), 3L -> ("a" * 18),
      4L -> ("a" * 10 + "b" + "a" * 9), 5L -> ("ab" * 10), 6L -> ("ba" * 10))
    assert(edJoin(rows, d = 2) == bruteEd(rows, d = 2))
  }

  // ---- labeled-neighbor ops (kNN classify, triplet mining) --------------

  test("knnClassify: crafted clusters vote correctly; tie breaks to lowest label") {
    import spark.implicits._
    // two tight clusters on axes; query 0 sits in cluster A (label 1);
    // query 10 is EQUIDISTANT between one label-2 and one label-3 point
    // with k=2 → 1-1 vote tie, equal best cosine → lowest label wins
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1), (1L, Array(0.9f, 0.1f, 0.0f), 1),
      (2L, Array(0.95f, 0.05f, 0.0f), 1), (3L, Array(0.0f, 1.0f, 0.0f), 2),
      (4L, Array(0.0f, 0.9f, 0.1f), 2),
      (10L, Array(0.0f, 1.0f, 1.0f), 9),
      (11L, Array(0.0f, 1.0f, 0.0f), 3), (12L, Array(0.0f, 0.0f, 1.0f), 2))
    val df = rows.toDF("vec_id", "embedding", "label")
    val r = ops.Similarity.knnClassify(df, "vec_id", "embedding", "label",
      col("vec_id") === 0L || col("vec_id") === 10L, k = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(r(0L) == (1L, 2L), "query 0: both nearest neighbors are label 1")
    // query 10: nearest two are 11 (label 3) and 12 (label 2), same cosine
    // → 1-1 tie, equal best_cos → lowest label (2) wins
    assert(r(10L)._1 == 2L)
  }

  test("tripletMine: positive shares the anchor label, negative never does") {
    val r = ops.Similarity.tripletMine(emb, "vec_id", "embedding", "label",
      pmod(col("vec_id"), lit(7)) === 3)
    val bad = r.join(emb.select(col("vec_id").as("pos_id"),
        col("label").cast("long").as("pl")), Seq("pos_id"))
      .join(emb.select(col("vec_id").as("neg_id"),
        col("label").cast("long").as("nl")), Seq("neg_id"))
      .where(col("pl") =!= col("anchor_label") || col("nl") === col("anchor_label"))
      .count()
    assert(bad == 0)
    val m = r.where(col("margin") =!= col("pos_cos") - col("neg_cos")).count()
    assert(m == 0)
  }

  // ---- DSIR importance weights ------------------------------------------

  test("dsirWeights: target-vocabulary docs outweigh off-target docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha beta", "t"), (2L, "alpha beta beta alpha", "t"),
      (3L, "gamma delta gamma delta", "r"), (4L, "delta gamma delta", "r"),
      (5L, "alpha beta alpha", "r"), // raw doc that LOOKS like the target
      (6L, "gamma delta epsilon", "r")).toDF("doc_id", "text", "kind")
    val w = ops.Curation.dsirWeights(docs, "text", col("kind") === "t")
      .select(col("doc_id"), col("weight"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 5 is drawn from the target distribution, 6 from the off-target
    // one; orderings are the meaningful property at spec scale (the add-α
    // mass αB dwarfs these tiny corpora, shifting absolute levels)
    assert(w(5L) > w(6L))
    assert(w(1L) > w(3L), "target-mix docs must outweigh off-target docs")
  }

  test("dsirWeights: weight is invariant to doc length at fixed token mix") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", "t"), (2L, "alpha beta " * 10, "r"),
      (3L, "alpha beta", "r")).toDF("doc_id", "text", "kind")
    val w = ops.Curation.dsirWeights(docs, "text", col("kind") === "t")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("weight")).toMap
    assert(w(2L) == w(3L), "length-normalized: same mix, same weight")
  }

  // ---- Zipf fit ---------------------------------------------------------

  test("zipfFit recovers an exact power law") {
    import spark.implicits._
    // n_toks = round(1000 * rank^-0.7): docs with token counts on the curve
    val rows = (1 to 20).map { rk =>
      val n = math.round(1000.0 * math.pow(rk, -0.7)).toInt
      (rk.toLong, ("w " * n).trim, "g")
    }
    val fit = ops.TextOps.zipfFit(rows.toDF("doc_id", "text", "src"),
      "doc_id", "src", "text", maxRank = 20).collect().head
    val slope = fit.getAs[Double]("slope")
    val r2 = fit.getAs[Double]("r2")
    assert(math.abs(slope - (-0.7)) < 0.02, s"slope $slope should be ~ -0.7")
    assert(r2 > 0.999, s"r2 $r2 should be ~ 1 on exact power-law data")
  }

  test("zipfFit drops groups with fewer than 3 ranked docs") {
    import spark.implicits._
    val rows = Seq((1L, "a b c", "tiny"), (2L, "a b", "tiny"),
      (3L, "a b c d", "ok"), (4L, "a b c", "ok"), (5L, "a b", "ok"))
    val fit = ops.TextOps.zipfFit(rows.toDF("doc_id", "text", "src"),
      "doc_id", "src", "text")
    assert(fit.select(col("src")).collect().map(_.getString(0)).toSeq == Seq("ok"))
  }

  // ---- transition graph + PageRank --------------------------------------

  test("transitionEdges pairs consecutive per-user states with multiplicity") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 10L), (1L, 2L, 20L), (1L, 1L, 30L), (1L, 2L, 40L),
      (2L, 3L, 10L), (2L, 3L, 20L)).toDF("user_id", "state", "ts")
    val e = ops.GraphOps.transitionEdges(ev, "user_id", Seq(col("ts")),
        col("state"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(e == Set((1L, 2L, 2L), (2L, 1L, 1L), (3L, 3L, 1L)))
  }

  test("pagerank: symmetric cycle is uniform; ranks sum to ~1") {
    import spark.implicits._
    val cycle = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "weight")
    val r = ops.GraphOps.pagerank(cycle, iters = 10).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.values.toSet.size == 1, "cycle symmetry ⇒ identical ranks")
    assert(math.abs(r.values.sum - 1.0) < 1e-6, "rank mass conserved")
  }

  // ---- weighted sampling (A-ES) -----------------------------------------

  test("weightedSample tilts selection toward heavy weights; excludes non-positive") {
    import spark.implicits._
    val rows = (1 to 100).map(i => (i.toLong, 10.0)) ++
      (101 to 200).map(i => (i.toLong, 1.0)) ++
      Seq((201L, 0.0), (202L, -5.0))
    val got = ops.Curation.weightedSample(rows.toDF("id", "w"), "id",
      col("w"), k = 50).select(col("id")).as[Long].collect()
    assert(got.length == 50)
    assert(!got.contains(201L) && !got.contains(202L),
      "non-positive weights must be excluded")
    val heavy = got.count(_ <= 100)
    // E[heavy] ≈ 45 of 50 at a 10:1 tilt; demand a clear majority
    assert(heavy > 35, s"only $heavy of 50 draws from the heavy half")
  }

  test("weightedSample is deterministic per seed and moves with the seed") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, 1.0 + i % 7)).toDF("id", "w")
    def draw(seed: String) = ops.Curation.weightedSample(df, "id", col("w"),
      k = 30, seed = seed).select(col("id")).as[Long].collect().toSeq
    assert(draw("a") == draw("a"), "same seed ⇒ identical sample and order")
    assert(draw("a") != draw("b"), "different seed ⇒ different draw")
  }

  // ---- session paths ----------------------------------------------------

  test("topPaths counts complete n-grams only, ordered by frequency then path") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"), (1L, 4L, "b"), (1L, 5L, "c"),
      (2L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "c"),
      (3L, 1L, "x"), (3L, 2L, "y")) // too short for n=3 — contributes nothing
      .toDF("user_id", "ts", "event_type")
    val got = ops.GraphOps.topPaths(ev, "user_id", Seq(col("ts")),
        col("event_type"), n = 3, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a>b>c", 2L), ("b>c>b", 1L), ("c>b>c", 1L)))
  }

  // ---- HyperLogLog ------------------------------------------------------

  test("hll estimate lands within the sketch's error bound on 10k distinct items") {
    import spark.implicits._
    val items = (1 to 10000).map(i => ("g", s"item_$i")).toDF("g", "item")
    val est = ops.HyperLogLog.estimate(
      ops.HyperLogLog.registers(items, "g", col("item")), "g")
      .collect().head.getAs[Double]("estimate")
    // σ ≈ 1.04/√256 = 6.5%; 3σ bound with margin
    assert(math.abs(est - 10000.0) / 10000.0 < 0.2, s"estimate $est")
  }

  test("hll small-range correction: tiny cardinalities are near-exact") {
    import spark.implicits._
    val items = (1 to 12).map(i => ("g", s"x$i")).toDF("g", "item")
    val est = ops.HyperLogLog.estimate(
      ops.HyperLogLog.registers(items, "g", col("item")), "g")
      .collect().head.getAs[Double]("estimate")
    assert(math.abs(est - 12.0) < 2.0, s"estimate $est")
  }

  test("hll merge: bucket-wise max of group sketches equals the sketch of the union") {
    import spark.implicits._
    val a = (1 to 400).map(i => ("a", s"k$i"))
    val b = (200 to 600).map(i => ("b", s"k$i")) // overlapping ranges
    val split = (a ++ b).toDF("g", "item")
    val merged = ops.HyperLogLog.unionRegisters(
      ops.HyperLogLog.registers(split, "g", col("item")), "g")
      .select(col("bucket"), col("m_j"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = ops.HyperLogLog.registers(
      (a ++ b).map { case (_, k) => ("__all__", k) }.toDF("g", "item"),
      "g", col("item"))
      .select(col("bucket"), col("m_j"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == direct, "HLL merge must be lossless (register maxes)")
  }

  test("pagerank: dangling-node mass is redistributed, hub outranks leaf") {
    import spark.implicits._
    // star into node 9 (dangling): 9 must outrank its sources, and total
    // mass must stay ~1 (the dangling term re-injects 9's rank)
    val star = Seq((1L, 9L, 1L), (2L, 9L, 1L), (3L, 9L, 1L))
      .toDF("src", "dst", "weight")
    val r = ops.GraphOps.pagerank(star, iters = 8).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(9L) > r(1L))
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
  }

  test("personalized pagerank: mass stays in the seed's reachable set") {
    import spark.implicits._
    // cycle 1→2→3→1 reachable from seed 1; branch 4→5 is not. With
    // teleport pinned to {1}, the branch must stay at exactly 0 rank and
    // total mass must remain ~1 (dangling mass re-injects at the seed).
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "weight")
    val seeds = Seq(1L).toDF("node")
    val r = ops.GraphOps.pagerankPersonalized(edges, seeds, iters = 8)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(4L) == 0.0 && r(5L) == 0.0,
      "no teleport, no in-edges from the seed component ⇒ zero rank")
    assert(math.abs(r.values.sum - 1.0) < 1e-6, "rank mass conserved")
  }

  test("hits: hubs point at authorities, max-normalized to 1") {
    import spark.implicits._
    // 1 and 2 both link to 4; 2 and 3 also link to 5; node 2 links to
    // both targets so it is the best hub; 4 and 5 split authority with 4
    // ahead (fed by the stronger hub pair 1,2 vs 2,3 — symmetric here, so
    // equal; break symmetry with a second edge weight)
    val g = Seq((1L, 4L, 1L), (2L, 4L, 2L), (2L, 5L, 1L), (3L, 5L, 1L))
      .toDF("src", "dst", "weight")
    val r = ops.GraphOps.hits(g, iters = 8).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r(2L)._1 == 1.0, "the two-target hub holds the max hub score")
    assert(r(4L)._2 == 1.0, "the heavier-linked target holds max authority")
    assert(r(4L)._2 > r(5L)._2 && r(2L)._1 > r(1L)._1 && r(2L)._1 > r(3L)._1)
    assert(r(4L)._1 == 0.0 && r(5L)._1 == 0.0, "sinks have zero hub score")
    assert(r(1L)._2 == 0.0 && r(2L)._2 == 0.0 && r(3L)._2 == 0.0,
      "sources with no in-edges have zero authority")
  }

  test("trainHashClassifier learns signed weights that separate the labels") {
    import spark.implicits._
    // positives say "good great", negatives say "terrible awful" — tokens
    // chosen to land in DISTINCT hash buckets (25/1/23/14 of 32; e.g.
    // "wonderful" and "bad" collide in bucket 3, which would cancel).
    // After a few GD steps the positive-token buckets must carry positive
    // weight and the negative-token buckets negative weight.
    val docs = ((1L to 20L).map(i => (i, "good great good", 1))
      ++ (21L to 40L).map(i => (i, "terrible awful terrible", 0)))
      .toDF("doc_id", "text", "lab")
    val w = ops.TextOps.trainHashClassifier(docs, "doc_id", "text",
        col("lab") === 1, buckets = 32, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bkt = Seq("good", "great", "terrible", "awful").toDF("t")
      .select(col("t"), ops.Curation.dsirBucket(col("t"), 32).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bkt.values.toSet.size == 4, "fixture tokens must not collide")
    assert(w(bkt("good")) > 0 && w(bkt("great")) > 0,
      "positive-class token buckets gain positive weight")
    assert(w(bkt("terrible")) < 0 && w(bkt("awful")) < 0,
      "negative-class token buckets gain negative weight")
    assert(w(bkt("good")) > w(bkt("terrible")) + 0.1, "separation is material")
  }

  test("mad outliers: spike flagged while it would drown a 3-sigma z-score") {
    import spark.implicits._
    // 9 values near 10 plus one 10^6 spike: a single point's z-score is
    // bounded by (n−1)/√n ≈ 2.85 < 3 at n = 10 — the spike inflates σ
    // enough to hide ITSELF from the 3σ rule; med/MAD barely move and
    // flag it immediately. Also: a majority-constant group has MAD 0
    // and flags every deviating row (documented estimator behavior).
    val vals = (1 to 9).map(i => ("a", i.toLong, 10.0 + (i % 5))) :+
      ("a", 99L, 1e6) :+ ("b", 1L, 5.0) :+ ("b", 2L, 5.0) :+
      ("b", 3L, 5.0) :+ ("b", 4L, 7.0)
    val df = vals.toDF("g", "id", "v")
    val r = ops.AggOps.madOutliers(df, Seq("g"), "v")
      .where(col("is_outlier")).select(col("g"), col("id"))
      .collect().map(x => (x.getString(0), x.getLong(1))).toSet
    assert(r.contains(("a", 99L)), "the spike is a MAD outlier")
    assert(!r.exists(p => p._1 == "a" && p._2 <= 9L),
      "the ordinary cluster stays unflagged")
    assert(r.contains(("b", 4L)), "MAD = 0 ⇒ any deviation flags")
    // the naive 3σ rule misses the same spike (σ is spike-inflated)
    val stats = df.where(col("g") === "a")
      .agg(avg(col("v")).as("mu"), stddev_pop(col("v")).as("sd"))
      .collect()(0)
    assert(math.abs(1e6 - stats.getDouble(0)) < 3 * stats.getDouble(1),
      "fixture sanity: the z-score rule is blind to its own spike")
  }

  test("ngram diversity: looping text craters the bigram ratio first") {
    import spark.implicits._
    val varied = "alpha beta gamma delta epsilon zeta eta theta"
    val looped = "spam spam spam spam spam spam spam spam"
    val docs = Seq(("fresh", varied), ("fresh", varied.split(" ").reverse.mkString(" ")),
      ("loopy", looped), ("loopy", looped)).toDF("source", "text")
    val r = ops.TextOps.ngramDiversity(docs, "source", "text")
      .collect().map(x => x.getString(0) -> (x.getDouble(3), x.getDouble(6))).toMap
    assert(r("fresh")._1 > r("loopy")._1, "unigram TTR separates")
    assert(r("loopy")._2 < 0.1 && r("fresh")._2 > 0.5,
      "the looped source's bigram ratio collapses far harder")
  }

  test("media near-dup: exact copies collapse, feature-identical payloads pair") {
    import spark.implicits._
    def md5Nibble(s: String): Char =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.head
    // two byte-DIFFERENT payloads with IDENTICAL decoded features: same
    // length, first and last byte, and matching md5 first nibble (found
    // by search — the fake decode reads nothing else)
    val base = "qm"
    val pool = ('a' to 'z').map(c => s"q${c}m")
    val (p1, p2) = {
      val byNib = pool.groupBy(md5Nibble)
      val g = byNib.values.find(_.size >= 2).get
      (g(0), g(1))
    }
    val docs = Seq((1L, p1), (2L, p2),          // feature-identical near-dups
      (3L, p1), (4L, p1),                        // exact copies of doc 1
      (5L, "a completely different much longer payload string"))
      .toDF("doc_id", "text")
    val pairs = ops.Multimodal.mediaNearDupPairs(docs, "doc_id", "text",
        lenBand = 16, maxDist = 5.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.contains((1L, 2L, 0.0)),
      "byte-different, feature-identical payloads pair at distance 0")
    assert(!pairs.exists(p => Set(p._1, p._2).subsetOf(Set(1L, 3L, 4L))),
      "exact copies collapsed to one representative — no self-pairs")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L),
      "the far payload lands in another length band")
    assert(base.nonEmpty) // keep the search fixture honest
  }

  test("null/empty text rows are inert across the round-9 text ops") {
    import spark.implicits._
    val docs = Seq((1L, null: String, "a"), (2L, "", "a"),
      (3L, "solid gold content here", "b")).toDF("doc_id", "text", "src")
    val bm = ops.TextOps.bm25TopDocs(docs, "doc_id", "text",
      Seq("gold").toDF("term")).collect()
    assert(bm.map(_.getLong(0)).toSeq == Seq(3L),
      "bm25 scores only docs with tokens; null/empty rows are inert")
    val w = ops.TextOps.trainHashClassifier(docs, "doc_id", "text",
      col("src") === "b", buckets = 16, iters = 1)
    assert(w.count() == 16, "trainer emits the full weight table regardless")
    val cp = ops.Dedup.containmentPairs(docs, "doc_id", "text").collect()
    assert(cp.isEmpty, "no shingle-bearing pair ⇒ no containment rows, no throw")
    val strip = docs.select(ops.TextOps.stripMarkup(col("text"))).collect()
    assert(strip(0).isNullAt(0) && strip(1).getString(0) == "",
      "stripMarkup passes null through and keeps empty empty")
  }

  test("applyHashClassifier: trained weights separate held-out docs") {
    import spark.implicits._
    val train = ((1L to 20L).map(i => (i, "good great good", 1))
      ++ (21L to 40L).map(i => (i, "terrible awful terrible", 0)))
      .toDF("doc_id", "text", "lab")
    val w = ops.TextOps.trainHashClassifier(train, "doc_id", "text",
      col("lab") === 1, buckets = 32, iters = 4)
    val holdout = Seq((100L, "good great stuff"), (101L, "awful terrible day"),
      (102L, "")).toDF("doc_id", "text")
    val s = ops.TextOps.applyHashClassifier(holdout, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(100L) > 0.5 && s(101L) < 0.5,
      "positive-vocabulary doc scores above 0.5, negative below")
    assert(!s.contains(102L), "zero-token docs have no features, no score")
  }

  test("containment: truncated copy is caught one-way; jaccard misses it") {
    import spark.implicits._
    // alphabetic tokens — the tokenizer strips digits, so "w1" would
    // collapse every token to "w"
    def tk(i: Int) = "tok" + ('a' + i / 26).toChar + ('a' + i % 26).toChar
    val long = (0 until 40).map(tk).mkString(" ")                // 40 tokens
    val clip = (0 until 12).map(tk).mkString(" ")                // its prefix
    val docs = Seq((1L, long), (2L, clip), (3L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val c = ops.Dedup.containmentPairs(docs, "doc_id", "text",
        maxDf = 8, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(c.exists(p => p._1 == 2L && p._2 == 1L && p._3 == 1.0),
      "the clip's shingles are fully contained in the original")
    assert(!c.exists(p => p._1 == 1L && p._2 == 2L),
      "containment is asymmetric — the original is NOT inside the clip")
    val j = ops.Dedup.jaccardNearDup(docs, "doc_id", "text",
        maxDf = 8, threshold = 0.8)
      .collect()
    assert(j.isEmpty, "symmetric jaccard (10/38) misses the truncated copy")
  }

  test("stripMarkup: blocks die whole, tags and entities become spaces") {
    import spark.implicits._
    val rows = Seq(
      ("<p>hello <b>world</b></p>", "hello world"),
      ("<script>if (a < b) { x(); }</script>rest", "rest"),
      ("<style type=\"css\">p { color: red }</style>text", "text"),
      ("a&amp;b &#169; c", "a b c"),
      ("  already   plain  ", "already plain"),
      ("<div attr=\"<x>\">keep</div>", "\">keep")) // malformed: degrade, never retain tags
    val got = rows.map(_._1).toDF("t")
      .select(ops.TextOps.stripMarkup(col("t"))).as[String].collect()
    assert(got.toSeq == rows.map(_._2),
      "strip must match the documented per-case expectations")
  }

  test("upsampleBy: whole copies + stable fractional slice; pct<100 downsamples") {
    import spark.implicits._
    val docs = (0L until 200L).map(i =>
      (i, if (i < 100) "hot" else "cold")).toDF("doc_id", "src")
    val up = ops.Curation.upsampleBy(docs, "doc_id", "src",
      Map("hot" -> 250, "cold" -> 40))
    val counts = up.groupBy(col("doc_id"), col("src"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val hot = counts.filter(_._2 == "hot")
    assert(hot.length == 100 && hot.forall(c => c._3 == 2L || c._3 == 3L),
      "2.5 epochs ⇒ every hot doc twice, a slice three times")
    val nThree = hot.count(_._3 == 3L)
    assert(nThree > 25 && nThree < 75, s"~50% slice gets the extra copy ($nThree)")
    val cold = counts.filter(_._2 == "cold")
    assert(cold.forall(_._3 == 1L) && cold.length < 100,
      "pct<100 ⇒ no doc repeats and only the bucket slice survives")
    val again = ops.Curation.upsampleBy(docs, "doc_id", "src",
      Map("hot" -> 250, "cold" -> 40))
      .select(col("doc_id"), col("copy")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = up.select(col("doc_id"), col("copy")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == first, "id-bucket rates replay identically")
  }

  test("hop distances: multi-source BFS, directed, cutoff leaves null") {
    import spark.implicits._
    // seeds {1, 20}: chain 1→2→…→8 (node k at k−1 hops), shortcut 20→4
    // caps node 4 at 1 hop (multi-source min), 9 sits 8 hops out — past
    // the maxHops=5 horizon → null; upstream 0→1 is wrong-direction.
    val g = (1L to 8L).map(k => (k, k + 1)) ++ Seq((20L, 4L), (0L, 1L))
    val r = ops.GraphOps.hopDistances(g.toDF("src", "dst"),
        Seq(1L, 20L).toDF("node"), maxHops = 5)
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
    assert(r(1L) == Some(0L) && r(20L) == Some(0L), "seeds at 0 hops")
    assert(r(2L) == Some(1L) && r(3L) == Some(2L))
    assert(r(4L) == Some(1L), "shortcut wins the multi-source min")
    assert(r(5L) == Some(2L) && r(6L) == Some(3L) && r(7L) == Some(4L)
      && r(8L) == Some(5L), "relaxation flows through the shortcut")
    assert(r(9L) == None, "past the k-hop horizon stays null")
    assert(r(0L) == None, "edges are directed — upstream is unreachable")
  }

  test("rrf fusion: consensus beats a single first place; singletons kept") {
    import spark.implicits._
    // doc 7 is mid-ranked on BOTH lists (2nd + 2nd); docs 1 and 9 each
    // top one list but miss the other. RRF's point: 2/(60+2) > 1/(60+1),
    // so the consensus doc must win the fused page.
    val lex = Seq((1L, 1L), (7L, 2L), (3L, 3L)).toDF("id", "rank")
    val den = Seq((9L, 1L), (7L, 2L), (5L, 3L)).toDF("id", "rank")
    val r = ops.Similarity.rrfFuse(lex, den, c = 60, topK = 10).collect()
    assert(r.head.getLong(0) == 7L, "both-list doc fuses to the top")
    val ids = r.map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L, 7L, 9L), "single-list docs are kept")
    val d7 = r.find(_.getLong(0) == 7L).get
    assert(d7.getDouble(3) == 1.0 / 62 + 1.0 / 62, "score is Σ 1/(c+rank)")
    val d9 = r.find(_.getLong(0) == 9L).get
    assert(d9.isNullAt(1) && d9.getLong(2) == 1L,
      "missing-list rank stays null, not zero")
  }

  test("triangle counts: exact per-node counts; loops/parallel edges ignored") {
    import spark.implicits._
    // K4 minus edge (1,4): triangles (1,2,3) and (2,3,4). Pendant node 5.
    // Noise: duplicate (1,2), reversed (2,1), self-loop (3,3) — all
    // collapsed by canonicalization, so counts are unchanged by them.
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 5L),
        (1L, 2L), (2L, 1L), (3L, 3L))
      .toDF("src", "dst").withColumn("weight", lit(1L))
    val r = ops.GraphOps.triangleCounts(g).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("bm25: rare query terms dominate and length normalization bites") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma gamma gamma gamma gamma"), // tf(beta)=1, long
      (2L, "zeta alpha"),                               // rare term, short
      (3L, "beta"),                                     // tf(beta)=1, short
      (4L, "gamma gamma gamma")                         // no query terms
    ).toDF("doc_id", "text")
    val q = Seq("zeta", "beta").toDF("term")
    val r = ops.TextOps.bm25TopDocs(docs, "doc_id", "text", q, topK = 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    val byId = r.map(t => t._1 -> t).toMap
    assert(!byId.contains(4L), "docs matching no query term are absent")
    assert(byId(2L)._3 > byId(1L)._3,
      "one hit on the rare term beats one hit on the everywhere term")
    assert(byId(3L)._3 > byId(1L)._3,
      "equal tf, shorter doc ⇒ higher score (dl/avgdl normalization)")
    assert(byId(1L)._2 == 1L && byId(2L)._2 == 1L, "n_terms counts matched query terms")
  }

  test("personalized pagerank: rank decays with distance from the seed") {
    import spark.implicits._
    // chain 1→2→3→4: each hop only multiplies upstream rank by β, so
    // ranks are strictly monotone in seed distance at any iteration count
    // (the cycle case oscillates pre-convergence; the chain never does).
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight")
    val r = ops.GraphOps.pagerankPersonalized(chain, Seq(1L).toDF("node"),
        iters = 8)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > r(2L) && r(2L) > r(3L) && r(3L) > r(4L),
      "restart at the seed ⇒ rank strictly decays along the chain")
  }
}
