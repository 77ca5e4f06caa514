package graft

import org.apache.spark.sql.functions._

/** Round-19 hardening: the Ed-Join hot-group star guard (maxGroupSize),
  * its skew report, and the quantile family's plan-shape re-scan
  * detection. */
class Round19OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- Ed-Join hot-group guard ------------------------------------
  // Fixture: a 6-key near-clique "xxxxxxxxxx"+c whose shared "xx" grams
  // form prefix groups of ALL 6 keys (tf = 6, but every key retains them
  // — the boilerplate shape that defeats rarity ordering), plus a
  // 2-key small group ("hello world(s)"), a short-pool pair, and an
  // exact-duplicate key. With q=2, d=2: longMin = 6, prefix = 5 rarest.
  private val edFixture = Seq(
    0L -> "xxxxxxxxxxa", 1L -> "xxxxxxxxxxb", 2L -> "xxxxxxxxxxc",
    3L -> "xxxxxxxxxxd", 4L -> "xxxxxxxxxxe", 5L -> "xxxxxxxxxxf",
    10L -> "hello world", 11L -> "hello worlds",
    12L -> "ab", 13L -> "ac",
    20L -> "zzzz yyyy qq", 21L -> "zzzz yyyy qq")

  private def edJoin(cap: Option[Int]): Set[(Long, Long, Long)] =
    graft.ops.Dedup.editDistanceJoin(
        edFixture.toDF("doc_id", "key"), "doc_id", col("key"),
        maxDist = 2, q = 2, maxGroupSize = cap)
      .as[(Long, Long, Long)].collect().toSet

  test("editDistanceJoin maxGroupSize: hot groups degrade to a star " +
      "against the lowest-id key; small groups, short pool, and " +
      "exact-duplicate expansion stay lossless") {
    // cap = 4 < 6: the clique's "xx" groups go star — member-member
    // pairs (i, j) with i, j ≠ 0 share ONLY capped tokens and are the
    // documented recall trade; (0, j) star pairs survive. The 2-key
    // "hello" group (≤ cap) stays all-pairs, the short pool and the
    // dup-key within-group pair are untouched by the guard.
    val star = (1L to 5L).map(j => (0L, j, 1L)).toSet
    assert(edJoin(Some(4)) ==
      star + ((10L, 11L, 1L)) + ((12L, 13L, 1L)) + ((20L, 21L, 0L)))
  }

  test("editDistanceJoin maxGroupSize above every group size ≡ the " +
      "lossless chain (and the lossless chain finds the full clique)") {
    val clique = (for { i <- 0L to 5L; j <- (i + 1) to 5L }
      yield (i, j, 1L)).toSet
    val lossless = edJoin(None)
    assert(lossless ==
      clique + ((10L, 11L, 1L)) + ((12L, 13L, 1L)) + ((20L, 21L, 0L)))
    assert(edJoin(Some(100)) == lossless)
  }

  test("editDistanceTopK threads maxGroupSize: capped view ranks only " +
      "star-surviving pairs; cap above group sizes ≡ uncapped view") {
    def topk(cap: Option[Int]) =
      graft.ops.Dedup.editDistanceTopK(
          edFixture.toDF("doc_id", "key"), "doc_id", col("key"),
          maxDist = 2, q = 2, k = 2, maxGroupSize = cap)
        .as[(Long, Long, Long)].collect().toSet
    assert(topk(Some(100)) == topk(None))
    // capped: id 0 has 5 star matches → its 2 best by (dist, nbr) are
    // ids 1, 2; members 1..5 each see only the rep
    val capped = topk(Some(4))
    assert(capped.filter(_._1 == 0L) == Set((0L, 1L, 1L), (0L, 2L, 1L)))
    (1L to 5L).foreach(j => assert(capped.filter(_._1 == j) ==
      Set((j, 0L, 1L)), s"member $j should see only the rep"))
  }

  test("editDistancePairs sizes the prefix exchange from the long keys " +
      "alone; pairs on a mostly-short corpus equal brute force") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    // q = 3, d = 1: longMin = 6, so the 100k five-char keys are short and
    // emit no prefix tokens. Sized from all keys the (gram, occ) exchange
    // would take 100,006 · (q·d+1) / 65536 + 1 = 7 partitions; from the
    // 6 long keys it takes the default parallelism.
    val longs = Seq(-1L -> "abcdefgh", -2L -> "abcdefgx", -3L -> "qwertyuiop",
      -4L -> "qwertyuiopz", -5L -> "zzzzzzzz", -6L -> "mnbvcxzl")
    val big = spark.range(100000L).select(col("id").as("doc_id"),
        lpad(lower(conv(col("id").cast("string"), 10, 36)), 5, "0").as("key"))
      .union(longs.toDF("doc_id", "key"))
    val caches = new graft.ops.DedupCaches
    try {
      val pairs = graft.ops.Dedup.editDistancePairs(big, "doc_id", col("key"),
        maxDist = 1, q = 3, maxGroupSize = None, caches)
      val prefixParts = pairs.queryExecution.logical.collect {
        case r: RepartitionByExpression
            if r.partitionExpressions.exists(_.references.exists(_.name == "gram")) =>
          r.optNumPartitions
      }
      // the prefix feeds both sides of its self-join: one node, seen twice
      assert(prefixParts.distinct == Seq(Some(spark.sparkContext.defaultParallelism)))
    } finally caches.unpersistAll()

    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
      d(a.length)(b.length)
    }
    val small = (0L until 60L).map(i => i -> java.lang.Long.toString(i % 45, 36)) ++ longs
    val expect = (for ((a, ka) <- small; (b, kb) <- small if a < b && lev(ka, kb) <= 1)
      yield (a, b, lev(ka, kb).toLong)).toSet
    val got = graft.ops.Dedup.editDistanceJoin(small.toDF("doc_id", "key"), "doc_id",
        col("key"), maxDist = 1, q = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expect)
  }

  test("editGroupReport: clique prefix groups carry all 6 keys and " +
      "C(6,2) candidate pairs; the small group reports 2 keys") {
    val rep = graft.ops.Dedup.editGroupReport(
        edFixture.toDF("doc_id", "key"), "doc_id", col("key"),
        maxDist = 2, q = 2, minKeys = 2)
      .as[(String, Int, Long, Long)].collect()
    val hot = rep.filter(_._3 > 4)
    // exactly the shared "xx" grams exceed cap=4, all with n=6, C(6,2)=15
    assert(hot.nonEmpty && hot.forall(r =>
      r._1 == "xx" && r._3 == 6L && r._4 == 15L))
    // the hello-world pair's shared prefix tokens report n_keys=2, 1 pair
    assert(rep.exists(r => r._1 == "he" && r._3 == 2L && r._4 == 1L))
    // hottest-first ordering
    assert(rep.sliding(2).forall(w => w(0)._3 >= w(1)._3))
  }

  // ---- re-scan detection -----------------------------------------
  test("isScanRooted: true for scan/project/filter trees, false for " +
      "aggregates, joins, and repartitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r19_scan").toString
    Seq((1L, 2.0), (2L, 3.0)).toDF("k", "v").write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(graft.ops.AggOps.isScanRooted(scan))
    assert(graft.ops.AggOps.isScanRooted(scan.select(col("k"), col("v"))))
    assert(graft.ops.AggOps.isScanRooted(
      scan.where(col("v") > 1).select(col("v").as("w"))))
    // local rows and checkpoint leaves are cheap re-reads too
    assert(graft.ops.AggOps.isScanRooted(Seq(1).toDF("x")))
    assert(!graft.ops.AggOps.isScanRooted(scan.groupBy(col("k")).count()))
    assert(!graft.ops.AggOps.isScanRooted(scan.join(scan.limit(1), Seq("k"))))
    assert(!graft.ops.AggOps.isScanRooted(scan.repartition(3)))
  }

  test("exactQuantiles default (auto) matches the sort rule on a " +
      "scan-rooted input — the re-scan path end to end") {
    def check(data: Seq[(String, Double)]): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft_r19_q").toString
      data.toDF("k", "v").write.mode("overwrite").parquet(dir)
      val scan = spark.read.parquet(dir)
      assert(graft.ops.AggOps.isScanRooted(scan))
      val got = graft.ops.AggOps.exactQuantiles(
          scan, Seq("k"), "v", Seq(0.5, 0.9), sortThreshold = 32)
        .as[(String, Double, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val expect = data.groupBy(_._1).flatMap { case (k, rows) =>
        val sorted = rows.map(_._2).sorted
        Seq(0.5, 0.9).map(q =>
          (k, q) -> sorted(math.ceil(sorted.size * q).toInt.max(1) - 1))
      }
      assert(got == expect)
    }
    val rnd = new scala.util.Random(19)
    // big groups only: every group takes bucket/locate/refine
    check(Seq.tabulate(300)(i => (s"g${i % 3}", rnd.nextDouble() * 50)))
    // mixed: one group under the sort gate (fast path) and one over it
    val mixed = new scala.util.Random(182)
    check(Seq.tabulate(25)(i => ("s", mixed.nextDouble() * 7)) ++
      Seq.tabulate(400)(i => ("big", mixed.nextDouble() * 50)))
  }
}
