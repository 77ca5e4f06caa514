package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Round-18 hardening: hot-bucket star guard for the sign-LSH cosine
  * family (the r17 verdict's last unguarded quadratic path — one
  * duplicate-saturated bucket made the within-bucket join O(n²) at 30×
  * data regardless of bit width). */
class Round18OpsSpec extends SparkSpec {
  import spark.implicits._

  /** Hot-bucket fixture: `hot` near-identical vectors land in ONE sign-LSH
    * bucket (near-duplicate saturation, the case that creates the guard's
    * target); a handful of spread vectors populate other buckets. */
  private def fixture(hot: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(18)
    val hotRows = (0 until hot).map { i =>
      // tight cone around a fixed direction — same signs on every plane
      val base = Array(1.0f, 0.8f, 0.6f, 0.4f)
      (i.toLong, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f))
    }
    val spread = Seq(
      (1000L, Array(-1.0f, 0.9f, -0.7f, 0.2f)),
      (1001L, Array(-0.9f, 0.8f, -0.6f, 0.3f)),
      (1002L, Array(0.1f, -1.0f, 0.5f, -0.8f)),
      (1003L, Array(0.2f, -0.9f, 0.4f, -0.7f)))
    (hotRows ++ spread).toDF("vec_id", "embedding")
  }

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("cosineNearDup star guard: capped ⊆ uncapped; hot bucket yields " +
      "exactly (rep, member) rows; small buckets keep all-pairs") {
    val df = fixture(hot = 12)
    val uncapped = pairs(Similarity.cosineNearDup(df, "vec_id", "embedding",
      threshold = 0.5, bits = 4))
    val capped = pairs(Similarity.cosineNearDup(df, "vec_id", "embedding",
      threshold = 0.5, bits = 4, maxBucketSize = Some(8)))
    assert(capped.subsetOf(uncapped),
      s"capped emitted pairs the exact join does not have: ${capped diff uncapped}")
    // the hot bucket (12 members, ids 0..11, rep 0) degrades to a star:
    // every surviving hot pair involves the representative
    val hotCapped = capped.filter { case (a, _, _) => a < 1000L }
    assert(hotCapped.nonEmpty && hotCapped.forall(_._1 == 0L),
      s"hot-bucket rows must be (rep=0, member): $hotCapped")
    // near-identical cone ⇒ the star finds EVERY member against the rep
    assert(hotCapped.map(_._2) == (1L to 11L).toSet)
    // buckets under the cap are untouched: the spread pairs agree exactly
    val spreadU = uncapped.filter(_._1 >= 1000L)
    val spreadC = capped.filter(_._1 >= 1000L)
    assert(spreadC == spreadU)
  }

  test("cosineNearDup maxBucketSize=None is the exact all-pairs form " +
      "(guard default changes nothing)") {
    val df = fixture(hot = 6)
    val exact = pairs(Similarity.cosineNearDup(df, "vec_id", "embedding",
      threshold = 0.5, bits = 4))
    val high = pairs(Similarity.cosineNearDup(df, "vec_id", "embedding",
      threshold = 0.5, bits = 4, maxBucketSize = Some(1000)))
    assert(high == exact)
  }

  test("cosineNearDupTopK with the cap ≡ per-id top-k of the capped " +
      "symmetric pair set") {
    val df = fixture(hot = 12)
    val k = 2
    val capped = Similarity.cosineNearDupTopK(df, "vec_id", "embedding",
        threshold = 0.5, bits = 4, k = k, maxBucketSize = Some(8))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = pairs(Similarity.cosineNearDup(df, "vec_id", "embedding",
      threshold = 0.5, bits = 4, maxBucketSize = Some(8)))
    val sym = base.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
    val expect = sym.groupBy(_._1).flatMap { case (_, rows) =>
      rows.toSeq.sortBy(r => (-r._3, r._2)).take(k)
    }.toSet
    assert(capped == expect)
    val perId = capped.groupBy(_._1).map(_._2.size)
    assert(perId.forall(_ <= k))
  }

  test("cosineBucketReport names the hot bucket with its quadratic " +
      "candidate count") {
    val df = fixture(hot = 12)
    val rep = Similarity.cosineBucketReport(df, "vec_id", "embedding",
        bits = 4, minVecs = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // top row is the 12-member hot bucket, 12·11/2 = 66 candidate pairs
    assert(rep.head == (12L, 66L), s"head was ${rep.head}")
    // every reported bucket carries n·(n−1)/2
    assert(rep.forall { case (n, c) => c == n * (n - 1) / 2 })
  }

  // ---- exactQuantiles: small-group fast path ----

  private def bruteQuantiles(data: Seq[(String, Double)], qs: Seq[Double]) =
    data.groupBy(_._1).flatMap { case (k, rows) =>
      val sorted = rows.map(_._2).sorted
      qs.map(q => (k, q) -> sorted(math.ceil(sorted.size * q).toInt.max(1) - 1))
    }

  private def quantilesMatch(data: Seq[(String, Double)], qs: Seq[Double],
                             sortThreshold: Long): Unit = {
    val got = graft.ops.AggOps.exactQuantiles(
        data.toDF("k", "v").repartition(5), Seq("k"), "v", qs,
        sortThreshold = sortThreshold)
      .as[(String, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val expect = bruteQuantiles(data, qs)
    assert(got == expect.toMap, s"got $got want $expect")
  }

  test("exactQuantiles small-group fast path ≡ sort rule (groups under " +
      "the gate skip the bucket machinery; mixed small/big routes both)") {
    val rnd = new scala.util.Random(181)
    // three small groups (≤ 32 rows) + one big group (500 rows) with a
    // sortThreshold of 32: small groups take the direct-rank fast path,
    // the big group takes bucket/locate/refine — results must agree with
    // the brute-force rule on BOTH routes
    val data =
      Seq.tabulate(20)(i => ("a", rnd.nextDouble() * 10)) ++
      Seq.tabulate(32)(i => ("b", rnd.nextDouble())) ++
      Seq.tabulate(1)(i => ("c", 42.0)) ++
      Seq.tabulate(500)(i => ("big", rnd.nextDouble() * 100))
    quantilesMatch(data, Seq(0.25, 0.5, 0.9, 1.0), sortThreshold = 32)
  }
}
