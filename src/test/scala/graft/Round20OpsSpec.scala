package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Round-20 hardening: the dedup trio's EXACT-KEY COLLAPSE — the minhash
  * stage runs over exact representatives, never the raw corpus — pinned
  * lossless against the full-graph formulation on a corpus crafted to
  * hit every branch of the contraction argument. */
class Round20OpsSpec extends SparkSpec {
  import spark.implicits._

  // Fixture regions (ids pick the representatives deterministically):
  //  - an exact-dup TRIPLE (0,1,2) near-dup-linked to singleton 10 and,
  //    through it, to the exact-dup PAIR (20,21): a cross-group chain
  //    whose full graph routes through non-representative members;
  //  - an ISOLATED exact-dup pair (30,31): in the graph only via its
  //    internal jaccard-1.0 edges — expansion must label it by its rep;
  //  - a near-dup pair of two DISTINCT texts (40,41): no exact collapse;
  //  - a loner (50): absent from components, present in pipelines;
  //  - a SHORT exact-dup pair (60,61 — two words, below shingleN=3):
  //    the shingle kernel joins the whole token stream into ONE shingle,
  //    so the pair IS in the graph via its internal jaccard-1.0 edge;
  //  - an exact-dup pair with ZERO tokens (64,65 — digits only, the
  //    a-z tokenizer drops everything): fingerprint groups them, but the
  //    full pair graph never sees them (empty shingle set → no signature
  //    rows) — expansion must NOT invent a component;
  //  - whitespace/case variants (70,71): same fingerprint by
  //    normalization, one representative.
  private val baseText =
    "the quick brown fox jumps over the lazy dog near the quiet river bank today"
  private val corpus = Seq(
    0L -> baseText, 1L -> baseText, 2L -> baseText,
    10L -> (baseText + " extra"),
    20L -> (baseText + " extra words"), 21L -> (baseText + " extra words"),
    30L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa alpha beta gamma",
    31L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa alpha beta gamma",
    40L -> "one two three four five six seven eight nine ten eleven twelve",
    41L -> "one two three four five six seven eight nine ten eleven thirteen",
    50L -> "completely unrelated text about distributed query engines and shuffles",
    60L -> "tiny doc", 61L -> "tiny  DOC",
    64L -> "12345 678", 65L -> "12345  678",
    70L -> ("THE QUICK BROWN FOX jumps over the lazy dog near the quiet " +
      "river bank today maybe"),
    71L -> ("the quick brown fox jumps over the lazy dog near the quiet " +
      "river bank today maybe"))

  private def docs = corpus.toDF("doc_id", "text")

  test("exactRepresentatives: one lowest-id (id, text) per normalized text") {
    val reps = Dedup.exactRepresentatives(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(reps.keySet == Set(0L, 10L, 20L, 30L, 40L, 41L, 50L, 60L, 64L, 70L))
    assert(reps(0L) == baseText)
    // the representative carries ITS OWN raw text (normalization only
    // picks the group, it does not rewrite the stored text)
    assert(reps(60L) == "tiny doc")
  }

  test("exactRepresentatives orders string ids numerically: \"9\" keeps over \"10\"") {
    val reps = Dedup.exactRepresentatives(
        Seq(("10", "same text"), ("9", "Same  TEXT"), ("11", "other")).toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(String, String)].collect().toMap
    // lexicographic order would pick "10"; the dedup family keeps the min long id
    assert(reps == Map("9" -> "Same  TEXT", "11" -> "other"))
  }

  test("nearDupComponents == connectedComponents over the FULL pair graph") {
    val full = Dedup.connectedComponents(
        Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8),
        "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val contracted = Dedup.nearDupComponents(docs, "doc_id", "text",
        threshold = 0.8)
      .as[(Long, Long)].collect().toSet
    assert(contracted == full)
    // the fixture exercised what it promised: the chain merged across
    // groups, the isolated pairs self-labelled (including the
    // single-shingle short pair), the zero-token dups stayed out,
    // members expanded
    val byId = full.toMap
    assert(byId.get(21L) == byId.get(0L) && byId.get(10L) == byId.get(0L))
    assert(byId.get(30L).contains(30L) && byId.get(31L).contains(30L))
    assert(byId.get(60L).contains(60L) && byId.get(61L).contains(60L))
    assert(!byId.contains(64L) && !byId.contains(65L) && !byId.contains(50L))
  }

  test("dedupPipeline: contracted survivors == full-graph formulation") {
    val expected = {
      val exactKept = Dedup.exactDedup(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
      val nonReps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .where(col("id") =!= col("component")).select(col("id").as("doc_id"))
      exactKept.join(nonReps, Seq("doc_id"), "left_anti")
        .as[Long].collect().toSet
    }
    val got = Dedup.dedupPipeline(docs, "doc_id", "text", threshold = 0.8)
      .as[Long].collect().toSet
    assert(got == expected)
    // loner + zero-token rep survive; chain collapses to min id 0; the
    // near-dup (40,41) cluster keeps its min id 40
    assert(got == Set(0L, 30L, 40L, 50L, 60L, 64L))
  }

  test("dedupPipelineKeepBest: contracted survivors == full-graph formulation") {
    val quality = length(col("text")).cast("double")
    val expected = {
      val exactKept = Dedup.exactDedup(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val base = docs.select(col("doc_id"), quality.as("__q"))
        .join(exactKept, Seq("doc_id"), "left_semi")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
      val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("component"))
      val m = base.join(comp, Seq("doc_id"), "left")
      val winners = m.where(col("component").isNotNull)
        .groupBy(col("component"))
        .agg(max_by(col("doc_id"), struct(col("__q"), (-col("doc_id")).as("__nid")))
          .as("doc_id"))
        .select(col("doc_id"))
      m.where(col("component").isNull).select(col("doc_id"))
        .unionAll(winners).as[Long].collect().toSet
    }
    val got = Dedup.dedupPipelineKeepBest(docs, "doc_id", "text",
        quality = quality, threshold = 0.8)
      .as[Long].collect().toSet
    assert(got == expected)
    // quality = text length: the chain's longest surviving member (20,
    // "…extra words") beats representative 0; the (40,41) cluster keeps
    // its longer member 41; isolated pairs keep their reps
    assert(got == Set(20L, 30L, 41L, 50L, 60L, 64L))
  }

  test("isScanRooted: nondeterministic narrow plans route to checkpoint") {
    val scan = spark.read.parquet(sf001 + "/lineitem.parquet")
    assert(graft.ops.AggOps.isScanRooted(scan.select(col("l_quantity"))))
    assert(!graft.ops.AggOps.isScanRooted(
      scan.select(col("l_quantity"), rand(7).as("r"))))
    assert(!graft.ops.AggOps.isScanRooted(scan.where(rand(7) < 0.5)))
    assert(!graft.ops.AggOps.isScanRooted(scan.sample(0.5, 7)))
  }
}
