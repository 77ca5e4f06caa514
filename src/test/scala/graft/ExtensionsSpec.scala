package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** X1–X4 extension operators on crafted fixtures. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The quick  brown fox jumps over the lazy dog"), // ws/case variant
    (3L, "the quick brown fox jumps over the lazy cat zyzzyva"), // near-dup
    (4L, "completely unrelated quantum flibbertigibbet discourse zyzzyva"))
    .toDF("doc_id", "text")

  test("annIndexSearch reads only the queried cells (dynamic partition pruning)") {
    import java.nio.file.Files
    val index = Files.createTempDirectory("graft_annsearch").toString + "/index"
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "cv")
    val corpus = (0 until 40).map { i =>
      val v = if (i % 2 == 0) Seq(1.0, 0.01 * i) else Seq(0.01 * i, 1.0)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    Similarity.assignCells(corpus, "vec_id", "embedding", cents)
      .write.mode("overwrite").partitionBy("cell").parquet(index)
    // one query near centroid 0 → only the cell=0 directory is relevant.
    // Queries come FROM A TABLE WITH A SELECTIVE PREDICATE (the
    // production shape) — DPP requires a likely-selective filter on the
    // build side, and a literal local relation folds its filter away.
    val qPath = Files.createTempDirectory("graft_annsearch_q").toString + "/q"
    (corpus.select(col("vec_id") + 2000L as "vec_id", col("embedding"))
      unionAll Seq((1000L, Seq(1.0, 0.0))).toDF("vec_id", "embedding"))
      .write.mode("overwrite").parquet(qPath)
    val queries = spark.read.parquet(qPath).where(col("vec_id") === 1000L)
    val res = Similarity.annIndexSearch(spark, index, queries,
      "vec_id", "embedding", cents, k = 3)
    val rows = res.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getAs[Long]("cand_id") % 2 == 0), // cell-0 members only
      rows.mkString(", "))
    // the scan must carry a dynamic pruning predicate on the partition
    // column, not read all cells and filter post-scan
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning in:\n$plan")
  }

  test("X1 exact dedup collapses whitespace/case variants, keeps min id") {
    val got = Dedup.exactDedup(docs, "doc_id", "text")
    val dups = got.where(col("dup_count") > 1).select("keep_id", "dup_count")
      .as[(Long, Long)].collect().toSeq
    assert(dups == Seq((1L, 2L)))
    assert(got.count() == 3) // 3 distinct fingerprints
  }

  test("X1 jaccard near-dup finds the near-identical pair and not the unrelated one") {
    val pairs = Dedup.jaccardNearDup(docs, "doc_id", "text", maxDf = 3, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || (p._2 == 4L && p._1 != 3L && p._1 != 1L && p._1 != 2L)))
  }

  test("X1 minhash: identical token sets get identical signatures") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", k = 8)
    val rows = sigs.orderBy("doc_id").collect()
    val s1 = rows.find(_.getLong(0) == 1L).get.toSeq.tail
    val s2 = rows.find(_.getLong(0) == 2L).get.toSeq.tail
    val s4 = rows.find(_.getLong(0) == 4L).get.toSeq.tail
    assert(s1 == s2)   // same token set after normalization
    assert(s1 != s4)
  }

  test("X1 minhash LSH banding surfaces the duplicate pair") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 8, r = 2, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  private val vecs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f)),
    (2L, Seq(0.9999f, 0.0001f, 0.0f)), // near-dup of 1
    (3L, Seq(0.0f, 1.0f, 0.0f)),
    (4L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")

  test("X2 brute-force top-k ranks the near-parallel vector first") {
    val got = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      col("vec_id") === 1L, k = 2)
    val top = got.orderBy("rk").select("cand_id").as[Long].collect().toSeq
    assert(top.head == 2L)
  }

  test("X2 sign-LSH: identical vectors share a bucket") {
    val b = vecs.select(col("vec_id"),
      Similarity.signLshBucket(col("embedding").cast("array<double>")).as("bucket"))
      .as[(Long, Long)].collect().toMap
    assert(b(1L) == b(2L))
  }

  test("X2 sign-LSH codegen kernel equals the declarative HOF form on real embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val bad = emb.select(
      Similarity.signLshBucket(col("embedding")).as("k"),
      Similarity.signLshBucketHof(col("embedding")).as("h"))
      .where(col("k") =!= col("h"))
    assert(bad.count() == 0)
  }

  test("X1 cosine near-dup finds the ~1.0 pair only") {
    val got = Similarity.cosineNearDup(vecs, "vec_id", "embedding", threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("X1 connected components: chains collapse to min id, needs >1 round") {
    // a 5-chain (diameter 4) forces several propagation rounds, plus a
    // separate 2-clique; component = min reachable id
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L)
    val local = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(local == want)
    // force the distributed min-label path; must agree with union-find
    val dist = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
      localEdgeThreshold = 0L).as[(Long, Long)].collect().toMap
    assert(dist == want)
  }

  test("localEdgeThreshold 0 routes connected components to the distributed path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L)
    // maxIter 0 throws ONLY on the distributed path → proves the routing
    intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, "doc_a", "doc_b", maxIter = 0,
        localEdgeThreshold = 0L)
    }
    // the default (1M) routes this 10-edge graph locally: maxIter 0 must
    // NOT throw there
    val local = Dedup.connectedComponents(pairs, "doc_a", "doc_b", maxIter = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == want)
  }

  test("DedupCaches releases the dedup working set after materialization") {
    spark.sharedState.cacheManager.clearCache()
    val caches = new DedupCaches
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 8, r = 2,
      threshold = 0.9, caches = caches)
    pairs.collect()
    assert(!spark.sharedState.cacheManager.isEmpty) // working set is cached
    caches.unpersistAll()
    assert(spark.sharedState.cacheManager.isEmpty)  // and fully released
  }

  test("connectedComponents releases caches on the non-convergence throw") {
    spark.sharedState.cacheManager.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      // distributed path (threshold 0) with zero allowed rounds
      Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        maxIter = 0, localEdgeThreshold = 0L)
    }
    assert(spark.sharedState.cacheManager.isEmpty) // edges + labels released
  }

  test("connectedComponents distributed labels release via DedupCaches") {
    spark.sharedState.cacheManager.clearCache()
    val caches = new DedupCaches
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
      localEdgeThreshold = 0L, caches = caches)
    labels.collect()
    caches.unpersistAll()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("X1 dedup pipeline keeps exactly one representative per near-dup cluster") {
    // Two fixture shapes where per-PAIR loser deletion gets clusters wrong:
    //  - star (1,3),(2,3) with the hub as the HIGHEST id: dropping doc_b of
    //    each pair keeps BOTH spokes {1,2} even though 1,2,3 are one
    //    cluster; components keep only the min, 1.
    //  - chain (11,12),(12,13) with 11 ≁ 13: exactly one survivor (11) —
    //    the cluster is neither fully deleted nor split by pair ordering.
    // Docs: 20 words each; changing 2 edge words leaves 16 of 20 distinct
    // 3-gram shingles shared (J = 0.8); changing both ends gives 14/22 ≈ 0.64.
    val b1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar papa quebec romeo sierra tango".split(" ")
    val b2 = "uniform victor whiskey xray yankee zebra apple banana cherry date elder fig grape honey iris jasmine kiwi lemon mango nectar".split(" ")
    def swapFront(w: Array[String], r: String) = (r.split(" ") ++ w.drop(2)).mkString(" ")
    def swapBack(w: Array[String], r: String) = (w.dropRight(2) ++ r.split(" ")).mkString(" ")
    val corpus = Seq(
      1L -> swapFront(b1, "gryphon basilisk"),
      2L -> swapBack(b1, "chimera wyvern"),
      3L -> b1.mkString(" "),
      4L -> "totally separate content about cooking pasta with garlic and fresh basil leaves tonight",
      5L -> ("  " + b1.mkString("  ").toUpperCase), // exact dup of 3 after normalization
      11L -> swapFront(b2, "kraken hydra"),
      12L -> b2.mkString(" "),
      13L -> swapBack(b2, "sphinx roc"))
      .toDF("doc_id", "text")
    // fixture sanity: LSH surfaces exactly the star + chain edges (doc 5
    // rides along as an exact copy of 3)
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", k = 8, r = 2,
      estMin = 0.5, threshold = 0.75)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)), s"star edges missing: $pairs")
    assert(pairs.contains((11L, 12L)) && pairs.contains((12L, 13L)), s"chain edges missing: $pairs")
    assert(!pairs.contains((1L, 2L)) && !pairs.contains((11L, 13L)),
      s"edge-swapped docs must stay below threshold: $pairs")
    val kept = Dedup.dedupPipeline(corpus, "doc_id", "text", threshold = 0.75,
      r = 2, estMin = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // pair-loser deletion would keep {1, 2, 4, 11}; components keep the min
    // of {1,2,3,5} and of {11,12,13}, plus the untouched doc 4
    assert(kept == Set(1L, 4L, 11L), s"got $kept")
  }

  test("X1 dedup pipeline keeps one doc per duplicate cluster") {
    val kept = Dedup.dedupPipeline(docs, "doc_id", "text", 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L)) // exact dup of 1 removed
    assert(kept.contains(4L))                        // unrelated doc survives
  }

  test("X1 keep-best dedup keeps the highest-quality member per cluster") {
    val b1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar papa quebec romeo sierra tango".split(" ")
    def swapFront(w: Array[String], r: String) = (r.split(" ") ++ w.drop(2)).mkString(" ")
    def swapBack(w: Array[String], r: String) = (w.dropRight(2) ++ r.split(" ")).mkString(" ")
    val corpus = Seq(
      1L -> swapFront(b1, "gryphon basilisk"),   // star spoke
      2L -> swapBack(b1, "chimera wyvern"),      // star spoke — best quality below
      3L -> b1.mkString(" "),                    // star hub
      4L -> "totally separate content about cooking pasta with garlic and fresh basil leaves tonight",
      5L -> ("  " + b1.mkString("  ").toUpperCase)) // exact dup of 3 (normalized)
      .toDF("doc_id", "text")
    val quality = when(col("doc_id") === 2L, lit(999L)).otherwise(col("doc_id"))
    val kept = Dedup.dedupPipelineKeepBest(corpus, "doc_id", "text",
      quality, threshold = 0.75, k = 8, r = 2, estMin = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,2,3,(5 lost to exact stage)} keeps 2 (quality 999), NOT
    // min-id 1; the unrelated doc survives untouched
    assert(kept == Set(2L, 4L), s"got $kept")
  }

  test("X3 language-ID heuristic on clear samples") {
    val t = Seq(
      "the cat is in the house and it is warm",
      "der Hund ist nicht in der Stadt und das ist gut",
      "le chat est pour la maison et pas les chiens",
      "el perro es de la casa por los gatos",
      "xyz 123").toDF("text")
    val got = t.select(TextOps.langIdHeuristic(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "fr", "es", "und"))
  }

  test("X3 token count + quality score behave on degenerate input") {
    val t = Seq("", "!!!???", "a good long sentence with the usual words in it")
      .toDF("text")
    val got = t.select(TextOps.tokenCount(col("text")).as("n"),
      TextOps.qualityScore(col("text")).as("q")).as[(Int, Double)].collect()
    assert(got(0)._1 == 0 && got(1)._1 == 0)
    assert(got(2)._2 > got(1)._2) // real text scores above punctuation noise
  }

  test("X4 decodeMedia: one codec per partition, deterministic decode, typed output") {
    import graft.ops.Multimodal.{MediaRow, StubCodec}
    val rows = (1L to 100L).map(i => MediaRow(i, s"payload-$i".getBytes("UTF-8")))
    val ds = spark.createDataset(rows).repartition(4)
    StubCodec.constructions.set(0L)
    val out = graft.ops.Multimodal.decodeMedia(ds).collect()
    assert(out.length == 100)
    assert(StubCodec.constructions.get() == 4L) // per partition, not per row
    val r1 = out.find(_.doc_id == 1L).get
    assert(r1.n_bytes == "payload-1".length.toLong)
    assert(r1.features.length == 3 && r1.features(0) == r1.n_bytes.toDouble)
    assert(r1.width == 1 + 'p' % 64)
  }

  test("X4 BmpCodec: parses real little-endian header bytes, rejects non-BMP") {
    import graft.ops.Multimodal.{BmpCodec, MediaRow}
    // hand-built header, independent of syntheticBmp: width 300 = 0x012C
    // exercises a SECOND little-endian byte (the builder stays < 256)
    val b = new Array[Byte](54)
    b(0) = 'B'.toByte; b(1) = 'M'.toByte
    b(18) = 0x2c.toByte; b(19) = 0x01.toByte // width 300 LE
    b(22) = 17.toByte                        // height 17
    val d = new BmpCodec().decode(MediaRow(7L, b))
    assert(d.width == 300 && d.height == 17 && d.n_bytes == 54L)
    assert(d.features.toSeq == Seq(300.0, 17.0, 5100.0))
    // malformed payloads throw — no fabricated dimensions
    intercept[IllegalArgumentException] {
      new BmpCodec().decode(MediaRow(8L, "notabmp-but-long-enough-payload".getBytes))
    }
    intercept[IllegalArgumentException] {
      new BmpCodec().decode(MediaRow(9L, Array[Byte]('B', 'M', 0, 0)))
    }
  }

  test("X4 decodeBmp: syntheticBmp build → BmpCodec parse round-trips, one codec per partition") {
    import graft.ops.Multimodal.{BmpCodec, MediaRow}
    val src = (1L to 60L).map(i => (i, s"pixels-$i")).toDF("doc_id", "text")
    val rows = src.select(col("doc_id"), Multimodal.syntheticBmp(
        (pmod(col("doc_id"), lit(64)) + 1).cast("int"),
        (pmod(col("doc_id") * 7, lit(48)) + 1).cast("int"),
        encode(col("text"), "UTF-8")).as("media"))
      .repartition(4).as[Multimodal.MediaRow]
    BmpCodec.constructions.set(0L)
    val out = Multimodal.decodeBmp(rows).collect()
    assert(out.length == 60)
    assert(BmpCodec.constructions.get() == 4L) // per partition, not per row
    out.foreach { d =>
      assert(d.width == (d.doc_id % 64 + 1).toInt, s"doc ${d.doc_id}")
      assert(d.height == (d.doc_id * 7 % 48 + 1).toInt)
      assert(d.n_bytes == 54L + s"pixels-${d.doc_id}".length)
    }
    // builders are total over int32: multi-byte dims survive both byte
    // orders through the full build→parse round-trip
    val wide = Seq((1L, "px")).toDF("doc_id", "text")
    val bmpWide = Multimodal.decodeBmp(wide.select(col("doc_id"),
        Multimodal.syntheticBmp(lit(70000), lit(300), encode(col("text"), "UTF-8"))
          .as("media")).as[Multimodal.MediaRow]).collect()(0)
    assert(bmpWide.width == 70000 && bmpWide.height == 300)
    val pngWide = Multimodal.decodePng(wide.select(col("doc_id"),
        Multimodal.syntheticPng(lit(70000), lit(300), encode(col("text"), "UTF-8"))
          .as("media")).as[Multimodal.MediaRow]).collect()(0)
    assert(pngWide.width == 70000 && pngWide.height == 300)
  }

  test("X4 PngCodec: parses big-endian IHDR bytes, rejects non-PNG") {
    import graft.ops.Multimodal.{PngCodec, MediaRow}
    // hand-built container: width 300 = 0x012C big-endian exercises the
    // SECOND byte from the opposite end vs the BMP test
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val b = new Array[Byte](33)
    sig.copyToArray(b, 0)
    b(11) = 0x0d.toByte // IHDR length 13
    b(12) = 'I'.toByte; b(13) = 'H'.toByte; b(14) = 'D'.toByte; b(15) = 'R'.toByte
    b(18) = 0x01.toByte; b(19) = 0x2c.toByte // width 300 BE
    b(23) = 17.toByte                        // height 17
    val d = new PngCodec().decode(MediaRow(7L, b))
    assert(d.width == 300 && d.height == 17 && d.n_bytes == 33L)
    assert(d.features.toSeq == Seq(300.0, 17.0, 5100.0))
    // a BMP payload must NOT decode as PNG (the endianness twin rejects)
    val bmp = new Array[Byte](54)
    bmp(0) = 'B'.toByte; bmp(1) = 'M'.toByte; bmp(18) = 5.toByte; bmp(22) = 5.toByte
    intercept[IllegalArgumentException] { new PngCodec().decode(MediaRow(8L, bmp)) }
    intercept[IllegalArgumentException] { new PngCodec().decode(MediaRow(9L, sig)) }
  }

  test("X4 decodePng: syntheticPng build → PngCodec parse round-trips") {
    import graft.ops.Multimodal.MediaRow
    val src = (1L to 40L).map(i => (i, s"idat-$i")).toDF("doc_id", "text")
    val rows = src.select(col("doc_id"), Multimodal.syntheticPng(
        (pmod(col("doc_id"), lit(48)) + 1).cast("int"),
        (pmod(col("doc_id") * 5, lit(64)) + 1).cast("int"),
        encode(col("text"), "UTF-8")).as("media"))
      .as[Multimodal.MediaRow]
    val out = Multimodal.decodePng(rows).collect()
    assert(out.length == 40)
    out.foreach { d =>
      assert(d.width == (d.doc_id % 48 + 1).toInt, s"doc ${d.doc_id}")
      assert(d.height == (d.doc_id * 5 % 64 + 1).toInt)
      assert(d.n_bytes == 33L + s"idat-${d.doc_id}".length)
    }
  }

  test("X4 bmpPayloadStats: reads the pixel-array offset field, folds real bytes") {
    import graft.ops.Multimodal.MediaRow
    // payload "AB" after the 54-byte header: mean (65+66)/2, max 66
    val src = Seq((1L, "AB"), (2L, "")).toDF("doc_id", "text")
    val rows = src.select(col("doc_id"), Multimodal.syntheticBmp(
        lit(3), lit(4), encode(col("text"), "UTF-8")).as("media"))
      .as[Multimodal.MediaRow]
    val out = Multimodal.bmpPayloadStats(rows).collect()
      .map(s => s.doc_id -> s).toMap
    assert(out(1L).n_payload == 2L && out(1L).mean_byte == 65.5 &&
      out(1L).max_byte == 66L)
    assert(out(2L).n_payload == 0L && out(2L).mean_byte == 0.0 &&
      out(2L).max_byte == 0L)
    // a corrupted offset field (points past the payload) must throw, not
    // fold garbage
    val bad = new Array[Byte](54)
    bad(0) = 'B'.toByte; bad(1) = 'M'.toByte; bad(10) = 0x7f.toByte
    // executor-side require surfaces wrapped in SparkException — assert
    // the IllegalArgumentException is in the cause chain
    val ex = intercept[Exception] {
      Multimodal.bmpPayloadStats(
        spark.createDataset(Seq(MediaRow(9L, bad)))).collect()
    }
    def chain(t: Throwable): List[Throwable] =
      Option(t).map(x => x :: chain(x.getCause)).getOrElse(Nil)
    assert(chain(ex).exists(_.isInstanceOf[IllegalArgumentException]))
  }

  test("X4 multimodal plumbing: payload, metadata, stub decode are deterministic") {
    val d = Seq((1L, "hello world")).toDF("doc_id", "text")
    val e = Multimodal.enrich(d, "doc_id", "text")
    val row = e.select(col("meta.n_bytes"), col("meta.kind"), col("features")).collect()(0)
    assert(row.getLong(0) == 11L)
    assert(row.getString(1) == "text/fake")
    val feats = row.getSeq[Double](2)
    assert(feats.length == 4 && feats.head == 11.0)
    // decode is a stub: plumbing (schema/batching) is the tested surface
    val offs = d.select(Multimodal.fakeFrameOffsets(lit("x").cast("binary"), 4)).as[Seq[Long]].head()
    assert(offs == Seq(0L, 0L, 0L, 0L))
  }
}
