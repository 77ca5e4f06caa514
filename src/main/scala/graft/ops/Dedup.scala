package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline surface (SURVEY.md
  * §2.8 X1): exact, token-set Jaccard near-dup, MinHash+LSH.
  *
  * Scale design notes (the part that matters at 100 TB):
  *  - exact dedup groups on a 128-bit md5 fingerprint, never on raw text —
  *    the shuffle carries 16 bytes + doc_id per row, not documents.
  *  - near-dup candidate generation never does an all-pairs join: either
  *    rare-token prefix filtering (doc-frequency cap) or MinHash banding
  *    bounds candidates; exact Jaccard runs only on candidates.
  *  - cache lifecycle: the signature/shingle `.cache()` calls below are
  *    per-materialization working sets (each plan is referenced several
  *    times within one query). Spark's CacheManager dedupes identical
  *    plans, but DIFFERENT inputs accumulate distinct cached plans for
  *    the session's lifetime. A long-lived service calling the dedup
  *    family on many corpora should pass its own [[DedupCaches]] and
  *    `unpersistAll()` after materializing each campaign's result (the
  *    default [[DedupCaches.unmanaged]] keeps session-lifetime caching,
  *    released only by `spark.catalog.clearCache()`).
  *  - features (shingles/tokens) are HASHED, never dictionary-encoded:
  *    the 60-bit md5-based [[featureHash]] needs no vocabulary
  *    materialization, so there is no corpus-growing global sort or
  *    broadcast anywhere in the family. ([[featureDictionary]] remains
  *    for explicit dense-feature-id use on bounded vocabularies.)
  */
/** Cache-lifecycle handle for the dedup family. Every intermediate a dedup
  * call `.cache()`s is registered on the handle, so a long-lived session can
  * release one campaign's working set once its result is materialized:
  * {{{
  *   val caches = new DedupCaches
  *   val pairs  = Dedup.minhashLshPairs(docs, "id", "text", caches = caches)
  *   pairs.write.parquet(out)   // materialize first — the frames are lazy
  *   caches.unpersistAll()
  * }}}
  * The default [[DedupCaches.unmanaged]] preserves the one-shot-job
  * behavior: plain `.cache()`, nothing tracked, intermediates live until
  * `spark.catalog.clearCache()`. */
class DedupCaches {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  /** Idempotent: a plan already cached (by this handle, another handle, or
    * a previous query over the same input) is returned untouched — no
    * re-registration, so this handle never unpersists state it does not
    * own, and no `CacheManager: Asked to cache already cached data` noise
    * in long sessions that run several dedup queries over one corpus. */
  private[graft] def track(df: DataFrame): DataFrame =
    synchronized {
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        frames += df; df.cache()
      } else df
    }
  /** Register a frame this CALLER already cached (e.g. the surviving
    * frame of an iterate-and-unpersist loop) so `unpersistAll` releases
    * it. The complement of `track`'s idempotency: `track` refuses
    * ownership of pre-existing caches precisely because it cannot tell
    * who owns them; `adopt` is the call site asserting "this one is
    * mine". */
  private[graft] def adopt(df: DataFrame): DataFrame =
    synchronized { frames += df; df }

  /** Unpersist every tracked intermediate. Call AFTER an action on the
    * returned frame — the results are lazy plans over these caches. */
  def unpersistAll(): Unit =
    synchronized { frames.foreach(_.unpersist()); frames.clear() }
}

object DedupCaches {
  /** Session-lifetime caching: `track` is a plain `cache()`, no references
    * retained (a tracking default would itself leak — the handle would pin
    * every frame forever with no one to call unpersistAll). Same
    * idempotency contract as the class form. */
  val unmanaged: DedupCaches = new DedupCaches {
    override private[graft] def track(df: DataFrame): DataFrame =
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.cache()
      else df
    // session-lifetime scope: retaining adopted frames would pin them
    // forever with no unpersistAll caller
    override private[graft] def adopt(df: DataFrame): DataFrame = df
  }
}

object Dedup {

  /** 60-bit feature hash: the first 15 hex chars of md5, parsed as an
    * integer. Chosen over hash()/xxhash64 because the DuckDB oracle can
    * reproduce it from the same closed form —
    * `CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)` — and md5 of the
    * same UTF-8 bytes is engine-independent. This replaces the earlier
    * dense_rank dictionary id: a dictionary needs a DISTINCT + global
    * window sort over the feature vocabulary, which at 100 TB is itself a
    * corpus-scale shuffle; hashing is embarrassingly parallel and keeps
    * every dedup operator a pure map + one aggregation.
    *
    * Collision regime: 60 uniform bits put the birthday bound near 2^30
    * distinct features — a realistic shingle vocabulary at 100 TB crosses
    * that, and collisions slightly INFLATE minhash/simhash similarity
    * estimates. That is fine where this hash is used (LSH candidate
    * generation, always followed by exact verification on the real token
    * sets); do not use it as an exact-identity fingerprint — that is what
    * the 128-bit [[TextOps.fingerprint]] is for. */
  def featureHash(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** SQL mirror of [[featureHash]] (DuckDB syntax). */
  val FeatureHashSql: String = "CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)"

  /** X1 exact — one row per distinct normalized text: keeper = min doc_id,
    * plus the duplicate count. Equivalent of `dropDuplicates` but keeps
    * provenance (which ids collapsed). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** One representative document — the lowest-id member, i.e. exactly
    * [[exactDedup]]'s keeper — per distinct normalized text, carrying its
    * (id, text) so downstream similarity stages can run on it directly.
    * This is the EXACT-KEY COLLAPSE input for the minhash family (see
    * [[dedupPipeline]]): feeding near-dup candidate generation m copies
    * of one text buys C(m, 2) guaranteed-collision pairs and no
    * information. One aggregation, map-side combined (each map partition
    * forwards at most one (fp, min struct) per distinct fingerprint it
    * saw — text rides the shuffle once per distinct text per partition,
    * never per copy), replacing the exact-keeper semi join + full-corpus
    * minhash the r19 pipelines paid. Tracked in `caches` because every
    * caller references it from two plan positions (survivor list + pair
    * generation). "Lowest" is by the LONG-cast id, the order every other
    * dedup-family keeper uses (see [[nearDupComponents]]): for string ids
    * "9" keeps over "10". `idCol` must therefore be long-castable, which
    * the pipelines built on this (they cast pair ids to long) already
    * require. */
  def exactRepresentatives(docs: DataFrame, idCol: String, textCol: String,
                           caches: DedupCaches = DedupCaches.unmanaged): DataFrame =
    caches.track(
      docs.select(TextOps.fingerprint(col(textCol)).as("fp"),
          col(idCol).cast("long").as("__lid"),
          struct(col(idCol).as("id"), col(textCol).as("text")).as("__doc"))
        .groupBy(col("fp"))
        .agg(min_by(col("__doc"), col("__lid")).as("__rep"))
        .select(col("__rep.id").as(idCol), col("__rep.text").as(textCol)))

  /** X1 cross-corpus dedup — drop every new-shard document whose
    * normalized-content fingerprint already exists in a REFERENCE corpus
    * (prior training rounds, a held-out benchmark, an earlier crawl).
    * The batch analog of the streaming fingerprint ledger
    * (`StreamingOps.incrementalExactDedup`): there the ledger accretes
    * per micro-batch; here it is a whole corpus diffed in one shot.
    *
    * Plan shape at 100 TB: both sides project to (16-byte fp [+ id]) at
    * the scan, so the left-anti join shuffles fingerprints — never text.
    * The reference side reduces to DISTINCT fps (its ids are irrelevant),
    * which partial-aggregates map-side before the exchange. A sort-merge
    * anti join on fp is exactly the plan Spark picks when both ledgers are
    * corpus-sized; when the reference is small it broadcasts instead —
    * both are the plan you'd want, so no hints. For a repeated-probe
    * deployment (many shards vs one frozen reference) build a bloom
    * prefilter with [[BloomJoin]] and keep this join as the exact residual
    * check. */
  def dedupAgainstReference(newDocs: DataFrame, refDocs: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val refFps = refDocs
      .select(TextOps.fingerprint(col(textCol)).as("fp")).distinct()
    newDocs.withColumn("fp", TextOps.fingerprint(col(textCol)))
      .join(refFps, Seq("fp"), "left_anti")
      .drop("fp")
  }

  /** X1 cross-corpus dedup, bloom-prefiltered — the repeated-probe form of
    * [[dedupAgainstReference]] for the deployment that motivates it: many
    * incoming shards probed against one frozen reference corpus. The
    * reference's distinct fingerprints are folded DISTRIBUTEDLY into one
    * bloom sketch (partial sketches OR-merged — [[BloomJoin.bloomFilterFor]]),
    * and the sketch comes back as a literal in the shard's scan filter.
    *
    * Routing: a shard row whose fp the bloom rejects CANNOT be in the
    * reference (no false negatives) — it is kept straight off the scan,
    * touching no join and no shuffle. Only bloom-positive rows (true
    * dups + the fpp sliver) carry into the exact anti join, so the join
    * shuffles the duplicate volume, not the shard. Result is EXACTLY
    * [[dedupAgainstReference]] — the bloom only re-routes rows. The two
    * branches are disjoint filters of one scan; Spark scans the shard
    * twice at small SF, which at 100 TB is the right trade: a columnar
    * re-scan of (id, fp-source column) is far cheaper than shuffling the
    * ~all-clean shard through the anti join's exchange. */
  def dedupAgainstReferenceBloom(newDocs: DataFrame, refDocs: DataFrame,
                                 idCol: String, textCol: String,
                                 expectedItems: Long = 1000000L): DataFrame = {
    val refFps = refDocs
      .select(TextOps.fingerprint(col(textCol)).as("fp")).distinct()
    val bloom = BloomJoin.bloomFilterFor(refFps, col("fp"), expectedItems)
    val stamped = newDocs.withColumn("fp", TextOps.fingerprint(col(textCol)))
    val hit = BloomJoin.mightContain(bloom, col("fp"))
    // null text → null fp → mightContain is null, which fails BOTH a
    // `hit` and a `!hit` filter; route null-fp rows into the clean branch
    // explicitly so the bloom stays pure routing (the anti join keeps
    // null-key rows, so dedupAgainstReference keeps them too)
    val clean = stamped.where(col("fp").isNull || !hit)
    val residual = stamped.where(hit).join(refFps, Seq("fp"), "left_anti")
    clean.unionByName(residual).drop("fp")
  }

  /** X1 sub-document (paragraph-level) dedup — the CCNet/RefinedWeb pass
    * that exact doc-dedup misses: boilerplate and quoted passages recur
    * across otherwise-distinct documents. Every duplicated unit survives
    * ONLY at its first occurrence in global (doc, position) order; later
    * occurrences are stripped and the hosts re-assembled. Differs from
    * [[TextOps.boilerplateStrip]], which removes high-DF units from ALL
    * documents including the first — here each unit's content survives
    * exactly once corpus-wide.
    *
    * Units are fixed non-overlapping token windows ([[Curation.chunkDocuments]]
    * — the corpus has no layout markers; with real paragraphs, split on
    * the delimiter instead and the rest is unchanged). Plan shape: the
    * unit ledger groups by unit fingerprint carrying only (fp, 16 bytes)
    * + the min (doc, idx) struct — partial-aggregated map-side; join-back
    * on fp; one groupBy(doc) re-assembly. Three fp/doc-keyed exchanges of
    * unit-sized rows, never an all-pairs comparison. Output mirrors
    * boilerplateStrip: (doc_id, n_units, n_kept, kept_fp). */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     unitTokens: Int = 8): DataFrame =
    keepFirstReassemble(
      Curation.chunkDocuments(docs, idCol, textCol, unitTokens, unitTokens))

  /** Keep-first unit dedup + host re-assembly over ANY unit decomposition
    * — shared tail of [[paragraphDedup]] (fixed token windows) and
    * [[cdcChunkDedup]] (content-defined boundaries). `units` must carry
    * (doc_id, chunk_idx, chunk_text). Plan shape documented at the
    * call sites. */
  private[ops] def keepFirstReassemble(units0: DataFrame): DataFrame = {
    val units = units0.withColumn("fp", TextOps.fingerprint(col("chunk_text")))
    // min over the (doc, idx) struct = lexicographic first occurrence
    val owners = units.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("__own"))
      .select(col("fp"), col("__own.doc_id").as("__own_doc"),
        col("__own.chunk_idx").as("__own_idx"))
    units.join(owners, Seq("fp"))
      .withColumn("__keep", col("doc_id") === col("__own_doc") &&
        col("chunk_idx") === col("__own_idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            filter(array_sort(collect_list(struct(col("chunk_idx").as("i"),
              col("__keep").as("keep"), col("chunk_text").as("u")))),
              s => s.getField("keep")),
            s => s.getField("u")), " ")).as("kept_fp"))
  }

  /** X1 — content-defined chunk dedup: the shift-robust form of
    * [[paragraphDedup]]. Fixed token windows stop matching after a single
    * leading insertion (every downstream window shifts); here chunk
    * boundaries come from a ROLLING HASH of the text itself
    * ([[TextOps.cdcCuts]], FastCDC-style), so an edit only perturbs the
    * chunks it touches and every chunk after the next natural boundary
    * re-aligns — duplicated tails of edited documents still dedup.
    * Same ledger/reassembly tail and output shape as paragraphDedup;
    * chunk extraction itself is a pure projection (explode of in-row
    * boundary segments — no shuffle added). */
  def cdcChunkDedup(docs: DataFrame, idCol: String, textCol: String,
                    window: Int = 8, p: Long = 31L, m: Long = 64L): DataFrame = {
    val len = length(col(textCol))
    val cuts = TextOps.cdcCuts(col(textCol), window, p, m)
    val bounds = when(
      coalesce(try_element_at(cuts, lit(-1)), lit(-1)) === len, cuts)
      .otherwise(concat(cuts, array(len)))
    val segs = transform(sequence(lit(1), size(col("__b"))), j => struct(
      (j - 1).cast("long").as("chunk_idx"),
      col("__t").substr(
        when(j === 1, lit(1)).otherwise(element_at(col("__b"), j - 1) + 1),
        element_at(col("__b"), j) -
          when(j === 1, lit(0)).otherwise(element_at(col("__b"), j - 1)))
        .as("chunk_text")))
    val units = docs.where(len > 0)
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"), bounds.as("__b"))
      .select(col("doc_id"), explode(segs).as("__s"))
      .select(col("doc_id"), col("__s.chunk_idx").as("chunk_idx"),
        col("__s.chunk_text").as("chunk_text"))
    keepFirstReassemble(units)
  }

  /** Per-document distinct token sets, with set size. */
  def docTokenSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextOps.tokenSet(col(textCol)).as("toks"))
      .withColumn("n_toks", size(col("toks")))

  /** X1 near-dup — token-set Jaccard with rare-token candidate pruning.
    *
    * Candidates = unordered doc pairs sharing ≥1 token whose corpus
    * document-frequency ≤ maxDf (near-identical docs always share rare
    * tokens; frequent tokens like "the" would produce quadratic pairs).
    * Exact Jaccard = |A∩B| / (|A|+|B|−|A∩B|) on the full token sets of
    * each candidate pair. Output: (doc_a, doc_b, jaccard) for pairs above
    * the threshold, doc_a < doc_b.
    *
    * The rare-token table is corpus-derived (hapax tokens dominate a
    * crawl's vocabulary — it GROWS with the corpus), so its probe join is
    * unhinted: AQE broadcasts while it fits, shuffles when it doesn't.
    */
  def jaccardNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxDf: Int = 8, threshold: Double = 0.5,
                     caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val sets = caches.track(docTokenSets(docs, idCol, textCol)) // reused 3× below
    val tok = sets.select(col("doc_id"), explode(col("toks")).as("tok"))
    val rare = tok.groupBy("tok").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf && col("df") >= 2)
    val rareTok = tok.join(rare, "tok")
    val cand = rareTok.as("l").join(rareTok.as("r"), col("l.tok") === col("r.tok"))
      .where(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    val a = sets.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"), col("n_toks").as("na"))
    val b = sets.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"), col("n_toks").as("nb"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** X1 near-dup — CONTAINMENT detection (Broder's c(A,B) =
    * |S(A)∩S(B)| / |S(A)| over word-shingle sets): the asymmetric
    * duplicate class symmetric Jaccard misses — a truncated/prefix/
    * subset copy A ⊆ B has c(A,B) ≈ 1 while Jaccard |A∩B|/|A∪B|
    * collapses toward |A|/|B|. The production use: drop articles that
    * are clipped re-posts of a longer original.
    *
    * Output: ORDERED pairs (doc_a contained-in doc_b) above `threshold`,
    * doc_a ≠ doc_b; near-identical docs emit both directions. Same
    * candidate machinery as [[jaccardNearDup]] (pairs sharing a rare
    * shingle, df ∈ [2, maxDf]; exact measure on full sets only for
    * candidates; rare table unhinted — corpus-derived). Zero-shingle
    * docs emit nothing (containment undefined). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       maxDf: Int = 8, threshold: Double = 0.5, n: Int = 3,
                       caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    // shingle sets are HASHED to 60-bit longs before any set algebra
    // (the house featureHash rule): the verify stage intersects
    // |candidates| pairs of ~100-element arrays, and long equality beats
    // string hashing there by an order of magnitude — measured 8.3 s →
    // ~1 s at sf0.1 on ~380k candidate pairs. n_toks is recomputed from
    // the hashed-distinct set, so a (negligible, 2^-60-class) hash
    // collision shrinks numerator AND denominator consistently.
    val sets = caches.track(docShingleSets(docs, idCol, textCol, n)
      .select(col("doc_id"),
        array_distinct(transform(col("toks"), t => featureHash(t))).as("toks"))
      .withColumn("n_toks", size(col("toks"))))
    val tok = sets.select(col("doc_id"), explode(col("toks")).as("tok"))
    val rare = tok.groupBy("tok").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf && col("df") >= 2)
    val rareTok = tok.join(rare, "tok")
    // candidates are UNORDERED (a < b): |A∩B| is symmetric, so each
    // intersection is computed once and both directed containments are
    // projected from it — half the verify work of directed candidates
    val cand0 = caches.track(
      rareTok.as("l").join(rareTok.as("r"), col("l.tok") === col("r.tok"))
        .where(col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .distinct())
    // rows-derived verify parallelism (r22, the editDistancePairs §9b
    // recipe): the verify intersects ~set-sized arrays per candidate
    // pair — compute-dense over byte-tiny candidate rows, exactly where
    // byte-based AQE sizing serializes the stage (measured: AQE
    // broadcast the 190k-pair candidate frame and rooted the whole
    // verify at the 1-partition cached sets scan, 1.7 s single-task at
    // sf0.1). Candidates are cached (2 longs/row — the smallest frame
    // in the query) and counted, the count sizes the verify exchange
    // (floor defaultParallelism, ~64k pairs/part, cap 2^20), and the
    // shuffle_hash hints pin the join strategy so NO side broadcasts:
    // the verify's parallelism comes from the candidate partitioning at
    // every scale (at 100 TB the sets side could never broadcast
    // anyway — this makes the sf0.1 plan the same shape). NOTE: like
    // editDistancePairs, constructing this frame runs the candidate
    // count as a Spark job (materializing the cache the verify reuses).
    val nCand = cand0.count()
    val cand = cand0.repartition(verifyParts(docs.sparkSession, nCand), col("doc_a"))
    val a = sets.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
      col("n_toks").as("na"))
    val b = sets.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
      col("n_toks").as("nb"))
    val j = cand.hint("shuffle_hash").join(a, "doc_a")
      .hint("shuffle_hash").join(b, "doc_b")
      .where(col("na") > 0 && col("nb") > 0)
      .withColumn("inter",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("double"))
    // both directed containments emitted IN-ROW from the one symmetric
    // intersection (r21): the previous unionAll of two projections of `j`
    // re-executed the whole candidate-join + array-intersect verify chain
    // once PER DIRECTION (plan subtree referenced twice, no common-
    // subexpression elimination across union branches) — the explode
    // halves the verify work at every scale with bit-identical output
    j.select(explode(array(
        struct(col("doc_a"), col("doc_b"),
          (col("inter") / col("na").cast("double")).as("containment")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
          (col("inter") / col("nb").cast("double")).as("containment"))))
        .as("e"))
      .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"),
        col("e.containment").as("containment"))
      .where(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Word n-gram shingles of the ordered token stream, deduplicated.
    * Shingling (not unigram sets) is what makes MinHash discriminative:
    * on a small vocabulary every document contains the globally-minimal
    * *token*, so unigram minhashes collide corpus-wide and LSH buckets
    * degenerate to all-pairs; 3-gram shingles are near-unique per word
    * sequence, so buckets stay duplicate-cluster-sized. Docs shorter than
    * n shingle to their whole (non-empty) text. */
  /** Shingles from an already-materialized token-array column. The input
    * MUST be a bound attribute, not the tokenization expression itself:
    * Catalyst does no common-subexpression elimination inside higher-order
    * lambdas, so an inline `split(...)` would be re-evaluated for every
    * `element_at` — ~3·|doc| regex splits per document (measured 20s for
    * 5k docs before this split into two projections). */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column = {
    val grams = transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o + 1)): _*))
    array_distinct(
      when(size(toks) >= n, grams)
        .otherwise(filter(array(concat_ws(" ", toks)), s => s =!= lit(""))))
  }

  /** Word n-gram shingle set via the single-pass codegen kernel
    * [[graft.functions.WordShingles]]. Same set as
    * `shinglesFromTokens(TextOps.tokensHof(text), n)` (cross-checked in
    * TextKernelSpec) — but one scan per document, and safe against
    * Catalyst inferring `size(toks) > 0` filters from a downstream
    * `explode` and pushing the whole chain into a per-row filter (the
    * declarative chain re-evaluates its `split` per element there —
    * measured 13s vs <1s for 5k docs at sf0.1). */
  def wordShingles(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.GraftPlanBridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.GraftPlanBridge.expression(text), n))

  /** Per-document distinct shingle sets, with set size. */
  def docShingleSets(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"), wordShingles(col(textCol), n).as("toks"))
      .withColumn("n_toks", size(col("toks")))

  /** X1 end-to-end dedup: drop exact duplicates (keep lowest doc_id per
    * normalized-text fingerprint), then cluster the MinHash-LSH-verified
    * near-dup pairs into connected components and keep ONE representative
    * (the min doc id) per cluster. Returns the surviving doc ids — the
    * shape of a production corpus-dedup job.
    *
    * Cluster-then-keep-one (not drop-`doc_b`-of-every-pair) is the
    * production semantics: pair-loser deletion keeps every node that only
    * ever appears on the `doc_a` side — with pairs (a,c),(b,c) it keeps
    * BOTH a and b even though they sit in one near-dup cluster — and on
    * chains a–b, b–c its survivor set depends on how ids happen to order
    * within pairs rather than on the clusters themselves. Components give
    * exactly one deterministic representative per cluster
    * ([[connectedComponents]]).
    *
    * The cluster representative always survives exact dedup too: identical
    * texts produce identical signatures, so an exact-dup group is always
    * fully connected in the pair graph, and the component min is therefore
    * also the min of its fingerprint group.
    *
    * EXACT-KEY COLLAPSE (r20): the minhash stage runs over
    * [[exactRepresentatives]] — one document per distinct normalized
    * text — never the raw corpus. Identical texts collide in EVERY LSH
    * band, so an exact-dup group of m copies fed to the pair join emits
    * C(m, 2) candidate rows that all verify at jaccard 1.0 and say
    * nothing the fingerprint didn't: on a duplicate-heavy corpus that m²
    * term dominates the stage (the contraction measured ×34–54 on the
    * 100× board for this pipeline family — 715/1,046/885 s →
    * 19.3/19.3/25.8 s, SCALING.md round 20; same blowup
    * [[editDistancePairs]] kills with its collapse). The contraction is
    * LOSSLESS here: survivors are the
    * exact keepers, every member's near-dup edges are mirrored on its
    * representative (identical text ⇒ identical signature and jaccard),
    * and `exactDedup`'s keeper is the min id per fingerprint, so the
    * min-id component label over representatives equals the full-graph
    * label — zero output bits change (gated by the unchanged DuckDB
    * oracle, which still clusters the FULL pair graph). */
  def dedupPipeline(docs: DataFrame, idCol: String, textCol: String,
                    threshold: Double = 0.8,
                    k: Int = 8, r: Int = 4, estMin: Double = 0.75,
                    shingleN: Int = 3,
                    caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val reps = exactRepresentatives(docs, idCol, textCol, caches)
    val survivors = reps.select(col(idCol).as("doc_id"))
    val pairs = minhashLshPairs(reps, idCol, textCol, k = k, r = r,
      estMin = estMin, threshold = threshold, shingleN = shingleN, caches = caches)
    val nonRepresentatives = connectedComponents(pairs, "doc_a", "doc_b", caches = caches)
      .where(col("id") =!= col("component")).select(col("id").as("doc_id"))
    survivors.join(nonRepresentatives, Seq("doc_id"), "left_anti")
  }

  /** [[dedupPipeline]] with QUALITY-AWARE survivor selection: each
    * near-dup cluster keeps its highest-`quality` member (ties → lowest
    * id) instead of the lowest id — the production refinement (e.g.
    * RefinedWeb-style pipelines) where a cluster's best-written copy
    * should win, not its oldest. The exact stage stays min-id-per-
    * fingerprint (identical normalized text ⇒ identical quality, so the
    * id is already just a tie-break there); cluster selection then runs
    * over the EXACT-STAGE SURVIVORS, so a cluster whose best copy lost
    * the exact stage falls back to its best surviving copy rather than
    * keeping nobody.
    *
    * Scale shape: identical to [[dedupPipeline]] (LSH-bounded pair graph,
    * components over pairs only) plus one `max_by` aggregate on the
    * cluster-member table — component-cardinality, never the corpus, and
    * no window. Output: (doc_id) survivors.
    *
    * The minhash stage runs over [[exactRepresentatives]] (the
    * [[dedupPipeline]] EXACT-KEY COLLAPSE; rationale and losslessness
    * argument there). `base` only ever holds exact survivors, so
    * restricting the component table to representatives drops exactly the
    * rows the left join discarded anyway — with one visible shift: an
    * exact-dup group with NO external near-dup edge used to reach `base`
    * as a self-component (its members' jaccard-1.0 edges) and win its own
    * `max_by`; contracted, its representative takes the
    * `component IS NULL` branch instead. Both branches emit the same
    * single doc_id, so the union is row-identical. */
  def dedupPipelineKeepBest(docs: DataFrame, idCol: String, textCol: String,
                            quality: Column,
                            threshold: Double = 0.8,
                            k: Int = 8, r: Int = 4, estMin: Double = 0.75,
                            shingleN: Int = 3,
                            caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val reps = exactRepresentatives(docs, idCol, textCol, caches)
    val base = docs.select(col(idCol).as("doc_id"), quality.as("__q"))
      .join(reps.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")
    val pairs = minhashLshPairs(reps, idCol, textCol, k = k, r = r,
      estMin = estMin, threshold = threshold, shingleN = shingleN, caches = caches)
    val comp = connectedComponents(pairs, "doc_a", "doc_b", caches = caches)
      .select(col("id").as("doc_id"), col("component"))
    val m = base.join(comp, Seq("doc_id"), "left")
    val winners = m.where(col("component").isNotNull)
      .groupBy(col("component"))
      .agg(max_by(col("doc_id"), struct(col("__q"), (-col("doc_id")).as("__nid")))
        .as("doc_id"))
      .select(col("doc_id"))
    m.where(col("component").isNull).select(col("doc_id")).unionAll(winners)
  }

  /** X1 — near-dup components over the FULL corpus: (id, component) for
    * every document that appears in the [[minhashLshPairs]] pair graph,
    * component = min reachable id — the same answer as
    * `connectedComponents(minhashLshPairs(docs, …))`, computed WITHOUT
    * ever materializing the exact-dup groups' m² internal pairs.
    *
    * EXACT-KEY COLLAPSE + member re-expansion: the pair machinery runs on
    * [[exactRepresentatives]] only; member rows come back via the
    * fingerprint → representative map in an OUTPUT-sized join (each
    * expanded row is a result row). Losslessness, piece by piece:
    *
    *  - contracted edges = full edges restricted to representatives
    *    (signatures and jaccard are per-document functions of the text);
    *  - any full-graph path detouring through a non-representative member
    *    reroutes through its representative (identical text ⇒ the member's
    *    every edge exists on the representative), so two representatives
    *    share a full component iff they share a contracted one;
    *  - the full component min is the min over its representatives
    *    (each exact group's min IS its representative), so contracted
    *    labels equal full labels;
    *  - members of an exact group inherit the representative's label; a
    *    group with ≥2 copies and a NON-EMPTY shingle set is in the graph
    *    even with no external edge (its internal jaccard-1.0 pairs),
    *    labelled by its own representative — the empty-set gate matters:
    *    null/short texts produce no signature rows, so such a group is
    *    absent from the full pair graph and must stay absent here.
    *
    * Scale shape: everything quadratic-looking is representative- or
    * output-bounded; the corpus contributes one fingerprint aggregation
    * and one (id, fp) ⋈ (fp, component) expansion join keyed on the
    * 16-byte fingerprint. */
  def nearDupComponents(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.8,
                        k: Int = 8, r: Int = 4, estMin: Double = 0.75,
                        shingleN: Int = 3,
                        caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val fps = docs.select(col(idCol).cast("long").as("id"),
      TextOps.fingerprint(col(textCol)).as("fp"))
    // ONE corpus fingerprint aggregate yields BOTH the group table and the
    // representatives (r21, closing the r20 advice): the separate
    // exactRepresentatives call duplicated the corpus-wide aggregation,
    // and its min_by ordered by the ORIGINAL idCol type while rep_id
    // ordered by the long cast — divergent orderings for a string-typed
    // id would silently desync the groups⋈repComp join. Here both come
    // from the same min_by on the long id; idCol must be long-castable
    // (connectedComponents already casts the pair ids to long, so the op
    // as a whole always required it).
    val grouped = caches.track(docs
      .select(TextOps.fingerprint(col(textCol)).as("fp"),
        col(idCol).cast("long").as("__lid"),
        struct(col(idCol).as("id"), col(textCol).as("text")).as("__doc"))
      .groupBy(col("fp"))
      .agg(min_by(col("__doc"), col("__lid")).as("__rep"),
        min(col("__lid")).as("rep_id"), count(lit(1)).as("m")))
    val groups = grouped.select(col("fp"), col("rep_id"), col("m"))
    val reps = grouped.select(col("__rep.id").as(idCol),
      col("__rep.text").as(textCol))
    val repPairs = minhashLshPairs(reps, idCol, textCol, k = k, r = r,
      estMin = estMin, threshold = threshold, shingleN = shingleN, caches = caches)
    val repComp = connectedComponents(repPairs, "doc_a", "doc_b", caches = caches)
      .select(col("id").as("rep_id"), col("component"))
    // same cached plan minhashLshPairs builds internally (CacheManager
    // substitutes on the canonicalized match), reread for the gate only
    val nonEmptyReps = docShingleSets(reps, idCol, textCol, shingleN)
      .where(col("n_toks") > 0)
      .select(col("doc_id").cast("long").as("rep_id"), lit(true).as("__ne"))
    // a group's internal pairs verify at est/jaccard exactly 1.0 — they
    // exist iff the thresholds admit 1.0 (they always do in practice;
    // the guard keeps degenerate >1.0 parameters honest)
    val selfPairs = lit(threshold <= 1.0 && estMin <= 1.0)
    val groupComp = groups
      .join(repComp, Seq("rep_id"), "left")
      .join(nonEmptyReps, Seq("rep_id"), "left")
      .where(col("component").isNotNull ||
        (col("m") >= 2 && selfPairs && col("__ne").isNotNull))
      .select(col("fp"), coalesce(col("component"), col("rep_id")).as("component"))
    fps.join(groupComp, Seq("fp")).select(col("id"), col("component"))
  }

  /** Connected components over a near-dup pair graph — the step that turns
    * pairwise matches into dedup CLUSTERS (a production dedup keeps one
    * representative per component, not per pair; dropping `doc_b` of each
    * pair over-deletes when pairs chain a-b, b-c).
    *
    * The pair graph is orders of magnitude smaller than the corpus
    * (candidate generation is LSH-bounded), so the strategy is adaptive —
    * the same shape as Spark's own broadcast-vs-shuffle join choice:
    *  - |edges| ≤ `localEdgeThreshold`: collect the edge list and run
    *    union–find (path compression + union-by-min) on the driver —
    *    microseconds, no per-round jobs. 1M edges ≈ 16 MB collected.
    *  - larger: distributed min-label propagation with pointer jumping
    *    (label(label(v)) halves remaining label-tree depth per round →
    *    O(log diameter) rounds; each round is two co-partitioned joins +
    *    one min-aggregate on the node id, checkpoint-friendly).
    *
    * Returns (id, component) for every node that appears in `pairs`;
    * component = min doc id reachable (deterministic, both paths).
    * `localEdgeThreshold = 0` forces the distributed path. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          localEdgeThreshold: Long = 1000000L,
                          caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val spark = pairs.sparkSession
    val fwd = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    // edges lives only inside this call (the returned labels frame is a
    // materialized aggregate, not a plan over edges) — always release it,
    // including on the non-convergence throw below
    try {
    if (edges.count() <= localEdgeThreshold) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // union by min
      }
      val nodes = es.iterator.map(_._1).toSeq.distinct
      spark.createDataFrame(nodes.map(n => (n, find(n))))
        .toDF("id", "component")
    } else {
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")).cache()
      var changed = 1L
      var it = 0
      try {
      while (changed > 0 && it < maxIter) {
        val viaNeighbors = edges
          .join(labels.select(col("id").as("src"), col("component")), "src")
          .select(col("dst").as("id"), col("component"))
        // pointer jump: label(label(v)) — components are trees rooted at
        // their min id, this halves remaining tree depth each round
        val jumped = labels
          .join(labels.select(col("id").as("component"), col("component").as("__j")),
            "component")
          .select(col("id"), col("__j").as("component"))
        val next = labels.unionAll(viaNeighbors).unionAll(jumped)
          .groupBy(col("id")).agg(min(col("component")).as("component")).cache()
        changed = next.join(labels.select(col("id"), col("component").as("__old")), "id")
          .where(col("component") =!= col("__old")).count()
        labels.unpersist()
        labels = next
        it += 1
      }
      // silent non-convergence would hand callers WRONG cluster labels;
      // pointer jumping makes rounds ~ log2(diameter), so 20 covers any
      // realistic graph — hitting the cap means something pathological
      if (changed > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds " +
            s"($changed labels still changing) — raise maxIter")
      } catch {
        // the last round's labels frame would otherwise stay cached with
        // no reachable handle
        case t: Throwable => labels.unpersist(); throw t
      }
      // already cached (it IS the loop's last `next`) — track() would
      // refuse ownership of a pre-existing cache, so adopt explicitly
      caches.adopt(labels)
    }
    } finally edges.unpersist()
  }

  /** Feature dictionary: distinct tokens/shingles → dense 0-based ids in
    * lexicographic order (`dense_rank() over (order by tok)` in SQL).
    * NOT used by the minhash/simhash family — those hash features with
    * [[featureHash]] precisely to avoid this operator's DISTINCT + global
    * window sort, which grows with the vocabulary. Kept for explicit
    * dense-feature-id needs on bounded vocabularies (e.g. model feature
    * tables), where the single-partition sort is genuinely small. */
  def featureDictionary(sets: DataFrame): DataFrame =
    sets.select(explode(col("toks")).as("tok")).distinct()
      .withColumn("tok_id",
        (row_number().over(Window.orderBy(col("tok"))) - 1).cast("long"))

  def tokenDictionary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    featureDictionary(docTokenSets(docs, idCol, textCol))

  /** MinHash parameters: k independent universal hashes
    * h_j(x) = (a_j·x + b_j) mod P over the token-id universe.
    * Constants are fixed odd multipliers so the DuckDB oracle reproduces
    * them from the same closed form. */
  val MinhashP: Long = 2147483647L // 2^31 − 1 (Mersenne prime)
  def minhashA(j: Int): Long = 2L * j + 1L + 104729L * j // odd, deterministic
  def minhashB(j: Int): Long = 12582917L * (j + 1) % MinhashP

  /** X1 MinHash — per-document signature over a materialized shingle-set
    * table: sig[j] = min over the doc's hashed shingles of h_j(x), with
    * x = [[featureHash]] mod P. One explode + hash projection +
    * groupBy(doc) with k min-aggregates — no dictionary, and the shuffle
    * carries k longs per doc. */
  def minhashSignaturesFromSets(sets: DataFrame, k: Int = 8,
                                caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val tok = sets.select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("tok_id", pmod(featureHash(col("tok")), lit(MinhashP)))
    val sigCols = (0 until k).map { j =>
      min(pmod(lit(minhashA(j)) * col("tok_id") + lit(minhashB(j)), lit(MinhashP)))
        .as(s"mh$j")
    }
    // cache: k longs per doc — tiny, and the LSH banding union references
    // this table once per band on BOTH sides of the candidate self-join
    // (4× for k=8, r=4), so uncached it would recompute the whole
    // explode+hash+groupBy chain each time. Spark's CacheManager
    // also matches the plan across queries in a session, so the signature,
    // pairs, and pipeline queries share one materialization.
    caches.track(tok.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*))
  }

  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, shingleN: Int = 3,
                        caches: DedupCaches = DedupCaches.unmanaged): DataFrame =
    // cache: the shingle table feeds both the dictionary build and the
    // signature aggregation — without it the (interpreted, HOF-heavy)
    // tokenize+shingle pass re-runs per consumer. At 100 TB the same move
    // is a one-off materialization of the shingle table before the dedup
    // campaign (the reference's `.detach()` barrier, SURVEY.md §4).
    minhashSignaturesFromSets(
      caches.track(docShingleSets(docs, idCol, textCol, shingleN)), k, caches)

  /** X1 SimHash — per-document b-bit fingerprint: token hash
    * h = [[featureHash]](tok), bit j of the fingerprint is the sign of
    * Σ_tokens (2·((h >> j) & 1) − 1). Ties (sum == 0) count as bit 1
    * (>= 0). One groupBy(doc) with b sum-aggregates — shuffle carries b
    * ints per doc. The md5-derived h has 60 independent uniform bits, so
    * every fingerprint bit carries real entropy (a mod-2^31 universal
    * hash here once zeroed bits ≥ 31, which put ALL docs in one LSH
    * bucket for the top band — 12.5M junk candidate pairs at sf0.1). */
  def simhashFingerprint(docs: DataFrame, idCol: String, textCol: String,
                         bits: Int = 16,
                         caches: DedupCaches = DedupCaches.unmanaged): DataFrame =
    simhashFromSets(caches.track(docTokenSets(docs, idCol, textCol)), bits)

  /** SimHash over an already-materialized feature-set table (caller picks
    * unigram tokens vs shingles — on a small-vocabulary corpus unigram
    * sets are densely similar and the fingerprint loses discrimination,
    * the same degeneracy minhash has; see [[docShingleSets]]). */
  def simhashFromSets(sets: DataFrame, bits: Int): DataFrame = {
    require(bits <= 60, "fingerprint width exceeds the 60-bit feature hash")
    val tok = sets
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("h", featureHash(col("tok")))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"s$j")
    }
    val agg = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until bits).map { j =>
      when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** The (doc_id, simhash, band, bucket) banding frame shared by
    * [[simhashPairs]] and [[simhashBucketReport]]. */
  private def simhashBands(docs: DataFrame, idCol: String, textCol: String,
                           bits: Int, nBands: Int, shingleN: Int,
                           caches: DedupCaches): DataFrame = {
    require(bits % nBands == 0, "bits must be divisible by nBands")
    require(bits <= 60, "fingerprint width exceeds the 60-bit feature hash")
    val bandBits = bits / nBands
    val mask = (1L << bandBits) - 1L
    // shingle features, not unigrams: unigram sets on a small vocabulary
    // are densely similar corpus-wide and every fingerprint collides.
    // cache: one long per doc, but the pairs plan references it 2·nBands
    // times (each band of the union, on both sides of the self-join) —
    // uncached, the whole explode+hash+bit-sum chain re-runs
    // per reference (measured 8× ≈ 5 s of a 6.6 s query at sf0.1).
    val sig = caches.track(simhashFromSets(
      caches.track(docShingleSets(docs, idCol, textCol, shingleN)), bits))
    (0 until nBands).map { b =>
      sig.select(col("doc_id"), col("simhash"), lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask)).as("bucket"))
    }.reduce(_ unionAll _)
  }

  /** X1 SimHash — hot-bucket diagnosis for [[simhashPairs]]: every
    * (band, bucket) holding ≥ `minDocs` docs, with the quadratic
    * candidate count the all-pairs join would pay there. Band width
    * bounds the EXPECTED bucket size, but a degenerate corpus (one
    * dominant boilerplate template) still concentrates one bucket —
    * this is the profile_key_skew idea applied to the banding key, and
    * the measurement behind choosing [[simhashPairs]]' `maxBucketSize`
    * guard. Shuffle carries one (band, bucket) count row per bucket. */
  def simhashBucketReport(docs: DataFrame, idCol: String, textCol: String,
                          bits: Int = 48, nBands: Int = 4, shingleN: Int = 3,
                          minDocs: Long = 2,
                          caches: DedupCaches = DedupCaches.unmanaged): DataFrame =
    simhashBands(docs, idCol, textCol, bits, nBands, shingleN, caches)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("band"), col("bucket"), col("n_docs"),
        // integer DIV, not `/`: Spark's `/` is double division, exact
        // only below 2^53 — the editGroupReport fix (r19), applied here
        expr("CAST(n_docs * (n_docs - 1) DIV 2 AS BIGINT)")
          .as("n_candidate_pairs"))
      .orderBy(col("n_docs").desc, col("band"), col("bucket"))

  /** X1 SimHash near-dup — candidate pairs share at least one band of the
    * fingerprint (classic simhash blocking), verified by Hamming distance
    * on the full fingerprint.
    *
    * Band width is the scale lever: buckets hold ~|corpus| / 2^bandBits
    * docs and the blocking join is quadratic per bucket. 4-bit nibbles on
    * a 5k corpus meant ~312-doc buckets → ~12M candidate pairs (measured
    * 21s at sf0.1); the production shape is a wide fingerprint with wide
    * bands — default 48 bits in 4×12-bit bands → 4096 buckets, candidates
    * proportional to true near-dups.
    *
    * `maxBucketSize` is the worst-case guard band width cannot give: one
    * dominant template (mirrored boilerplate) can still concentrate a
    * single bucket and make that bucket quadratic regardless of width.
    * With the cap set, a bucket above it degrades to a STAR comparison —
    * every member verifies against the bucket's lowest-id member only —
    * so its cost is O(n) instead of O(n²). Within a truly degenerate
    * bucket (near-identical docs, the case that creates it) the star
    * finds (rep, member) for every member and connected-components
    * downstream still groups the whole template family; what the star
    * can miss is a pair of members each ≤ maxHamming from the OTHER but
    * > maxHamming from the representative — a bounded, documented recall
    * trade only in capped buckets ([[simhashBucketReport]] names them;
    * Round15OpsSpec measures the degenerate corpus). Default None
    * preserves exact all-pairs blocking. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 48, nBands: Int = 4,
                   maxHamming: Int = 3, shingleN: Int = 3,
                   maxBucketSize: Option[Int] = None,
                   caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val bands = simhashBands(docs, idCol, textCol, bits, nBands, shingleN, caches)
    val cand = maxBucketSize match {
      case None =>
        bands.as("l").join(bands.as("r"),
            col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
          .where(col("l.doc_id") < col("r.doc_id"))
          .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
            bit_count(col("l.simhash").bitwiseXOR(col("r.simhash")))
              .cast("long").as("hamming"))
      case Some(cap) =>
        require(cap >= 2, "maxBucketSize must allow at least one pair")
        // one count + representative (lowest doc_id with its fingerprint)
        // per bucket: the stats frame is bucket-bounded, never doc-scale
        val stats = bands.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("__n"),
            min(struct(col("doc_id"), col("simhash"))).as("__rep"))
        val sized = bands.join(stats, Seq("band", "bucket"))
        val small = sized.where(col("__n") <= cap)
          .select(col("band"), col("bucket"), col("doc_id"), col("simhash"))
        val smallPairs = small.as("l").join(small.as("r"),
            col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
          .where(col("l.doc_id") < col("r.doc_id"))
          .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
            bit_count(col("l.simhash").bitwiseXOR(col("r.simhash")))
              .cast("long").as("hamming"))
        // hot buckets: star against the representative — O(n) per bucket
        val starPairs = sized.where(col("__n") > cap
            && col("doc_id") =!= col("__rep.doc_id"))
          .select(col("__rep.doc_id").as("doc_a"), col("doc_id").as("doc_b"),
            bit_count(col("__rep.simhash").bitwiseXOR(col("simhash")))
              .cast("long").as("hamming"))
        smallPairs.unionAll(starPairs)
    }
    // filter BEFORE distinct: the Hamming check is a per-row scalar, so
    // the dedup shuffle carries only true near-pairs, not bucket noise
    cand.where(col("hamming") <= maxHamming).distinct()
  }

  /** X1 MinHash+LSH — banding: k minhashes split into bands of r rows; a
    * pair landing in the same bucket for any band is a candidate. Before
    * the (expensive) exact token-set verify, candidates are pre-filtered
    * by the *signature-estimated* Jaccard — the fraction of agreeing
    * minhash components, a scalar compare on columns already present in
    * the pair row. At 100 TB this is the step that keeps the verify join
    * proportional to true near-dups rather than to candidate noise.
    * Output like [[jaccardNearDup]]. */
  /** LSH banding of a signature table: one row per (doc, band) with the
    * band's bucket key (concatenated minhash components). */
  def lshBands(sig: DataFrame, k: Int, r: Int): DataFrame = {
    require(k % r == 0, "k must be divisible by band width r")
    (0 until k / r).map { b =>
      sig.select((col("doc_id") +: (0 until k).map(i => col(s"mh$i"))) :+
        lit(b).as("band") :+
        concat_ws("_", (0 until r).map(i => col(s"mh${b * r + i}")): _*).as("bucket"): _*)
    }.reduce(_ unionAll _)
  }

  /** Signature-estimated Jaccard between the `l`/`r` sides of a banded
    * self- or two-table join: fraction of agreeing minhash components. */
  def signatureEstJaccard(k: Int): Column =
    (0 until k).map(i =>
      when(col(s"l.mh$i") === col(s"r.mh$i"), 1.0).otherwise(0.0)).reduce(_ + _) / lit(k.toDouble)

  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, r: Int = 4, estMin: Double = 0.75,
                      threshold: Double = 0.8, shingleN: Int = 3,
                      caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val shingleSets = caches.track(docShingleSets(docs, idCol, textCol, shingleN))
    val sig = minhashSignaturesFromSets(shingleSets, k, caches)
    val bands = lshBands(sig, k, r)
    val est = signatureEstJaccard(k)
    val cand = bands.as("l").join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .where(col("l.doc_id") < col("r.doc_id"))
      .where(est >= lit(estMin))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    val sets = shingleSets
    val a = sets.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"), col("n_toks").as("na"))
    val b2 = sets.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"), col("n_toks").as("nb"))
    cand.join(a, "doc_a").join(b2, "doc_b")
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** X1 — edit-distance similarity join (Ed-Join shape): every id pair
    * whose KEY is within Levenshtein distance ≤ `maxDist`, found WITHOUT
    * an all-pairs join. The filter chain is provably LOSSLESS, so the
    * output is identical to brute force (the DuckDB oracle IS brute
    * force — the correctness gate checks losslessness on real data, and
    * PropertySpec fuzzes it on random edit scripts):
    *
    *  1. length filter — ed ≤ d forces |len(a) − len(b)| ≤ d;
    *  2. prefix filter — with positional q-grams tokenized as
    *     (gram, occurrence#) so repeated grams stay distinct tokens, an
    *     edit destroys ≤ q tokens, so ed ≤ d pairs share a token among
    *     each side's q·d+1 globally-rarest tokens (rarity = corpus token
    *     frequency, the All-Pairs/Ed-Join prefix principle — valid when
    *     max(len) ≥ q·(d+1), i.e. t = max(len)−q+1−q·d ≥ 1);
    *  3. exact Levenshtein verify on the surviving candidates only.
    *
    * Pairs whose shorter side has fewer than q·(d+1) chars fall outside
    * the prefix principle's guarantee; they route to a short-string pool
    * joined length-banded all-pairs — bounded, because the pool holds
    * only near-empty keys (< q·(d+1)+d chars), a corpus-independent
    * sliver.
    *
    * Scale shape — two layers:
    *
    *  - EXACT-KEY COLLAPSE first: all candidate machinery runs on
    *    DISTINCT keys (lowest-id member as representative), because
    *    identical keys are the dominant mass on boilerplate-heavy
    *    corpora and every within-group pair is trivially dist 0. Member
    *    expansion at the end is OUTPUT-bounded (each expanded row is a
    *    result row), so the quadratic-looking step can't exceed the
    *    answer size. Without this, N copies of one template key create
    *    N² candidate rows through the prefix join — measured 60× worse
    *    on the replicated-corpus probe.
    *  - the candidate join keys on PREFIX tokens only — q·d+1 per
    *    distinct key, chosen rarest-first, so frequent-gram skew lands
    *    in positions the prefix never keeps. Shuffles: token-frequency
    *    agg, prefix self-join — all keyed, no broadcast of anything
    *    corpus-sized.
    *  - VERIFY-IN-JOIN (r18): the prefix frames carry the key text, so
    *    the banded Levenshtein runs as a filter ON the candidate join's
    *    output iterator — collision rows are generated and killed inside
    *    one stage, and only TRUE pairs ever reach a shuffle. The r17 form
    *    distinct()ed the raw candidate set and re-joined it twice against
    *    `keys` to fetch the texts: at 30× data that was 345M candidate
    *    rows through three shuffles for 0.9M true pairs — measured 848 s;
    *    this form (with q=4) runs the same query in ~17 s, identical
    *    output. Candidate volume itself is the remaining cost driver
    *    (collisions ∝ Σ C(prefix-token holders, 2)); `q` is its lever —
    *    wider grams are rarer, 412M → 114M collisions from q=2 → 4 on the
    *    30× corpus. The verify cost per collision is O(len·d) with the
    *    3-arg early-exit threshold form.
    *
    * Eager: building the frame runs one Spark job. It caches the distinct
    * keys and counts them (all keys, and those of length ≥ q·(d+1)) in
    * one aggregate, and the counts size the verify and prefix partitions
    * (~64k rows per task, never below the default parallelism). The
    * cache it fills is the one the returned plan reads. The same holds
    * for [[editDistanceTopK]] and the other callers of this chain.
    *
    * Output: (a_id, b_id, dist), a_id < b_id. */
  def editDistanceJoin(docs: DataFrame, idCol: String, key: Column,
                       maxDist: Int = 2, q: Int = 2,
                       maxGroupSize: Option[Int] = None,
                       caches: DedupCaches = DedupCaches.unmanaged): DataFrame =
    editDistancePairs(docs, idCol, key, maxDist, q, maxGroupSize, caches)
      .orderBy(col("a_id"), col("b_id"))

  /** X1 — Ed-Join prefix-group skew report (r19, the diagnosis behind
    * [[editDistanceJoin]]'s `maxGroupSize` guard — the simhash/cosine
    * skew reports applied to the Ed-Join blocking key): every
    * (gram, occurrence#) PREFIX token of the long branch with the number
    * of distinct keys whose q·d+1 rarest-token prefix retains it, and the
    * quadratic candidate-pair count the prefix self-join pays there.
    * Candidate mass is Σ C(n_keys, 2) over these groups — one
    * boilerplate-heavy corpus region concentrates a (gram, occ) group no
    * matter how rare the prefix ordering tries to keep tokens (every key
    * in the region shares its rarest grams), which is exactly where the
    * 100× probe measured the uncapped join's 78.6 s. Output:
    * (gram, occ, n_keys, n_candidate_pairs), hottest first. */
  def editGroupReport(docs: DataFrame, idCol: String, key: Column,
                      maxDist: Int = 2, q: Int = 2,
                      minKeys: Long = 2): DataFrame = {
    require(maxDist >= 1 && q >= 1, "need maxDist >= 1 and q >= 1")
    val keysAll = docs.select(col(idCol).cast("long").as("id"), key.as("key"))
    val keys = keysAll.groupBy(col("key")).agg(min(col("id")).as("id"))
      .withColumn("len", length(col("key")))
    prefixTokens(keys, maxDist, q)
      .groupBy(col("gram"), col("occ"))
      .agg(count(lit(1)).as("n_keys"))
      .where(col("n_keys") >= minKeys)
      .select(col("gram"), col("occ"), col("n_keys"),
        // integer DIV, not `/`: Spark's `/` is double division, exact
        // only below 2^53 — the DuckDB oracle divides exactly
        expr("CAST(n_keys * (n_keys - 1) DIV 2 AS BIGINT)")
          .as("n_candidate_pairs"))
      .orderBy(col("n_keys").desc, col("gram"), col("occ"))
  }

  /** Long-branch prefix frame shared by [[editDistancePairs]] and
    * [[editGroupReport]]: positional q-grams of each distinct key of
    * length ≥ q·(d+1), tokenized as (gram, occurrence#), kept only in the
    * key's q·d+1 globally-rarest positions (rarity = corpus token
    * frequency; ties broken (gram, occ) so the per-key order is total and
    * both the engine and the DuckDB oracle derive the identical prefix).
    * Key text and length ride along for the verify-in-join. */
  private def prefixTokens(keys: DataFrame, maxDist: Int, q: Int): DataFrame = {
    val d = maxDist
    val longMin = q * (d + 1)
    val longs = keys.where(col("len") >= longMin)
    // (gram, occurrence#) tokens in ONE pass per key via the codegen
    // kernel [[graft.functions.PositionalQGrams]] (r21). The previous
    // derivation — explode(sequence) + substring + row_number() OVER
    // (PARTITION BY id, gram ORDER BY p) — SHUFFLED the full positional
    // gram stream (≈ len−q+1 rows per key) on (id, gram) just to number
    // occurrences that are a per-row function of the key string; at
    // corpus scale that exchange carries the whole token stream. Output
    // is bit-identical (TextKernelSpec pins kernel ≡ declarative chain).
    val tokens = longs.select(col("id"), col("len"), col("key"),
        explode(org.apache.spark.sql.GraftPlanBridge.column(
          graft.functions.PositionalQGrams(
            org.apache.spark.sql.GraftPlanBridge.expression(col("key")), q)))
          .as("t"))
      .select(col("id"), col("len"), col("key"),
        col("t.gram").as("gram"), col("t.occ").as("occ"))
    val freq = tokens.groupBy(col("gram"), col("occ"))
      .agg(count(lit(1)).as("tf"))
    val rarity = Window.partitionBy(col("id"))
      .orderBy(col("tf").asc, col("gram").asc, col("occ").asc)
    tokens.join(freq, Seq("gram", "occ"))
      .withColumn("pr", row_number().over(rarity))
      .where(col("pr") <= q * d + 1)
      .select(col("id"), col("len"), col("key"), col("gram"), col("occ"))
  }

  /** Task count for a compute-bound verify stage over `rows` rows: the
    * cluster's default parallelism, or ~64k rows per partition above it
    * (see [[editDistancePairs]]). */
  private[ops] def verifyParts(spark: SparkSession, rows: Long): Int = math.max(
    spark.sparkContext.defaultParallelism,
    math.min(rows / 65536L + 1L, 1L << 20).toInt)

  /** [[editDistanceJoin]] without the terminal global sort — for consumers
    * that re-partition anyway (the top-k ranking window, components).
    *
    * `maxGroupSize` (r19) is the hot-group guard, the cosine family's
    * `maxBucketSize` pattern applied to X1's last unguarded quadratic:
    * the prefix self-join's candidate mass is Σ C(holders, 2) per
    * (gram, occ) group — clique-quadratic where boilerplate concentrates
    * the rarest grams (measured 78.6 s at 100× data, vs FLAT for the
    * guarded cosine ops). With the cap set, a prefix group above it
    * degrades to a STAR comparison: each member verifies against the
    * group's lowest-id key only — O(n) per group, the representative's
    * key riding the per-group stats row. The recall trade is bounded and
    * the same as the cosine star's: within a capped group, a pair within
    * distance d of each OTHER but (a) not within d of the representative
    * and (b) sharing no other ≤-cap prefix token is missed;
    * [[editGroupReport]] names the capped groups. Exact-key collapse is
    * untouched, so identical keys (the dominant duplicate mass) are
    * always found. Default None preserves the lossless chain. */
  private[graft] def editDistancePairs(
      docs: DataFrame, idCol: String, key: Column,
      maxDist: Int, q: Int, maxGroupSize: Option[Int],
      caches: DedupCaches): DataFrame = {
    require(maxDist >= 1 && q >= 1, "need maxDist >= 1 and q >= 1")
    val d = maxDist
    val longMin = q * (d + 1) // both >= longMin → prefix principle holds
    val keysAll = docs.select(col(idCol).cast("long").as("id"), key.as("key"))
    // one representative per distinct key (lowest member id); the cache
    // itself stays AQE-byte-sized — the counts below materialize it and
    // price the verify parallelism from ROWS
    val keys = caches.track(keysAll.groupBy(col("key"))
      .agg(min(col("id")).as("id"))
      .withColumn("len", length(col("key"))))
    // Verify parallelism (r21). The Levenshtein verify stages are
    // compute-quadratic in rows per partition but tiny in BYTES, so
    // byte-based AQE sizing (which the engine wants everywhere else —
    // see canChangeCachedPlanOutputPartitioning) serializes them: the
    // measured sf0.1 plan ran the two verify joins on 2 tasks (1.6 s
    // each, sequential). The frames below are therefore repartitioned
    // BY THE DOWNSTREAM JOIN KEY with an explicit, ROW-derived count:
    // floor = the cluster's defaultParallelism (a compute-bound stage
    // must use every core even when bytes are tiny), above it ~64k keys
    // per partition so a 100 TB corpus gets rows-bounded partitions,
    // never corpus/cores-sized ones. Both counts — all keys, and the
    // long keys the prefix stream is built from — come from one
    // aggregate over the cache every branch below reads anyway; it runs
    // while the frame is being built (documented on [[editDistanceJoin]]).
    // Keying the cached prefix by the self-join key also removes the
    // self-join/stats-join exchanges outright (guide §2.4); oversized
    // partitions still split via AQE skew-join handling.
    val counts = keys.agg(count(lit(1)),
      count(when(col("len") >= longMin, lit(1)))).head()
    val (nKeys, nLong) = (counts.getLong(0), counts.getLong(1))
    val nParts = verifyParts(docs.sparkSession, nKeys)
    // banded verify: the 3-arg threshold form early-exits once a row of
    // the DP band exceeds d (O(len·d) per pair vs O(len²)) and returns −1
    // past the bound — kept pairs carry the exact distance
    def verify(cand: DataFrame): DataFrame = cand
      .withColumn("dist", levenshtein(col("ka"), col("kb"), d).cast("long"))
      .where(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist"))

    // short pool: any pair whose min side is < longMin has max side
    // < longMin + d (length filter), so both live in `t`. The left side
    // drives the nested-loop verify's task count — repartitioned to the
    // row-derived verify parallelism (see nParts above)
    val sPool = keys.where(col("len") < longMin)
      .select(col("id").as("sa"), col("len").as("la"), col("key").as("ksa"))
      .repartition(nParts, col("sa"))
    val tPool = keys.where(col("len") < longMin + d)
      .select(col("id").as("sb"), col("len").as("lb"), col("key").as("ksb"))
    // `=!=` not `<`: a pair with one side ≥ longMin lives only in tPool,
    // so it may arrive with sa > sb; least/greatest normalizes (Levenshtein
    // is symmetric), and the both-short double-emission collapses in the
    // pair-level distinct below
    val shortPairs = verify(sPool.join(tPool,
        col("sa") =!= col("sb") && abs(col("la") - col("lb")) <= d)
      .select(least(col("sa"), col("sb")).as("a_id"),
        greatest(col("sa"), col("sb")).as("b_id"),
        col("ksa").as("ka"), col("ksb").as("kb")))

    // long branch: positional q-grams → (gram, occ) tokens → global
    // rarity order → q·d+1 prefix (key text carried) → token-equality
    // candidates verified inline ([[prefixTokens]] — shared with the
    // skew report so the diagnosis counts EXACTLY the joined groups)
    // cached partitioned by the self-join/stats key: the (gram, occ)
    // equi-joins below then read the cache exchange-free, and the verify
    // runs at a rows-derived task count regardless of byte size (the
    // token stream is q·d+1 prefix rows per long key — short keys emit
    // none, so the count is sized from the long keys alone)
    val prefix = caches.track(prefixTokens(keys, maxDist, q)
      .repartition(verifyParts(docs.sparkSession, nLong * (q * d + 1)),
        col("gram"), col("occ")))
    def allPairsOf(pfx: DataFrame): DataFrame =
      verify(pfx.as("l").join(pfx.as("r"),
          col("l.gram") === col("r.gram") && col("l.occ") === col("r.occ")
            && col("l.id") < col("r.id")
            && abs(col("l.len") - col("r.len")) <= d)
        .select(col("l.id").as("a_id"), col("r.id").as("b_id"),
          col("l.key").as("ka"), col("r.key").as("kb")))
    val longPairs = maxGroupSize match {
      case None => allPairsOf(prefix)
      case Some(cap) =>
        require(cap >= 2, "maxGroupSize must allow at least one pair")
        // per-(gram, occ) size + representative (lowest id, key attached);
        // token-cardinality sized, so the join back is keyed, never
        // broadcast — unlike the cosine guard's ≤2^bits stats frame
        val stats = prefix.groupBy(col("gram"), col("occ"))
          .agg(count(lit(1)).as("__n"),
            min(struct(col("id"), col("len"), col("key"))).as("__rep"))
        val sized = prefix.join(stats, Seq("gram", "occ"))
        val smallG = allPairsOf(sized.where(col("__n") <= cap)
          .select(col("id"), col("len"), col("key"), col("gram"), col("occ")))
        // hot groups: star against the representative — O(n) per group,
        // join-free (the rep key is already on the row); rep id is the
        // group minimum so a_id < b_id holds by construction
        val starG = verify(sized.where(col("__n") > cap
            && col("id") =!= col("__rep.id")
            && abs(col("len") - col("__rep.len")) <= d)
          .select(col("__rep.id").as("a_id"), col("id").as("b_id"),
            col("__rep.key").as("ka"), col("key").as("kb")))
        smallG.union(starG)
    }

    // representative-level matches (distinct keys ⇒ dist ≥ 1 here); a pair
    // sharing several prefix tokens verifies once per shared token — the
    // distinct (on true pairs only, output-sized) collapses the copies …
    val repPairs = shortPairs.union(longPairs).distinct()
    // … expanded to member pairs (output-bounded), plus the dist-0
    // within-group pairs the collapse absorbed. Cached pinned by `rep`
    // (r21): this lightweight (rep, id) proxy frame is referenced four
    // times (within self-join l/r + cross a/b); uncached, each reference
    // re-ran the corpus scan + key join. The rep partitioning makes the
    // within self-join exchange-free on the cache.
    val members = caches.track(keysAll
      .join(keys.select(col("key"), col("id").as("rep")), Seq("key"))
      .select(col("rep"), col("id"))
      .repartition(nParts, col("rep")))
    val cross = repPairs
      .join(members.select(col("rep").as("a_id"), col("id").as("ma")), Seq("a_id"))
      .join(members.select(col("rep").as("b_id"), col("id").as("mb")), Seq("b_id"))
      .select(least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id"), col("dist"))
    val within = members.as("l").join(members.as("r"),
        col("l.rep") === col("r.rep") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a_id"), col("r.id").as("b_id"),
        lit(0L).as("dist"))
    within.union(cross)
  }

  /** X1 — BOUNDED-OUTPUT edit-distance neighbor view (r17): for each id,
    * its `k` nearest keys within distance ≤ `maxDist` (ties broken by the
    * lower neighbor id). Candidate generation and verification are
    * [[editDistanceJoin]]'s lossless prefix-filter chain unchanged; only
    * the EMISSION is capped — the uncapped pair set grew ×408 at ×10 data
    * on the r16 board (per-source duplicate replicas form near-cliques:
    * m copies ⇒ m² pairs), correct but quadratic in clique size, where a
    * 100 TB user wants each doc's best matches. Symmetric: each verified
    * pair ranks under both endpoints. The per-id ranking window sorts at
    * most an id's own verified-match list, which the cap then truncates.
    * Output: (id, nbr_id, dist), ≤ k rows per id. */
  def editDistanceTopK(docs: DataFrame, idCol: String, key: Column,
                       maxDist: Int = 2, q: Int = 2, k: Int = 3,
                       maxGroupSize: Option[Int] = None,
                       caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    require(k >= 1, "k must be positive")
    // tracked (r21): the symmetric view below references `pairs` twice
    // (a→b and b→a), which re-ran the whole candidate+verify chain;
    // the frame is output-bounded (true pairs only), so caching it is
    // cheap at every scale
    val pairs = caches.track(editDistancePairs(docs, idCol, key, maxDist, q,
      maxGroupSize, caches))
    val sym = pairs.select(col("a_id").as("id"), col("b_id").as("nbr_id"), col("dist"))
      .unionByName(pairs.select(col("b_id").as("id"), col("a_id").as("nbr_id"),
        col("dist")))
    sym.withColumn("__rk", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("dist").asc, col("nbr_id").asc)))
      .where(col("__rk") <= k)
      .select(col("id"), col("nbr_id"), col("dist"))
  }
}
