package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.Tables
import graft.streaming.StreamingOps

/** Public facade — the library surface a user of the reference pipeline
  * would call. Everything returns a lazy DataFrame; nothing collects.
  *
  * {{{
  * val spark = Graft.session(cores = 8)
  * val t = Graft.transitions(spark, dir)                       // S1 ingest
  * val ret = Graft.discountedReturns(t, gamma = 0.99)          // W1
  * val best = Graft.feasibleBest(eps, limit = 20.0)            // W4
  * val kept = Graft.dedupCorpus(docs)                          // X1 pipeline
  * val nn = Graft.similaritySearch(emb, $"vec_id" % 100 === 0) // X2
  * }}}
  */
object Graft {

  /** Session with the engine profile (`Engine.conf`) at `cores` local
    * cores, custom functions registered. */
  def session(cores: Int = Engine.cpus): SparkSession = {
    val s = Engine.builder(cores).appName("graft").getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s
  }

  // ---- sources (S1–S4) ----
  def transitions(spark: SparkSession, dir: String): DataFrame = Tables.transitions(spark, dir)
  def events(spark: SparkSession, dir: String): DataFrame = Tables.events(spark, dir)
  def documents(spark: SparkSession, dir: String): DataFrame = Tables.documents(spark, dir)
  def embeddings(spark: SparkSession, dir: String): DataFrame = Tables.embeddings(spark, dir)

  // ---- reference dataflow ----
  /** W1: per-episode discounted reverse cumulative return. */
  def discountedReturns(transitions: DataFrame, gamma: Double = 0.99,
                        episodeCol: String = "episode_id", timeCol: String = "t",
                        valueCol: String = "cost"): DataFrame =
    SeqOps.discountedReturn(transitions, episodeCol,
      Seq(col(timeCol), col(valueCol)), col(valueCol), gamma, "return")

  /** W3: per-episode accumulation with optional length cap. */
  def episodeSummary(transitions: DataFrame, episodeCol: String, timeCol: String,
                     valueCol: String, lengthCap: Option[Int] = None): DataFrame =
    SeqOps.sessionAgg(transitions, episodeCol, Seq(col(timeCol)), col(valueCol), lengthCap)

  /** W4: feasible-best selection (cost under limit, highest return). */
  def feasibleBest(episodes: DataFrame, costCol: String, returnCol: String,
                   limit: Double, pkCol: String): DataFrame =
    SeqOps.feasibleBest(episodes, col(costCol), limit,
      Seq(col(returnCol).desc, col(pkCol).asc))

  /** J2: TD targets from episode-ordered data. */
  def tdTargets(transitions: DataFrame, episodeCol: String, orderCols: Seq[Column],
                rewardCol: Column, doneCol: Column, valueCol: Column,
                gamma: Double): DataFrame =
    JoinOps.tdTarget(transitions, episodeCol, orderCols, rewardCol, doneCol,
      valueCol, gamma, "td_target")

  /** J3: soft update of a parameter table toward a source table. */
  def softUpdate(target: DataFrame, source: DataFrame, key: String,
                 vecCol: String, tau: Double = 0.005): DataFrame =
    JoinOps.softUpdate(target, source, key, vecCol, tau, "updated")

  /** Custom-operator as-of join (latest right row at-or-before left time). */
  def asOfJoin(left: DataFrame, right: DataFrame, leftKey: String, rightKey: String,
               leftTime: String, rightTime: String): DataFrame =
    JoinOps.asOfJoin(left, right, leftKey, rightKey, leftTime, rightTime)

  // ---- LLM-pipeline extensions (X1–X4) ----
  /** X1: full corpus dedup — exact + MinHash-LSH near-dup removal. */
  def dedupCorpus(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                  threshold: Double = 0.8): DataFrame =
    Dedup.dedupPipeline(docs, idCol, textCol, threshold)

  /** X1: near-dup cluster id per document, straight from the corpus —
    * exact-rep contracted minhash components with member re-expansion
    * ([[graft.ops.Dedup.nearDupComponents]], r20), so exact-duplicate
    * groups never materialize their m² internal pairs. Docs absent from
    * the pair graph (no duplicate, no near-dup) emit no row. */
  def dedupClustersOf(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      threshold: Double = 0.8): DataFrame =
    Dedup.nearDupComponents(docs, idCol, textCol, threshold)

  /** X2: cosine top-k for a query subset (brute force, codegen kernel). */
  def similaritySearch(emb: DataFrame, queryPred: Column, k: Int = 5,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.bruteForceTopK(emb, idCol, vecCol, queryPred, k)

  /** X2 scale path: LSH-bucketed approximate top-k. */
  def annSearch(emb: DataFrame, queryPred: Column, k: Int = 5, bits: Int = 8,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.lshTopK(emb, idCol, vecCol, queryPred, k, bits)

  /** X3: corpus-fit bigram LM quality scoring — mean add-α bigram
    * log-probability per doc (low = scrambled/templated/off-language). */
  def lmScore(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    TextOps.lmPerplexityScore(docs, idCol, textCol)

  /** X6: weighted sampling without replacement (Efraimidis–Spirakis,
    * deterministic hash uniforms; probability ∝ weight). TakeOrdered
    * plan — per-partition heaps, no global sort. */
  def sampleByWeight(df: DataFrame, weightCol: Column, k: Int, seed: String = "",
                     idCol: String = "doc_id"): DataFrame =
    Curation.prioritySample(df, idCol, weightCol, k, seed)

  /** X5: heavy hitters per group — Misra–Gries mergeable sketch aggregate
    * (exact when distinct keys ≤ capacity; ≤ N/(capacity+1) undercount
    * otherwise). Returns (group…, entries array sorted count-desc). */
  def heavyHitters(df: DataFrame, keyCol: Column, groupCols: Seq[Column],
                   capacity: Int = 1024): DataFrame = {
    val mg = org.apache.spark.sql.functions.udaf(new MisraGriesAggregator(capacity))
    df.groupBy(groupCols: _*).agg(mg(keyCol).as("heavy_hitters"))
  }

  /** X2 index training: fixed-iteration Lloyd's k-means over the
    * embedding column (broadcast-fold assignment, (cell, pos) partial-sum
    * update) — produces the centroid table an IVF index searches. */
  def trainCentroids(emb: DataFrame, seedPred: Column, iters: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.kmeansFit(emb, idCol, vecCol, seedPred, iters)

  /** X1: [[dedupCorpus]] with quality-aware survivor selection — each
    * near-dup cluster keeps its highest-`quality` member (ties → lowest
    * id) rather than its lowest id. */
  def dedupCorpusKeepBest(docs: DataFrame, quality: Column,
                          idCol: String = "doc_id", textCol: String = "text",
                          threshold: Double = 0.8): DataFrame =
    Dedup.dedupPipelineKeepBest(docs, idCol, textCol, quality, threshold)

  /** X6: temperature mixture (keep stratum l ∝ n_l^alpha — mT5/XLM-R
    * multilingual resampling; alpha < 1 up-weights small strata). */
  def temperatureSample(df: DataFrame, alpha: Double, totalTarget: Long,
                        idCol: String = "doc_id",
                        stratumCol: String = "source"): DataFrame =
    Curation.temperatureSample(df, idCol, stratumCol, alpha, totalTarget)

  /** X2: search a maintained cell-partitioned ANN index (built by
    * [[graft.streaming.StreamingOps.incrementalAnnIndex]]) — the scan
    * reads only the queried cells' partitions via dynamic pruning. */
  def searchAnnIndex(spark: SparkSession, indexPath: String, queries: DataFrame,
                     centroids: DataFrame, k: Int = 5,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.annIndexSearch(spark, indexPath, queries, idCol, vecCol, centroids, k)

  /** X2 SemDeDup: nearest-centroid cells, then within-cell cosine dedup —
    * every member flagged is_dup when a lower-id cell-mate reaches the
    * threshold; the lowest id per semantic group survives. */
  def semanticDedup(emb: DataFrame, centroidPred: Column, threshold: Double = 0.95,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.semanticDedup(emb, idCol, vecCol, centroidPred, threshold)

  /** X3: per-document text analysis (tokens, quality, language,
    * fingerprint) — one tokenization pass via the graft_text_stats
    * kernel; each output equals its declarative TextOps form. */
  def analyzeText(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val st = TextOps.textStats(t)
    docs.select(col(idCol),
      st.getField("n_tokens").cast("long").as("n_tokens"),
      TextOps.subwordCountFromStats(st, t).as("n_subwords"),
      TextOps.qualityScoreFromStats(st, t).as("quality"),
      TextOps.langIdFromStats(st).as("lang_pred"),
      TextOps.fingerprint(t).as("fingerprint"))
  }

  /** X3: TF-IDF top-k terms per document. */
  def topTerms(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    TextOps.tfidfTopTerms(docs, idCol, textCol, k)

  /** X3: benchmark decontamination — drop every training doc sharing a
    * word n-gram with the eval slice (bench docs pass through). */
  def decontaminate(docs: DataFrame, isBench: Column, n: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    TextOps.decontaminated(docs, idCol, textCol, isBench, n)

  /** X3: Gopher-style repetition signals (duplicate-n-gram count,
    * top-token multiplicity) for quality filtering. */
  def repetitionStats(docs: DataFrame, n: Int = 2, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    TextOps.repetitionStats(docs, idCol, textCol, n)

  /** J1 exact semantics: seeded with-replacement positional gather
    * (duplicate draws replicate rows), broadcast index join. */
  def gatherSample(df: DataFrame, posCol: String, nDraws: Long, seed: Long): DataFrame =
    JoinOps.gatherSample(df, posCol, nDraws, seed)

  /** X1: asymmetric containment pairs — truncated/subset copies that
    * symmetric Jaccard misses (doc_a contained-in doc_b, ordered). */
  def containmentDups(docs: DataFrame, threshold: Double = 0.5,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    ops.Dedup.containmentPairs(docs, idCol, textCol, threshold = threshold)

  /** X1: SimHash near-dup pairs (wide-band blocking + Hamming verify). */
  def simhashNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", maxHamming: Int = 3): DataFrame =
    Dedup.simhashPairs(docs, idCol, textCol, maxHamming = maxHamming)

  /** X2 scale path: int8 scalar quantization of the embedding column. */
  def quantizeEmbeddings(emb: DataFrame, idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    Similarity.quantizeInt8(emb, idCol, vecCol)

  /** X1: near-dup pairs → dedup clusters (adaptive connected components;
    * component = min doc id, one representative per cluster). */
  def dedupClusters(pairs: DataFrame, aCol: String = "doc_a",
                    bCol: String = "doc_b"): DataFrame =
    Dedup.connectedComponents(pairs, aCol, bCol)

  // ---- training-data assembly (X6, ops.Curation) ----
  /** X6: deterministic, growth-stable train/val/test split. */
  def assignSplits(df: DataFrame, idCol: String = "doc_id",
                   trainPct: Int = 90, valPct: Int = 5): DataFrame =
    Curation.splitAssign(df, idCol, trainPct, valPct)

  /** X6: leakage-safe split — every member of a group (domain, dedup
    * cluster) lands in the same split. */
  def assignSplitsByGroup(df: DataFrame, groupKey: Column,
                          trainPct: Int = 90, valPct: Int = 5): DataFrame =
    Curation.splitAssignBy(df, groupKey, trainPct, valPct)

  /** Robust per-group outlier flags: |x − median| > k·MAD — survives
    * the spike-inflated σ that blinds a 3σ z-score. */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Double = 4.45): DataFrame =
    ops.AggOps.madOutliers(df, groupCols, valueCol, k)

  /** S3: clamp a column at its per-group exact [lowQ, highQ] quantiles
    * (appends `<col>_w`); distributed selection quantiles, broadcast
    * bounds. NULL values take no part in the quantile positions
    * (percentile_disc / quantile_disc semantics — since r16; the r15
    * window form ranked NULLs first) and clamp to NULL in `<col>_w`. */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: String,
                lowQ: Double = 0.05, highQ: Double = 0.95,
                checkpointRows: Option[Boolean] = None): DataFrame =
    AggOps.winsorize(df, groupCols, valueCol, lowQ, highQ, checkpointRows)

  /** EXACT discrete quantiles per group (percentile_disc position rule,
    * value at sorted position ceil(q·n); NULLs take no part) — fully
    * distributed (r16) and skew-bounded (r17): bucket counts locate each
    * rank's bucket; a single-valued bucket short-circuits (no sort), an
    * oversized one re-buckets on its own range up to `levels` rounds, so
    * no stage ever sorts more than one small value slice in one task —
    * heavy-tie, power-law, and constant columns included. Output:
    * (groupCols…, __q, __qval). */
  def exactQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     qs: Seq[Double], buckets: Int = 1024,
                     sortThreshold: Long = 1L << 16, levels: Int = 3,
                     checkpointRows: Option[Boolean] = None): DataFrame =
    AggOps.exactQuantiles(df, groupCols, valueCol, qs, buckets, sortThreshold,
      levels, checkpointRows)

  /** X3: per-group adaptive quality gate — keep each group's top
    * `keepTopFrac` of rows by score against the group's OWN quantile
    * (CCNet-style per-language thresholds). */
  def qualityGate(df: DataFrame, groupCols: Seq[String], scoreCol: String,
                  keepTopFrac: Double = 0.4): DataFrame =
    AggOps.qualityGate(df, groupCols, scoreCol, keepTopFrac)

  /** X6: per-stratum deterministic mix sampling (keep-rates in percent). */
  def mixSample(df: DataFrame, rates: Map[String, Int], defaultPct: Int,
                idCol: String = "doc_id", stratumCol: String = "lang"): DataFrame =
    Curation.stratifiedSample(df, idCol, stratumCol, rates, defaultPct)

  /** X6: stride-overlap chunking into fixed token windows (pre-packing). */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, stride: Int,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Curation.chunkDocuments(docs, idCol, textCol, chunkTokens, stride)

  /** X6: greedy contiguous packing into token-budget bins per stratum. */
  def packSequences(docs: DataFrame, budget: Int, idCol: String = "doc_id",
                    stratumCol: String = "lang", textCol: String = "text"): DataFrame =
    Curation.packSequences(docs, idCol, stratumCol,
      TextOps.textStats(col(textCol)).getField("n_tokens").cast("long"), budget)

  /** X6: easiest-first curriculum manifest, sources interleaved
    * round-robin by per-source difficulty rank. */
  def curriculumOrder(docs: DataFrame, difficulty: Column,
                      idCol: String = "doc_id", sourceCol: String = "source"): DataFrame =
    Curation.curriculumOrder(docs, idCol, sourceCol, difficulty)

  /** X2: multi-probe IVF search — each query scans its `nprobe` nearest
    * cells (the IVF recall lever); corpus assignment stays the
    * broadcast fold. */
  def searchIvf(emb: DataFrame, centroidPred: Column, queryPred: Column,
                k: Int = 5, nprobe: Int = 1,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.ivfTopKProbe(emb, idCol, vecCol, centroidPred, queryPred, k, nprobe)

  /** X2: IVF+PQ composed index search (the FAISS-IVFADC serving shape) —
    * coarse cells prune each query to `nprobe` cells, asymmetric-distance
    * scoring runs only over the survivors; codebooks from `pqTrain`. */
  def searchIvfPq(emb: DataFrame, m: Int, dim: Int, codebooks: DataFrame,
                  centroidPred: Column, queryPred: Column,
                  k: Int = 5, nprobe: Int = 2,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.ivfPqSearch(emb, idCol, vecCol, m, dim, codebooks,
      centroidPred, queryPred, k, nprobe)

  /** X2: two-stage retrieval — IVFADC shortlist of `shortlist`
    * candidates per query, exact-cosine re-rank to top-k (the FAISS
    * refine serving shape). */
  def searchTwoStage(emb: DataFrame, m: Int, dim: Int, codebooks: DataFrame,
                     centroidPred: Column, queryPred: Column,
                     k: Int = 5, nprobe: Int = 2, shortlist: Int = 20,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.ivfPqRerank(emb, idCol, vecCol, m, dim, codebooks,
      centroidPred, queryPred, k, nprobe, shortlist)

  /** X6: size-balanced output shards — round-robin over (size DESC, id)
    * order; doc counts differ ≤ 1, token totals ≤ one largest doc. */
  def shardManifest(docs: DataFrame, sizeCol: Column, shards: Int,
                    idCol: String = "doc_id"): DataFrame =
    Curation.shardManifest(docs, idCol, sizeCol, shards)

  /** X6: deterministic per-epoch reshuffle manifest — md5-keyed order,
    * re-derivable as a pure projection (elastic-restart safe). */
  def epochShuffle(docs: DataFrame, epochs: Int, seed: String = "",
                   idCol: String = "doc_id"): DataFrame =
    Curation.epochShuffle(docs, idCol, epochs, seed)

  /** X4: media near-dup pairs (checksum collapse → quantized-feature
    * band → exact verify; decode stubbed, dataflow real). */
  def mediaNearDups(docs: DataFrame, lenBand: Int = 16,
                    maxDist: Double = 5.0, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    ops.Multimodal.mediaNearDupPairs(docs, idCol, textCol, lenBand, maxDist)

  /** X3: per-group unigram/bigram type-token ratios — the mode-collapse
    * diagnostic for synthetic corpora. */
  def ngramDiversity(docs: DataFrame, groupCol: String = "source",
                     textCol: String = "text"): DataFrame =
    ops.TextOps.ngramDiversity(docs, groupCol, textCol)

  /** X3: strip HTML/markup to plain text in place (map-only pass). */
  def stripMarkup(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol, ops.TextOps.stripMarkup(col(textCol)))

  /** X3: mask emails / IPv4s / phone-shaped digit groups in place. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol, TextOps.redactPii(col(textCol)))

  /** X3: per-domain cap + host blocklist over a URL column. */
  def capDomains(docs: DataFrame, maxPerDomain: Int, blocklist: DataFrame,
                 urlCol: String = "url", orderBy: Seq[Column] = Nil): DataFrame =
    TextOps.domainCap(docs, urlCol,
      if (orderBy.nonEmpty) orderBy else Seq(col("doc_id").asc),
      maxPerDomain, blocklist)

  /** X3: cut text units recurring across ≥ minDf documents (C4-style). */
  def stripBoilerplate(docs: DataFrame, unitTokens: Int = 8, minDf: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    TextOps.boilerplateStrip(docs, idCol, textCol, unitTokens, minDf)

  /** X3: train the hashed-bag-of-words logistic classifier in-engine
    * (k full-batch GD steps; returns the (bucket, weight) table). */
  def trainClassifier(docs: DataFrame, labelPred: Column, buckets: Int = 32,
                      iters: Int = 3, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    ops.TextOps.trainHashClassifier(docs, idCol, textCol, labelPred,
      buckets, iters)

  /** X3: score docs with a trained (bucket, weight) table — the apply
    * half of [[trainClassifier]]. */
  def scoreWithClassifier(docs: DataFrame, weights: DataFrame,
                          buckets: Int = 32, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    ops.TextOps.applyHashClassifier(docs, idCol, textCol, weights, buckets)

  /** X3: logistic quality-classifier score in [0,1] (literal weights). */
  def classifyQuality(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("clf_score", TextOps.classifierScore(col(textCol)))

  /** X6: per-stratum epoch factors (integer percent, 250 = 2.5 epochs):
    * whole copies + a stable fractional id-bucket slice; < 100 is the
    * keep-rate downsample. */
  def upsampleEpochs(df: DataFrame, epochsPct: Map[String, Int],
                     stratumCol: String = "source", idCol: String = "doc_id",
                     defaultPct: Int = 100): DataFrame =
    ops.Curation.upsampleBy(df, idCol, stratumCol, epochsPct, defaultPct)

  /** X6: downsample each stratum so the kept corpus hits the target mix. */
  def mixToTargets(df: DataFrame, targets: Map[String, Int],
                   idCol: String = "doc_id", stratumCol: String = "source"): DataFrame =
    Curation.mixtureSample(df, idCol, stratumCol, targets)

  /** X6: quality-ordered selection under a global token budget. */
  def selectByTokenBudget(docs: DataFrame, budget: Long,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val st = TextOps.textStats(col(textCol))
    val scored = docs.select(col(idCol),
      TextOps.qualityScoreFromStats(st, col(textCol)).as("q"),
      st.getField("n_tokens").cast("long").as("n"))
    Curation.tokenBudgetSelect(scored, idCol, col("q"), col("n"), budget)
  }

  // ---- streaming / CDC (§2.7) ----
  /** At-least-once replay dedup (bounded state under a watermark). */
  def dedupStream(events: DataFrame, watermark: Option[String] = None): DataFrame =
    StreamingOps.dedupEvents(events, watermark)

  /** Incremental exact corpus dedup (foreachBatch + fingerprint ledger). */
  def dedupCorpusIncremental(docs: DataFrame, corpusPath: String, ledgerPath: String,
                             checkpoint: String, idCol: String = "doc_id",
                             textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    StreamingOps.incrementalExactDedup(docs, idCol, textCol, corpusPath, ledgerPath, checkpoint)

  /** Incremental near-dedup (foreachBatch + MinHash signature ledger). */
  def decontaminateIncremental(docs: DataFrame, benchLedgerPath: String,
                               corpusPath: String, checkpoint: String,
                               n: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamingOps.incrementalDecontaminate(docs, "doc_id", "text",
      benchLedgerPath, corpusPath, checkpoint, n)

  def nearDedupIncremental(docs: DataFrame, corpusPath: String, ledgerPath: String,
                           checkpoint: String, idCol: String = "doc_id",
                           textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    StreamingOps.incrementalNearDedup(docs, idCol, textCol, corpusPath, ledgerPath, checkpoint)

  /** Incremental near-dedup with batch-equivalent transitive-chain
    * collapse (shingle ledger + per-batch connected components). */
  def nearDedupIncrementalTransitive(docs: DataFrame, corpusPath: String, ledgerPath: String,
                                     checkpoint: String, idCol: String = "doc_id",
                                     textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    StreamingOps.incrementalNearDedupTransitive(docs, idCol, textCol, corpusPath, ledgerPath, checkpoint)

  /** Stream-stream interval join: clicks to same-user views in a lookback. */
  def attribution(views: DataFrame, clicks: DataFrame, lookback: String = "1 hour",
                  watermark: Option[String] = None): DataFrame =
    StreamingOps.attributionJoin(views, clicks, lookback, watermark)

  /** Session-window accumulation (batch or streaming input). */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: Option[String] = None): DataFrame =
    StreamingOps.sessionSums(events, gap, watermark)

  /** CDC latest-state compaction with tombstone types. */
  def latestState(events: DataFrame, keyCol: String = "user_id",
                  deleteTypes: Seq[String] = Seq("error")): DataFrame =
    StreamingOps.cdcLatestState(events, keyCol, deleteTypes)

  /** Sliding (hopping) event-time window aggregation (batch or streaming). */
  def slidingWindows(events: DataFrame, width: String = "1 day",
                     slide: String = "12 hours",
                     watermark: Option[String] = None): DataFrame =
    StreamingOps.slidingAgg(events, width, slide, watermark)

  /** SCD Type-2 history from a change log: versioned half-open
    * `[valid_from, valid_to)` rows per key, open row = current. */
  def scd2(changes: DataFrame, keyCol: String = "user_id"): DataFrame =
    StreamingOps.scd2History(changes, keyCol)

  /** CDC changelog op classification: I (new key) / U (value changed) /
    * N (idempotent replay), per event, against the key's previous state. */
  def changelog(events: DataFrame, keyCol: String = "user_id"): DataFrame =
    StreamingOps.changelogOps(events, keyCol)

  /** Incremental SCD2 applier: append-only closed history + compact
    * open-row snapshot maintained per micro-batch. */
  def scd2Incremental(changes: DataFrame, currentPath: String, historyPath: String,
                      checkpoint: String, keyCol: String = "user_id") =
    StreamingOps.incrementalScd2(changes, keyCol, currentPath, historyPath, checkpoint)

  /** Incremental PQ code maintenance: streamed vectors encode against
    * frozen codebooks (broadcast fold); the m-byte code table is both
    * the searchable artifact and the replay ledger. */
  def pqCodesIncremental(emb: DataFrame, m: Int, dim: Int, codebooks: DataFrame,
                         codesPath: String, checkpoint: String,
                         idCol: String = "vec_id", vecCol: String = "embedding") =
    StreamingOps.incrementalPqCodes(emb, idCol, vecCol, m, dim, codebooks,
      codesPath, checkpoint)

  /** Incremental shard accretion: streamed docs append to a size-balanced
    * shard manifest (greedy pile-onto-lightest; S-row totals ledger). */
  def shardIncremental(docs: DataFrame, sizeCol: String, shards: Int,
                       manifestPath: String, ledgerPath: String,
                       checkpoint: String, idCol: String = "doc_id") =
    StreamingOps.incrementalShardAssign(docs, idCol, sizeCol, shards,
      manifestPath, ledgerPath, checkpoint)

  /** Streaming 3σ anomaly detection: per-key trailing window carried
    * across micro-batches; flags exactly the batch form's rows. */
  def anomalyStream(ds: org.apache.spark.sql.Dataset[StreamingOps.KeyedValue],
                    window: Int = 20, minCtx: Int = 10, sigmas: Double = 3.0) =
    StreamingOps.statefulAnomaly(ds, window, minCtx, sigmas)

  /** Streaming ingest into a bucketed table: every micro-batch appends in
    * the join key's bucket layout, so downstream equi-joins on the key
    * stay shuffle-free as the table grows. */
  def bucketedSink(rows: DataFrame, tableName: String, tablePath: String,
                   checkpoint: String, bucketCol: String = "user_id",
                   buckets: Int = 8) =
    StreamingOps.incrementalBucketedSink(rows, tableName, tablePath,
      bucketCol, buckets, checkpoint)

  /** Semi join with the probe side pruned by a distributed-built bloom
    * sketch before its shuffle; result is exactly the plain semi join. */
  def bloomSemiJoin(probe: DataFrame, probeKey: String,
                    build: DataFrame, buildKey: String,
                    expectedItems: Long = 1000000L): DataFrame =
    ops.BloomJoin.bloomSemiJoin(probe, probeKey, build, buildKey, expectedItems)

  /** Incremental reweighting loop (monitor → DoReMi → resampler under one
    * foreachBatch): additive per-source ledgers accrete, weights recompute
    * from the accreted stats, and the corpus resample is maintained at
    * `resampledPath`; the report joins each source's drift KL beside its
    * learned weight. */
  def reweightIncremental(docs: DataFrame, lossCol: Column,
                          countLedgerPath: String, statsLedgerPath: String,
                          docLedgerPath: String, reportPath: String,
                          resampledPath: String, checkpoint: String,
                          idCol: String = "doc_id", textCol: String = "text",
                          sourceCol: String = "source") =
    StreamingOps.incrementalReweightingPipeline(docs, idCol, textCol, sourceCol,
      lossCol, countLedgerPath, statsLedgerPath, docLedgerPath, reportPath,
      resampledPath, checkpoint)

  /** All id pairs whose key is within Levenshtein `maxDist` — lossless
    * Ed-Join (exact-key collapse + rarest-prefix filter + verify). */
  def fuzzyJoin(docs: DataFrame, key: Column, maxDist: Int = 2,
                idCol: String = "doc_id"): DataFrame =
    ops.Dedup.editDistanceJoin(docs, idCol, key, maxDist)

  /** DSIR-style selection: top-k raw docs by hashed-n-gram importance
    * toward the target slice. */
  def selectLikeTarget(docs: DataFrame, targetPred: Column, k: Int,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    ops.Curation.dsirWeights(docs, textCol, targetPred)
      .orderBy(col("weight").desc, col(idCol)).limit(k)

  /** Weighted sample without replacement (deterministic A-ES draw). */
  def sampleWeighted(df: DataFrame, weight: Column, k: Int,
                     idCol: String = "doc_id", seed: String = "ws1"): DataFrame =
    ops.Curation.weightedSample(df, idCol, weight, k, seed)

  /** kNN label vote over a labeled embedding table (embedding-quality
    * probe / weak labeler). */
  def knnClassify(emb: DataFrame, queryPred: Column, k: Int = 10,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame =
    ops.Similarity.knnClassify(emb, idCol, vecCol, labelCol, queryPred, k)

  /** Hard triplets (anchor, nearest positive, nearest wrong-label
    * negative) for contrastive training. */
  def mineTriplets(emb: DataFrame, queryPred: Column,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   labelCol: String = "label"): DataFrame =
    ops.Similarity.tripletMine(emb, idCol, vecCol, labelCol, queryPred)

  /** HyperLogLog distinct-count estimate per group over an item column. */
  def approxDistinctSketch(items: DataFrame, groupCol: String, item: Column,
                           p: Int = 8): DataFrame =
    ops.HyperLogLog.estimate(
      ops.HyperLogLog.registers(items, groupCol, item, p), groupCol, p)

  /** PageRank over the per-session state-transition graph. */
  def rankStates(events: DataFrame, state: Column, iters: Int = 5,
                 userCol: String = "user_id"): DataFrame =
    ops.GraphOps.pagerank(ops.GraphOps.transitionEdges(events, userCol,
      Seq(col("ts"), col("event_id")), state), iters = iters)

  /** Top-k n-step session paths (funnel mining). */
  def topPaths(events: DataFrame, state: Column, n: Int = 3, topK: Int = 20,
               userCol: String = "user_id"): DataFrame =
    ops.GraphOps.topPaths(events, userCol, Seq(col("ts"), col("event_id")),
      state, n, topK)

  /** Personalized PageRank: random-walk-with-restart proximity to a
    * one-column (node) seed frame over the state-transition graph. */
  def rankStatesNear(events: DataFrame, state: Column, seeds: DataFrame,
                     iters: Int = 5, userCol: String = "user_id"): DataFrame =
    ops.GraphOps.pagerankPersonalized(ops.GraphOps.transitionEdges(events,
      userCol, Seq(col("ts"), col("event_id")), state), seeds, iters = iters)

  /** HITS hubs & authorities over the state-transition graph. */
  def hubsAndAuthorities(events: DataFrame, state: Column, iters: Int = 5,
                         userCol: String = "user_id"): DataFrame =
    ops.GraphOps.hits(ops.GraphOps.transitionEdges(events, userCol,
      Seq(col("ts"), col("event_id")), state), iters = iters)

  /** Per-node triangle counts over the state-transition graph (skew-safe
    * degree-ordered orientation; exact integer counts). */
  def triangleCounts(events: DataFrame, state: Column,
                     userCol: String = "user_id"): DataFrame =
    ops.GraphOps.triangleCounts(ops.GraphOps.transitionEdges(events, userCol,
      Seq(col("ts"), col("event_id")), state))

  /** Multi-source BFS hop distance from a (node) seed frame over the
    * state-transition graph (exact within maxHops; beyond → null). */
  def hopsFromStates(events: DataFrame, state: Column, seeds: DataFrame,
                     maxHops: Int = 5, userCol: String = "user_id"): DataFrame =
    ops.GraphOps.hopDistances(ops.GraphOps.transitionEdges(events, userCol,
      Seq(col("ts"), col("event_id")), state), seeds, maxHops)

  /** BM25 top-k document retrieval for a one-column (term) query frame. */
  def searchBm25(docs: DataFrame, terms: DataFrame, topK: Int = 20,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    ops.TextOps.bm25TopDocs(docs, idCol, textCol, terms, topK = topK)

  /** Hybrid retrieval: reciprocal-rank-fuse two (id, rank) pages —
    * typically a BM25 page and a dense ANN page. */
  def fuseRankings(lexical: DataFrame, dense: DataFrame, c: Int = 60,
                   topK: Int = 10): DataFrame =
    ops.Similarity.rrfFuse(lexical, dense, c, topK)

  /** Incremental HLL cardinality monitor (register ledger + report). */
  def approxDistinctIncremental(items: DataFrame, groupCol: String, item: Column,
                                regLedgerPath: String, reportPath: String,
                                checkpoint: String) =
    StreamingOps.incrementalHllDistinct(items, groupCol, item, regLedgerPath,
      reportPath, checkpoint)

  /** Incrementally maintained PageRank: stateful cross-batch edge
    * pairing + additive edge ledger + per-batch rank recompute. */
  def rankStatesIncremental(events: org.apache.spark.sql.Dataset[StreamingOps.StateEvent],
                            edgeLedgerPath: String, ranksPath: String,
                            checkpoint: String, iters: Int = 5) =
    StreamingOps.incrementalPagerank(events, edgeLedgerPath, ranksPath,
      checkpoint, iters)

  /** Incrementally maintained classifier: feature ledger + per-batch
    * GD retrain (equals batch training on the union, bit-for-bit). */
  def trainClassifierIncremental(docs: DataFrame, labelPred: Column,
                                 featLedgerPath: String, weightsPath: String,
                                 checkpoint: String, buckets: Int = 32,
                                 iters: Int = 3, idCol: String = "doc_id",
                                 textCol: String = "text") =
    StreamingOps.incrementalClassifier(docs, idCol, textCol, labelPred,
      featLedgerPath, weightsPath, checkpoint, buckets, iters)

  /** Incremental DSIR selection (count ledger + maintained top-k). */
  def selectLikeTargetIncremental(docs: DataFrame, targetPred: Column,
                                  countLedgerPath: String, docLedgerPath: String,
                                  selectedPath: String, checkpoint: String,
                                  topK: Int = 100, idCol: String = "doc_id",
                                  textCol: String = "text") =
    StreamingOps.incrementalDsirSelect(docs, idCol, textCol, targetPred,
      countLedgerPath, docLedgerPath, selectedPath, checkpoint, topK = topK)

  /** X2: top-k principal components (power iteration + deflation;
    * distributed covariance, driver-resident k-loop — the MLlib split).
    * Returns (comp, i, loading, eigenvalue), the whitening artifact. */
  def trainPca(emb: DataFrame, k: Int, dim: Int = 64, iters: Int = 3,
               vecCol: String = "embedding"): DataFrame =
    Similarity.pcaTopK(emb, vecCol, dim, k, iters)

  /** X2: project + whiten every embedding against a [[trainPca]]
    * artifact — per component: score, unit-variance `white` = score/√λ,
    * plus the k-component residual; one broadcast codegen projection. */
  def whitenEmbeddings(emb: DataFrame, components: DataFrame,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    Similarity.pcaProjectTopK(emb, idCol, vecCol, components)

  /** X3: tokenizer training at production vocab scale — distributed
    * word count, driver-resident merge loop (checked printable-ASCII
    * symbol alphabet; see [[trainTokenizerBytes]] for open alphabets). */
  def trainTokenizer(docs: DataFrame, merges: Int,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    ops.TextOps.bpeMergesLocal(docs, idCol, textCol, merges)

  /** X3: OPEN-ALPHABET byte-level tokenizer training (GPT-2-style byte
    * symbols as lowercase hex; arbitrary UTF-8 trains, no contract). */
  def trainTokenizerBytes(docs: DataFrame, merges: Int,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    ops.TextOps.bpeMergesBytes(docs, idCol, textCol, merges)

  /** X4: image geometry + EXIF orientation (dual-endian TIFF parse;
    * effective dims honor the 5–8 transpose). */
  def decodeImages(ds: org.apache.spark.sql.Dataset[Multimodal.MediaRow]) =
    Multimodal.decodeExif(ds)

  /** X4: WAV audio header decode (PCM format, frames, exact duration). */
  def decodeAudio(ds: org.apache.spark.sql.Dataset[Multimodal.MediaRow]) =
    Multimodal.decodeWav(ds)

  /** X4: MP4 container decode (mvhd timescale/duration, box census). */
  def decodeVideo(ds: org.apache.spark.sql.Dataset[Multimodal.MediaRow]) =
    Multimodal.decodeMp4(ds)

  /** X2 maintenance: compact a streamed cell-partitioned ANN index —
    * rewrites only cells above the file-count threshold, layout and
    * rows unchanged. Returns the per-cell report. */
  def compactAnnIndex(spark: SparkSession, indexPath: String,
                      maxFilesPerCell: Int = 4): DataFrame =
    StreamingOps.compactAnnIndex(spark, indexPath, maxFilesPerCell)

  /** X2 maintenance: per-cell row/file/byte skew report for a streamed
    * ANN index — the drift diagnosis that triggers [[resplitAnnIndex]]. */
  def annCellSkew(spark: SparkSession, indexPath: String): DataFrame =
    StreamingOps.cellSkewReport(spark, indexPath)

  /** X2 maintenance: re-split every cell above `maxSkew` × mean rows
    * into `nSplit` k-means children (staged-rename install, lossless on
    * membership). Returns the UPDATED centroid table to swap in. */
  def resplitAnnIndex(spark: SparkSession, indexPath: String,
                      centroids: DataFrame, maxSkew: Double = 4.0,
                      nSplit: Int = 4): DataFrame =
    StreamingOps.resplitHotCells(spark, indexPath, centroids, maxSkew, nSplit)

  /** [[shardIncremental]] with EXACTLY-ONCE commits: manifest + ledger
    * stage together and install via one atomic rename per epoch. */
  def shardIncrementalExactlyOnce(docs: DataFrame, sizeCol: String, shards: Int,
                                  rootPath: String, checkpoint: String,
                                  idCol: String = "doc_id") =
    StreamingOps.incrementalShardAssignTxn(docs, idCol, sizeCol, shards,
      rootPath, checkpoint)

  /** Persist a trained artifact (centroids, PQ codebooks, PCA
    * components, BPE merges) as the next committed version at `root` —
    * parquet + JSON sidecar, one atomic rename. Returns the version. */
  def saveArtifact(df: DataFrame, root: String, family: String,
                   params: Map[String, String] = Map.empty): Long =
    Artifacts.saveArtifact(df, root, family, params)

  /** Load the CURRENT committed version of a trained artifact (fails
    * loud on family mismatch or empty store). */
  def loadArtifact(spark: SparkSession, root: String,
                   family: String): (DataFrame, Artifacts.ArtifactMeta) =
    Artifacts.loadArtifact(spark, root, family)

  /** X2 maintenance, the COMPOSED pass: recover any interrupted install,
    * compact accreted files, re-split hot cells, commit the updated
    * centroid table to the `ivf_centroids` artifact store, and prune the
    * version chain to the newest `retainVersions`. Returns (centroids,
    * artifact version, compaction report). */
  def maintainAnnIndex(spark: SparkSession, indexPath: String,
                       artifactRoot: String, maxFilesPerCell: Int = 4,
                       maxSkew: Double = 4.0, nSplit: Int = 4,
                       retainVersions: Int = 16): (DataFrame, Long, DataFrame) =
    StreamingOps.maintainAnnIndex(spark, indexPath, artifactRoot,
      maxFilesPerCell = maxFilesPerCell, maxSkew = maxSkew, nSplit = nSplit,
      retainVersions = retainVersions)

  /** X2 serving: search the maintained index against the CURRENT
    * committed centroid version — no caller-held state. */
  def searchAnnIndexFromStore(spark: SparkSession, indexPath: String,
                              artifactRoot: String, queries: DataFrame,
                              k: Int = 5, idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame =
    Similarity.annIndexSearchFromStore(spark, indexPath, artifactRoot,
      queries, idCol, vecCol, k)

  /** X2: re-order trained PCA components so each PQ subspace receives a
    * balanced variance product (Ge et al. OPQ eigenvalue allocation);
    * feed the result to [[whitenEmbeddings]]/`pcaRotate` unchanged. */
  def allocateComponents(components: DataFrame, m: Int): DataFrame =
    Similarity.opqAllocate(components, m)

  /** X1 diagnosis: (band, bucket) population + quadratic candidate price
    * for the simhash blocking key — the measurement behind
    * `simhashPairs`' per-bucket cap. */
  def simhashBucketSkew(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    Dedup.simhashBucketReport(docs, idCol, textCol)
}
