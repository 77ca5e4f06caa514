package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline surface (SURVEY.md
  * §2.8 X3): tokenization, language-ID heuristic, quality scoring, token
  * counting, document fingerprinting.
  *
  * Everything is built-in expressions (regex + higher-order functions) so
  * a 100 TB documents scan stays inside whole-stage codegen with column
  * pruning — only `text` is read for these. Regex classes are kept to
  * ASCII ranges so Java regex (Spark) and RE2 (DuckDB oracle) agree.
  */
object TextOps {

  /** Engine-portable whitespace characters, spelled out (for use inside a
    * regex character class): Java `\s` is `[ \t\n\x0B\f\r]` but
    * RE2/DuckDB `\s` is `[ \t\n\f\r]` — NO vertical tab — so every
    * whitespace collapse or strip that feeds a hash gate writes the class
    * explicitly and the oracle SQL carries the identical literal. A
    * document containing U+000B would otherwise hash-diverge between the
    * engines. */
  private[graft] val WsChars = " \\t\\n\\x0B\\f\\r"

  /** Lowercased alpha tokens; empty strings dropped. Evaluates through the
    * single-pass codegen kernel [[graft.functions.TokenizeWords]] — same
    * result set as [[tokensHof]] (cross-checked in TextKernelSpec), one
    * linear scan instead of an interpreted regex split + HOF filter. */
  def tokens(text: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.column(
      graft.functions.TokenizeWords(
        org.apache.spark.sql.GraftPlanBridge.expression(text)))

  /** The declarative tokenizer the codegen kernel must match (and the
    * form the DuckDB oracle mirrors with string_split_regex). */
  def tokensHof(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), t => t =!= lit(""))

  /** BPE symbol bracketing in k-code-point chunks — the codegen form of
    * `regexp_replace(s, "(.{k})", "_$1_")` (full chunks bracketed,
    * trailing partial chunk appended unchanged; TextKernelSpec pins the
    * equivalence). The regex form ran the regex engine once per
    * character over the corpus in the BPE apply projections (r22). */
  private[graft] def bracket(text: Column, k: Int): Column =
    org.apache.spark.sql.GraftPlanBridge.column(
      graft.functions.BracketChunks(
        org.apache.spark.sql.GraftPlanBridge.expression(text), k))

  /** Distinct token set (for set-Jaccard / dedup). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Whitespace token count — the cheap `wc -w` style count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: alpha runs contribute ceil(len/4)
    * subwords, digits/punct one each — a deterministic, closed-form
    * stand-in for a tokenizer vocabulary (no external model in-container). */
  def subwordCountEstimate(text: Column): Column = {
    val alphaRuns = tokens(text)
    val nonSpace = length(regexp_replace(text, "[a-zA-Z" + WsChars + "]", ""))
    aggregate(alphaRuns, lit(0L),
      (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long")) + nonSpace.cast("long")
  }

  /** Character-class counts used by quality scoring. */
  def charCount(text: Column): Column = length(text)
  def alphaCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[a-zA-Z]", ""))
  def digitCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[0-9]", ""))
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[a-zA-Z0-9 \\t\\n\\r]", ""))

  /** Ratio of non-alphanumeric, non-whitespace characters. */
  def punctRatio(text: Column): Column = {
    val punct = length(regexp_replace(text, "[a-zA-Z0-9 \\t\\n\\r]", ""))
    punct.cast("double") / greatest(length(text), lit(1)).cast("double")
  }

  /** Small multilingual stopword lists for the language-ID heuristic
    * (canonical copy lives next to the codegen kernel). */
  val stopwords: Map[String, Seq[String]] = graft.functions.TextKernels.stopwords

  /** Single-pass token/subword/stopword counters as one struct column —
    * the fused form of `tokenCount` + `subwordCountEstimate`'s fold +
    * four `stopwordHits` (see [[graft.functions.TextStatsExpr]]).
    * Fields: n_tokens, n_subwords_alpha, hits_en, hits_de, hits_fr,
    * hits_es. */
  def textStats(text: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.column(
      graft.functions.TextStatsExpr(
        org.apache.spark.sql.GraftPlanBridge.expression(text)))

  /** [[qualityScore]] derived from a [[textStats]] struct — identical
    * value, but shares the struct's single tokenization pass. */
  def qualityScoreFromStats(st: Column, text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(200.0), lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * lit(4.0), lit(0.0))
    val stopScore = least(
      (st.getField("hits_en").cast("double") /
        greatest(st.getField("n_tokens"), lit(1)).cast("double")) * lit(4.0), lit(1.0))
    round((lenScore + punctScore + stopScore) / lit(3.0), 6)
  }

  /** [[langIdHeuristic]] derived from a [[textStats]] struct — argmax of
    * hits with alphabetical tie-break (de < en < es < fr), same result as
    * the sorted-struct form (asserted in TextKernelSpec). */
  def langIdFromStats(st: Column): Column = {
    val he = st.getField("hits_en"); val hd = st.getField("hits_de")
    val hf = st.getField("hits_fr"); val hes = st.getField("hits_es")
    when(hd >= he && hd >= hes && hd >= hf && hd > 0, lit("de"))
      .when(he >= hes && he >= hf && he > 0, lit("en"))
      .when(hes >= hf && hes > 0, lit("es"))
      .when(hf > 0, lit("fr"))
      .otherwise(lit("und"))
  }

  /** [[subwordCountEstimate]] derived from a [[textStats]] struct. */
  def subwordCountFromStats(st: Column, text: Column): Column =
    st.getField("n_subwords_alpha") +
      length(regexp_replace(text, "[a-zA-Z" + WsChars + "]", "")).cast("long")

  /** Stopword hit count for one language (counts occurrences, not distinct). */
  def stopwordHits(toks: Column, lang: String): Column =
    size(filter(toks, t => stopwords(lang).map(w => t === lit(w)).reduce(_ || _)))

  /** Stopword ratio against the English list (quality signal). */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    stopwordHits(toks, "en").cast("double") / greatest(size(toks), lit(1)).cast("double")
  }

  /** X3 — n-gram-free language-ID heuristic: argmax of per-language
    * stopword hits, ties broken alphabetically, no hits → "und"
    * (undetermined). Deterministic, hence oracle-hashable. */
  def langIdHeuristic(text: Column): Column = {
    val toks = tokens(text)
    val langs = stopwords.keys.toSeq.sorted
    // (−hits, lang) sorted ascending ⇒ hits descending, alpha tie-break.
    val scored = langs.map(l =>
      struct((-stopwordHits(toks, l)).as("neg_hits"), lit(l).as("lang")))
    val best = sort_array(array(scored: _*)).getItem(0)
    when(best.getField("neg_hits") < 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** X3 — composite quality score in [0,1]: length, punctuation and
    * stopword signals (the usual cheap pre-filters before LLM training). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(200.0), lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * lit(4.0), lit(0.0))
    val stopScore = least(stopwordRatio(text) * lit(4.0), lit(1.0))
    round((lenScore + punctScore + stopScore) / lit(3.0), 6)
  }

  /** X3 — document fingerprint: md5 of whitespace-normalized lowercase
    * text. md5 hex is identical across engines → the canonical exact-dedup
    * and grouping key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "[" + WsChars + "]+", " "))

  /** Word n-grams of a token-array column: positions 0..L−n joined with
    * single spaces; empty array when the doc is shorter than n. Takes the
    * tokens as an ALREADY-PROJECTED column (not an expression) so the
    * `transform` lambda references an attribute — re-deriving the token
    * array per n-gram inside the lambda is the HOF re-evaluation trap. */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** X3 — n-gram LM quality scoring (the CCNet-style perplexity filter):
    * an add-α bigram language model is fit ON THE CORPUS ITSELF (count
    * tables) and every document is scored by its mean bigram
    * log-probability — anomalously low scores flag scrambled, templated,
    * or wrong-language text relative to the corpus distribution.
    *
    * Scale shape: the unigram/bigram count tables are vocabulary-sized —
    * smaller than the corpus but CORPUS-DERIVED (Heaps' law: the
    * vocabulary of a web-scale crawl keeps growing), so they carry no
    * broadcast hint; size-based selection/AQE broadcasts them while they
    * fit and falls back to a shuffle join when they don't. The corpus
    * explodes ONCE to bigram occurrences, joins the count tables, and
    * aggregates per doc. `log((c2+α)/(c1+α·V))` takes an
    * exactly-representable rational (integer counts, dyadic α) into one
    * glibc `log`, the same single-transcendental parity contract as P5's
    * capped exp; the per-doc mean rounds at 4 (transcendental sums carry
    * no protective lattice).
    *
    * Output: (doc_id, n_bigrams, avg_logprob) for docs with ≥ 1 bigram. */
  def lmPerplexityScore(docs: DataFrame, idCol: String, textCol: String,
                        alpha: Double = 0.5,
                        caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    // uni is vocabulary-bounded (≪ corpus at any scale) and referenced
    // twice (the vocab-size scalar and the probe join) — caching it keeps
    // the corpus-sized tokenize+explode from running an extra pass. The
    // cache goes through the DedupCaches scope so a long-lived session
    // can release it (pass a handle, unpersistAll after materializing);
    // the unmanaged default keeps one-shot-job behavior.
    val uni = caches.track(toks.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1")))
    val vocab = uni.agg(count(lit(1)).cast("double").as("v"))
    val docBi = toks.where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(wordNgrams(col("toks"), 2)).as("bg"))
    val biCounts = docBi.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    docBi.join(biCounts, Seq("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp",
        log((col("c2") + lit(alpha)) / (col("c1") + lit(alpha) * col("v"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (floor(avg(col("lp")) * lit(1e4) + lit(0.5)) / lit(1e4)).as("avg_logprob"))
  }

  /** The BPE trainers' checked symbol alphabet: non-empty printable
    * ASCII (0x21–0x7E) excluding `_` (0x5F, the encoding bracket).
    * Whitespace is excluded by construction, so any whitespace-or-finer
    * tokenizer composes. */
  private[graft] val BpeAlphabetRe = "^[\\x21-\\x5e\\x60-\\x7e]+$"

  /** X3 — BPE merge training: the inner loop of byte-pair-encoding
    * tokenizer fitting, distributed. Each iteration finds the most
    * frequent adjacent symbol pair across the corpus (weighted by word
    * frequency) and fuses it everywhere; the returned merge table — one
    * row per iteration: (iter, left_sym, right_sym, merged, pair_weight)
    * — IS the trained tokenizer artifact.
    *
    * Scale shape: the corpus is touched EXACTLY ONCE (word-frequency
    * aggregate, map-side combined); every merge iteration then runs on
    * the VOCABULARY-sized table — pair counts via a vocab-level explode,
    * the argmax as an ordered `limit(1)` (TakeOrderedAndProject, no
    * global sort), and the fuse as a one-row broadcast cross join. For k
    * up to 4 the whole program is one declarative DAG; past that, the
    * vocab table is `localCheckpoint`ed every 4 fuses — without the cut,
    * iteration i replays (and Catalyst re-analyzes) the whole i-deep fuse
    * chain, measured superlinear on the merge-count axis (0.19 s/merge at
    * k=2 → 4.5 s/merge at k=8, SCALING.md round-9 probe); with it, each
    * iteration builds on a vocab-sized leaf and s/merge stays ~flat.
    * Values are unchanged — only lineage is truncated (the
    * e2e_train_kstep treatment).
    *
    * Determinism: weights are integer sums (no float parity risk); ties
    * break lexicographically on the pair. Symbol encoding brackets every
    * symbol with `_` (excluded from the CHECKED alphabet below): chars
    * map to `_c_`, so symbols are separated by `__` inside a word and a
    * single `_` at each end. The pair fuse is then a plain left-to-right
    * `replace` of `_l__r_` with `_lr_`: the middle `__` can only match a
    * real symbol boundary (no prefix/suffix false matches), and each
    * occurrence consumes only one half of each shared separator, so
    * chained runs merge exactly like per-token greedy BPE — verified
    * equivalent on overlap cases (aaa → [aa,a], aaaa → [aa,aa]) in the
    * spec. Plain `replace` scans the original string identically in the
    * JVM and DuckDB, so the oracle replays the fuse bit-for-bit.
    *
    * Alphabet contract — CHECKED, not assumed: every word `wordsOf`
    * emits must be non-empty printable ASCII without `_`
    * (`[!-~]` minus 0x5F). On that alphabet the bracket encoding is
    * unambiguous AND the three orderings a merge table can flow
    * through — Spark's UTF8 binary sort, the JVM String sort in
    * [[bpeMergesLocal]], and DuckDB's default collation in the oracle —
    * coincide byte-for-byte, so tie-breaks are engine-portable. A word
    * outside the alphabet fails LOUD in-plan (vocab-sized check, one
    * codegen predicate per distinct word) instead of training a
    * silently wrong tokenizer; the default `wordsOf` = [[tokens]]
    * ([a-z]+ extraction) always satisfies it, and a caller supplying a
    * whitespace tokenizer gets digits/punctuation tokens trained
    * correctly. Byte-level BPE over arbitrary UTF-8 stays out of scope
    * (that needs byte symbols, not char symbols). */
  def bpeMerges(docs: DataFrame, idCol: String, textCol: String,
                merges: Int = 3,
                caches: DedupCaches = DedupCaches.unmanaged,
                wordsOf: Column => Column = tokens): DataFrame = {
    require(merges >= 1, "need at least one merge step")
    val words = caches.track(
      docs.select(explode(wordsOf(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq")))
    val checked = words.withColumn("w", when(
      assert_true(col("w").rlike(BpeAlphabetRe),
        concat(lit("bpeMerges: word outside the printable-ASCII-" +
          "without-underscore symbol alphabet: '"), col("w"), lit("'"))).isNull,
      col("w")))
    val enc0 = checked.select(col("w"), col("freq"),
      bracket(col("w"), 1).as("enc"))

    def pairTable(v: DataFrame): DataFrame =
      v.select(col("freq"),
          filter(split(col("enc"), "_"), s => s =!= lit("")).as("syms"))
        .where(size(col("syms")) >= 2) // sequence(1,0) would run DOWNWARD
        .select(col("freq"), col("syms"),
          explode(sequence(lit(1), size(col("syms")) - lit(1))).as("i"))
        .select(element_at(col("syms"), col("i")).as("left_sym"),
          element_at(col("syms"), col("i") + lit(1)).as("right_sym"),
          col("freq"))
        .groupBy(col("left_sym"), col("right_sym"))
        .agg(sum(col("freq")).as("pair_weight"))

    var vocab = enc0
    val steps = (1 to merges).map { it =>
      // cached (r21): each iteration's 1-row argmax is referenced by the
      // NEXT vocab's fuse broadcast AND by this iteration's output row —
      // uncached, iteration i's output replayed the whole i-deep
      // pairTable chain (top1 ran ~2^(k-1)× at k merges); the cache makes
      // each argmax compute exactly once per query
      val top = caches.track(pairTable(vocab)
        .orderBy(col("pair_weight").desc, col("left_sym"), col("right_sym"))
        .limit(1))
      vocab = vocab.crossJoin(broadcast(top))
        .withColumn("enc", call_function("replace", col("enc"),
          concat(lit("_"), col("left_sym"), lit("__"), col("right_sym"), lit("_")),
          concat(lit("_"), col("left_sym"), col("right_sym"), lit("_"))))
        .select(col("w"), col("freq"), col("enc"))
      if (it % 4 == 0 && it < merges) vocab = vocab.localCheckpoint(eager = true)
      top.select(lit(it.toLong).as("iter"), col("left_sym"), col("right_sym"),
        concat(col("left_sym"), col("right_sym")).as("merged"),
        col("pair_weight"))
    }
    steps.reduce(_.unionByName(_))
  }

  /** [[bpeMerges]] with the merge loop DRIVER-RESIDENT — the production
    * tokenizer-training shape at 100 TB: the corpus-sized work (one word-
    * frequency aggregate, map-side combined) stays distributed, and the
    * k-merge loop runs in memory over the collected (word, freq) table,
    * which is VOCABULARY-bounded — the same driver-path contract as
    * [[Dedup.connectedComponents]]'s union-find (guarded by `maxVocab`,
    * fail-loud above it). This removes the per-merge Spark-job floor
    * that caps [[bpeMerges]] at k ≈ low thousands (SCALING.md round-12:
    * 0.86→1.46 s/merge), replacing it with the classic incremental
    * pair-count algorithm: an inverted pair→words index, and per merge
    * only the words CONTAINING the fused pair are rescanned.
    *
    * Result-identical to [[bpeMerges]] by construction, spec-gated on
    * real corpora: same pair weighting (every adjacent occurrence,
    * weighted by word frequency), same argmax tie-break (weight desc,
    * then lexicographic (left, right) — plain String ordering equals
    * Spark's binary UTF8 ordering on the CHECKED printable-ASCII-
    * without-underscore alphabet, see [[bpeMerges]]'s contract; the
    * same check runs here driver-side so a violating corpus rejects
    * loudly in both trainers), and the same left-to-right
    * non-overlapping fuse `replace` performs (a fuse never creates a
    * new occurrence of its OWN pair, so one pass per word per merge is
    * exact). When the pair table drains before k merges, emission
    * stops — exactly like bpeMerges' empty `limit(1)` frames. */
  def bpeMergesLocal(docs: DataFrame, idCol: String, textCol: String,
                     merges: Int = 3, maxVocab: Int = 2000000,
                     wordsOf: Column => Column = tokens): DataFrame = {
    require(merges >= 1, "need at least one merge step")
    val spark = docs.sparkSession
    val wordRows = docs.select(explode(wordsOf(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .limit(maxVocab + 1).collect()
    require(wordRows.length <= maxVocab,
      s"vocabulary exceeds maxVocab=$maxVocab — raise the bound or use " +
        "the distributed bpeMerges")
    wordRows.foreach { r =>
      val w = r.getString(0)
      require(w.nonEmpty && w.forall(c => c >= '!' && c <= '~' && c != '_'),
        s"bpeMergesLocal: word outside the printable-ASCII-without-" +
          s"underscore symbol alphabet: '$w'")
    }
    val syms = wordRows.map(r =>
      scala.collection.mutable.ArrayBuffer.from(r.getString(0).map(_.toString)))
    val freq = wordRows.map(_.getLong(1))
    import spark.implicits._
    bpeMergeLoop(syms, freq, merges)
      .toDF("iter", "left_sym", "right_sym", "merged", "pair_weight")
  }

  /** The incremental-pair-count merge loop shared by [[bpeMergesLocal]]
    * (symbols = chars) and [[bpeMergesBytes]] (symbols = hex byte
    * pairs): inverted pair→words index, per merge only containing words
    * rescanned, argmax tie-break weight desc then (left, right) asc in
    * plain String order. The symbol rendering is what makes the sharing
    * sound — for BOTH renderings, String concatenation is the correct
    * fuse and String order is the correct byte order. */
  private def bpeMergeLoop(syms: Array[scala.collection.mutable.ArrayBuffer[String]],
                           freq: Array[Long],
                           merges: Int): Seq[(Long, String, String, String, Long)] = {
    val counts = scala.collection.mutable.HashMap[(String, String), Long]()
    val index = scala.collection.mutable
      .HashMap[(String, String), scala.collection.mutable.Set[Int]]()
    def tally(i: Int, mult: Long): Unit = {
      val s = syms(i); var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        counts.update(p, counts.getOrElse(p, 0L) + mult * freq(i))
        if (mult > 0)
          index.getOrElseUpdate(p,
            scala.collection.mutable.Set.empty[Int]) += i
        j += 1
      }
    }
    syms.indices.foreach(tally(_, 1L))
    val steps = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var it = 1
    var drained = false
    while (it <= merges && !drained) {
      // argmax with bpeMerges' exact tie-break: weight desc, then (l, r) asc
      var best: ((String, String), Long) = null
      counts.foreach { case e @ (p, c) =>
        if (c > 0 && (best == null || c > best._2 ||
          (c == best._2 && (p._1 < best._1._1 ||
            (p._1 == best._1._1 && p._2 < best._1._2))))) best = e
      }
      if (best == null) drained = true
      else {
        val ((l, r), w) = best
        steps += ((it.toLong, l, r, l + r, w))
        // fuse only the words that contain the pair (stale index entries
        // — words rewritten since insertion — are filtered by the scan)
        index.getOrElse((l, r), scala.collection.mutable.Set.empty[Int])
          .toArray.sorted.foreach { i =>
            val s = syms(i)
            var has = false; var j = 0
            while (!has && j < s.length - 1) {
              has = s(j) == l && s(j + 1) == r; j += 1
            }
            if (has) {
              tally(i, -1L) // retract the word's current pair occurrences
              val out = scala.collection.mutable.ArrayBuffer[String]()
              var k2 = 0
              while (k2 < s.length) {
                if (k2 < s.length - 1 && s(k2) == l && s(k2 + 1) == r) {
                  out += l + r; k2 += 2 // non-overlapping, left-to-right
                } else { out += s(k2); k2 += 1 }
              }
              syms(i) = out
              tally(i, 1L)
            }
          }
        index.remove((l, r)): Unit // fully consumed; fuse can't recreate it
        it += 1
      }
    }
    steps.toSeq
  }

  /** Whitespace word extraction — the tokenizer byte-level training
    * wants (no case folding, no alphabet restriction). */
  val whitespaceWords: Column => Column =
    t => filter(split(t, "\\s+"), x => x =!= lit(""))

  /** OPEN-ALPHABET byte-level BPE training — the GPT-2-style trainer
    * shape: words are arbitrary UTF-8, the initial symbols are their
    * BYTES, and merges operate on byte sequences, so digits,
    * punctuation, CJK, emoji — anything — trains without the
    * printable-ASCII contract [[bpeMergesLocal]] enforces (a multi-byte
    * code point simply starts as several byte symbols and merges
    * together if frequent, exactly as byte-level tokenizers behave).
    *
    * Same production split as [[bpeMergesLocal]]: the corpus-sized word
    * count stays distributed (map-side combined), the vocabulary-bounded
    * merge loop runs driver-side ([[bpeMergeLoop]]). Symbols are
    * rendered as LOWERCASE HEX pairs, which is what lets the char loop
    * run unchanged and keeps every semantic byte-faithful: hex
    * concatenation IS byte concatenation, and lexicographic hex order
    * IS unsigned byte order (two fixed digits per byte), so the argmax
    * tie-break is the byte-sequence tie-break. The merge table is the
    * trained artifact with symbols in hex ("74"+"68" → "7468" = "th");
    * decode for display with `unhex`. On a pure-ASCII corpus the table
    * equals [[bpeMergesLocal]]'s hex-encoded (oracle-gated by
    * `x3_bpe_bytes` against the same SQL replay, hex-wrapped). */
  def bpeMergesBytes(docs: DataFrame, idCol: String, textCol: String,
                     merges: Int = 3, maxVocab: Int = 2000000,
                     wordsOf: Column => Column = whitespaceWords): DataFrame = {
    require(merges >= 1, "need at least one merge step")
    val spark = docs.sparkSession
    val wordRows = docs.select(explode(wordsOf(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .limit(maxVocab + 1).collect()
    require(wordRows.length <= maxVocab,
      s"vocabulary exceeds maxVocab=$maxVocab — raise the bound or use " +
        "the distributed bpeMerges")
    val syms = wordRows.map { r =>
      val bytes = r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      scala.collection.mutable.ArrayBuffer.from(
        bytes.map(b => f"${b & 0xff}%02x"))
    }
    val freq = wordRows.map(_.getLong(1))
    import spark.implicits._
    bpeMergeLoop(syms, freq, merges)
      .toDF("iter", "left_sym", "right_sym", "merged", "pair_weight")
  }

  /** Content-defined chunk boundaries via a Rabin-Karp rolling hash
    * (FastCDC-style): position i (1-based, i ≥ w) is a cut when the hash
    * of the trailing w-char window divides m; expected chunk length ≈ m.
    * Evaluates through the one-linear-pass codegen kernel
    * [[graft.functions.CdcCuts]] — the declarative [[cdcCutsHof]] form
    * is O(len·w) of nested interpreted HOFs (measured 26.8 s vs
    * sub-second over 5k sf0.1 docs) and is kept as the cross-checked
    * reference (TextKernelSpec), mirroring the tokens/tokensHof pair. */
  def cdcCuts(text: Column, w: Int = 8, p: Long = 31L, m: Long = 64L): Column =
    org.apache.spark.sql.GraftPlanBridge.column(
      graft.functions.CdcCuts(
        org.apache.spark.sql.GraftPlanBridge.expression(text), w, p, m))

  /** Declarative reference form of [[cdcCuts]] (the DuckDB oracle mirrors
    * this shape). All arithmetic is exact BIGINT (powers of p as integer
    * literals; max term 127·31⁷ ≈ 3.5e12 ≪ 2⁶³), so any engine replays
    * the cut set bit-identically. Empty when shorter than w. */
  def cdcCutsHof(text: Column, w: Int = 8, p: Long = 31L, m: Long = 64L): Column = {
    require(w >= 2 && p > 1 && m > 1, "degenerate rolling-hash parameters")
    val pows = array((0 until w).map(k => lit(BigInt(p).pow(k).toLong)): _*)
    val len = length(text)
    def hashAt(i: Column): Column =
      aggregate(sequence(lit(0), lit(w - 1)), lit(0L),
        (acc, k) => acc +
          ascii(text.substr(i - k, lit(1))).cast("long") * element_at(pows, k + lit(1)))
    // null text → null (matching the CdcCuts kernel's nullSafeEval);
    // without the explicit branch CaseWhen would fall through to the
    // empty-array default and the two documented-equivalent forms would
    // diverge on null input
    when(text.isNull, lit(null).cast("array<int>"))
      .when(len >= lit(w),
        filter(sequence(lit(w), len), i => pmod(hashAt(i), lit(m)) === lit(0L)))
      .otherwise(array().cast("array<int>"))
  }

  /** X3 — corpus drift report: add-α-smoothed KL divergence of each
    * source's token distribution against the whole corpus — the
    * distribution-shift monitor a mixture pipeline watches (a crawl snap
    * whose KL jumps got a new template; a source drifting from the
    * mixture it was weighted for needs re-weighting — the measurement
    * side of [[Curation.doremiWeights]]).
    *
    * Scale shape: the corpus explodes once into (source, token); both
    * count tables are vocabulary-bounded. The KL sum must range over the
    * CORPUS vocabulary (tokens a source lacks still carry α mass), but no
    * sources × vocab grid is ever built: for tokens ABSENT from a source,
    * p = α/(ns+αV) is a per-source constant, so the whole missing-token
    * tail collapses to a closed form over three corpus-level scalars —
    * see [[driftFromCounts]]. The only join is (source,tok,cs) ⋈ corpus
    * on `tok` for the PRESENT tokens — a plain shuffle join sized by the
    * count table itself, no vocab-cardinality broadcast anywhere (the
    * vocabulary of a 100 TB crawl grows with the corpus per Heaps' law;
    * broadcasting it would OOM the executors). Smoothed p/q are rationals
    * of integer counts; the single `log` per present cell and the rounded
    * transcendental sum follow the same parity contract as
    * [[lmPerplexityScore]].
    *
    * Output per source: (source, n_tokens, n_vocab_source, kl_vs_corpus),
    * kl rounded at `roundDigits`. */
  def corpusDriftBySource(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, alpha: Double = 0.5,
                          roundDigits: Int = 4): DataFrame = {
    val tok = docs.select(col(sourceCol).as("source"),
      explode(tokens(col(textCol))).as("tok"))
    driftFromCounts(
      tok.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cs")),
      alpha, roundDigits)
  }

  /** [[corpusDriftBySource]] from an ALREADY-AGGREGATED (source, tok, cs)
    * count table — the form the streaming monitor maintains as a ledger
    * (corpus token counts are the per-source sums, so the count table is
    * a sufficient statistic for the whole report).
    *
    * The KL over the full corpus vocabulary splits exactly into
    * present + absent parts. With D = ns+αV, p₀ = α/D (the constant
    * probability every absent token gets) and q_t = (ca_t+α)/(na+αV):
    *
    *   KL = Σ_present p_t·ln(p_t/q_t)
    *      + p₀·[ (V − v_s)·ln p₀ − (Lq − Lq_present) ]
    *
    * where Lq = Σ_vocab ln q_t = Σ_vocab ln(ca_t+α) − V·ln(na+αV) is a
    * corpus-level scalar gathered in the SAME single aggregate as na and
    * V, and Lq_present = Σ_present ln q_t falls out of the present-token
    * pass. So the plan is: one groupBy(tok), one one-row corpus
    * aggregate, one shuffle join on `tok` (count-table-sized, the only
    * data-sized exchange), one groupBy(source) — no sources×vocab grid,
    * no vocab-cardinality broadcast. The one-row totals frame is the
    * only hinted broadcast. */
  def driftFromCounts(st: DataFrame, alpha: Double = 0.5,
                      roundDigits: Int = 4): DataFrame = {
    val corpus = st.groupBy(col("tok")).agg(sum(col("cs")).as("ca"))
    val tot = corpus.agg(sum(col("ca")).cast("double").as("na"),
      count(lit(1)).cast("double").as("v"),
      sum(log(col("ca") + lit(alpha))).as("sla"))
    val ns = st.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    val present = st.where(col("cs") > 0)
      .join(corpus, Seq("tok"))
      .join(ns, Seq("source"))
      .crossJoin(broadcast(tot))
    val p = (col("cs") + lit(alpha)) / (col("ns") + lit(alpha) * col("v"))
    val q = (col("ca") + lit(alpha)) / (col("na") + lit(alpha) * col("v"))
    val s = math.pow(10.0, roundDigits)
    val p0 = lit(alpha) / (col("n_tokens") + lit(alpha) * col("v"))
    val lqAll = col("sla") - col("v") * log(col("na") + lit(alpha) * col("v"))
    present.groupBy(col("source"))
      .agg(max(col("ns")).as("n_tokens"),
        count(lit(1)).as("n_vocab_source"),
        sum(p * log(p / q)).as("__psum"),
        sum(log(q)).as("__lqp"),
        max(col("v")).as("v"), max(col("na")).as("na"), max(col("sla")).as("sla"))
      .withColumn("kl_vs_corpus",
        floor((col("__psum") + p0 *
          ((col("v") - col("n_vocab_source")) * log(p0) - (lqAll - col("__lqp"))))
          * lit(s) + lit(0.5)) / lit(s))
      .select(col("source"), col("n_tokens"), col("n_vocab_source"),
        col("kl_vs_corpus"))
  }

  /** X3 — collocation mining: top-k adjacent token pairs by pointwise
    * mutual information, `PMI(a,b) = ln(N·c(a,b) / (c(a)·c(b)))` with a
    * minimum pair count (rare pairs have unreliable PMI — the standard
    * guard). The corpus-statistics sibling of [[lmPerplexityScore]]
    * (which consumes the same counts as a model): multi-word-expression
    * discovery, tokenizer-merge validation, template detection.
    *
    * Scale shape: one corpus explode into bigram occurrences; unigram and
    * bigram count tables are vocabulary-sized and corpus-derived, so the
    * unigram probes are plain (unhinted) joins — AQE picks broadcast
    * while the vocab fits; the count filter prunes the pair table BEFORE
    * the joins; the final top-k is an ordered
    * `limit` (TakeOrderedAndProject). One `ln` per surviving pair,
    * portable-rounded — integer ratios inside, so parity holds to the
    * rounding lattice. Ties break on the pair text for determinism. */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
                   minCount: Int = 5, topK: Int = 20,
                   roundDigits: Int = 4): DataFrame = {
    val s = math.pow(10.0, roundDigits)
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val nTok = uni.agg(sum(col("c1")).cast("double").as("n"))
    val bi = toks.where(size(col("toks")) >= 2)
      .select(explode(wordNgrams(col("toks"), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .where(col("c2") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    bi.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c1", "ca"), Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c1", "cb"), Seq("w2"))
      .crossJoin(broadcast(nTok))
      .select(col("bg"), col("c2").as("pair_count"),
        (floor(log(col("n") * col("c2") / (col("ca") * col("cb"))) * lit(s)
          + lit(0.5)) / lit(s)).as("pmi"))
      .orderBy(col("pmi").desc, col("bg"))
      .limit(topK)
  }

  /** X3 — apply a trained BPE merge table to the corpus (the tokenizer
    * APPLY step after [[bpeMerges]], and the measurement that validates
    * the training: symbols-per-document before vs after the merges =
    * the compression the vocabulary actually buys on this corpus).
    *
    * The k-row merge table collapses to ONE broadcast array row (sorted
    * by iteration — merge ORDER is part of BPE's definition) and each
    * document replays the same boundary-safe `_l__r_` → `_lr_` fuses on
    * its bracket-encoded text; tokens are joined with a space, which can
    * never match inside a fuse pattern, so one string per document
    * suffices. Symbol counts fall out of the encoding invariant — every
    * symbol carries exactly two `_` brackets — as (underscores / 2), no
    * re-split needed. Pure projection after the broadcast: the corpus
    * never shuffles. */
  def bpeApply(docs: DataFrame, idCol: String, textCol: String,
               merges: DataFrame, k: Int, roundDigits: Int = 4): DataFrame =
    bpeApplyEncoded(docs, idCol, merges, k, roundDigits,
      array_join(
        transform(tokens(col(textCol)), t => bracket(t, 1)),
        " "))

  /** X3 — apply an OPEN-ALPHABET byte-level merge table
    * ([[bpeMergesBytes]]'s hex artifact) to the corpus — the tokenizer
    * APPLY step that makes the trained byte-level artifact usable (a
    * tokenizer you can train but not run is half an operator). Each
    * word's UTF-8 BYTES become the initial symbols, rendered as the
    * trainer's lowercase hex pairs, so the identical boundary-safe
    * `_l__r_` → `_lr_` fuse replays the trained merges in order: hex
    * concat ≡ byte concat, `_` and the space joiner are outside
    * `[0-9a-f]`, and a multi-byte code point (é = c3+a9) fuses exactly
    * when its byte pair was trained — arbitrary UTF-8 tokenizes with no
    * alphabet contract at all. Same broadcast-projection scale shape as
    * [[bpeApply]]: one merge-table row broadcasts, the corpus never
    * shuffles, and n_syms_before = the word-bytes count (every byte is
    * one bracketed symbol). On a pure-ASCII corpus with the same
    * `wordsOf`, the result equals [[bpeApply]]'s over the char trainer
    * (spec-gated; the hex rendering is a bijection there). */
  def bpeApplyBytes(docs: DataFrame, idCol: String, textCol: String,
                    merges: DataFrame, k: Int, roundDigits: Int = 4,
                    wordsOf: Column => Column = whitespaceWords): DataFrame =
    bpeApplyEncoded(docs, idCol, merges, k, roundDigits,
      array_join(
        transform(wordsOf(col(textCol)),
          t => bracket(lower(hex(encode(t, "UTF-8"))), 2)),
        " "))

  /** Shared fuse-replay core of [[bpeApply]] (char symbols) and
    * [[bpeApplyBytes]] (hex byte symbols): `enc0` is the bracket-encoded
    * document under the caller's symbol rendering; everything after it
    * is rendering-agnostic because both renderings keep `_` and the
    * space joiner outside the symbol alphabet. */
  private def bpeApplyEncoded(docs: DataFrame, idCol: String,
                              merges: DataFrame, k: Int, roundDigits: Int,
                              enc0: Column): DataFrame = {
    require(k >= 1, "need at least one merge to apply")
    val s = math.pow(10.0, roundDigits)
    val mRow = merges.agg(array_sort(collect_list(struct(col("iter"),
      col("left_sym"), col("right_sym")))).as("ms"))
    val stamped = docs.select(col(idCol), enc0.as("enc"))
      .crossJoin(broadcast(mRow))
    // each unrolled step guards i ≤ |merges|: a k beyond the trained
    // merge count applies every available merge and passes through
    // (element_at past the array end would error under ANSI mode)
    val encK = (1 to k).foldLeft(col("enc")) { (e, i) =>
      val m = element_at(col("ms"), i)
      when(lit(i) <= size(col("ms")),
        call_function("replace", e,
          concat(lit("_"), m.getField("left_sym"), lit("__"),
            m.getField("right_sym"), lit("_")),
          concat(lit("_"), m.getField("left_sym"), m.getField("right_sym"), lit("_"))))
        .otherwise(e)
    }
    def syms(e: Column): Column =
      ((length(e) - length(call_function("replace", e, lit("_"), lit("")))) / lit(2))
        .cast("long")
    stamped
      .select(col(idCol), syms(col("enc")).as("n_syms_before"),
        syms(encK).as("n_syms_after"))
      .where(col("n_syms_before") > 0)
      .withColumn("compression",
        floor(col("n_syms_before") / col("n_syms_after") * lit(s) + lit(0.5)) / lit(s))
  }

  /** X3 — benchmark decontamination report (the standard training-data
    * hygiene pass: a training document that shares any word n-gram with an
    * evaluation/benchmark document leaks eval answers into training and
    * must be dropped — the n-gram-overlap rule used by public LLM data
    * pipelines; n=8 is the conventional window).
    *
    * Returns (doc_id, n_hits) for every NON-bench doc sharing ≥1 distinct
    * n-gram with the bench slice; anti-join the corpus on it to clean
    * ([[decontaminated]]).
    *
    * Scale shape: both sides reduce n-grams to 64 bits via the fused
    * gram-hash kernel before any join — the bench gram set (eval suites are corpus-tiny) becomes
    * a broadcast of longs and the corpus side probes it in place, so the
    * 100 TB scan is never shuffled and never materializes gram STRINGS
    * past its own projection. A hash collision could over-drop one doc
    * with probability ~|bench|·|corpus-grams|/2⁶⁴ — the standard accepted
    * trade (the DuckDB oracle joins on the strings themselves, so the
    * correctness gate would surface a collision as a mismatch). */
  def contaminationReport(docs: DataFrame, idCol: String, textCol: String,
                          isBench: Column, n: Int = 8): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), isBench.as("__bench"),
        explode(gramHashCol(col(textCol), n)).as("gh"))
    val benchGrams = grams.where(col("__bench")).select("gh").distinct()
    grams.where(!col("__bench"))
      .join(broadcast(benchGrams), "gh")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gh")).as("n_hits"))
  }

  /** (doc_id, gh) — 64-bit hash of each word n-gram, one row per gram
    * occurrence, via the fused codegen kernel
    * [[graft.functions.TextKernels.gramHashArray]] (no gram strings or
    * sliced arrays are ever built). The shared probe-side shape for
    * decontamination and duplicated-span detection (batch forms here;
    * streaming applier in
    * [[graft.streaming.StreamingOps.incrementalDecontaminate]] — the
    * persisted ledgers use the same kernel by construction). */
  def gramHashes(docs: DataFrame, idCol: String, textCol: String,
                 n: Int = 8): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(gramHashCol(col(textCol), n)).as("gh"))

  /** The gram-hash kernel as a column: array<long>, one hash per
    * n-gram position. */
  def gramHashCol(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftPlanBridge.column(
      graft.functions.WordGramHashes(
        org.apache.spark.sql.GraftPlanBridge.expression(text), n))

  /** The durable decontamination ledger: distinct n-gram hashes of a
    * benchmark/eval table — eval suites are corpus-tiny, so this is a
    * broadcast-sized set of longs, built once and read by every batch. */
  def benchGramLedger(bench: DataFrame, idCol: String, textCol: String,
                      n: Int = 8): DataFrame =
    gramHashes(bench, idCol, textCol, n).select("gh").distinct()

  /** The cleaned corpus: every non-bench doc with zero benchmark n-gram
    * overlap (bench docs themselves pass through — they ARE the eval set,
    * callers split on `isBench` downstream). */
  def decontaminated(docs: DataFrame, idCol: String, textCol: String,
                     isBench: Column, n: Int = 8): DataFrame =
    docs.join(
      contaminationReport(docs, idCol, textCol, isBench, n)
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** X1 — cross-document duplicated-span fraction: the exact-substring
    * self-dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better") at word n-gram granularity. A gram
    * occurrence is DUPLICATED when at least one *other* document contains
    * the same gram; per doc this reports total gram occurrences, the
    * duplicated subset, and their ratio — the span-level complement of
    * [[repetitionStats]] (within-doc) and whole-doc MinHash dedup
    * (reference boundary: the corpus hygiene the reference's external
    * dataset pipeline assumes before `env.get_dataset()`,
    * train_fawac_iql.py:56).
    *
    * Scale shape: grams reduce to 64 bits at the scan via the fused
    * kernel (no gram strings are even BUILT, let alone cross an exchange), then collapse to weighted (gh, doc,
    * occurrence-count) pairs with map-side combine — the only full-gram
    * shuffle. Document frequency is a `count(*)` window over the gh
    * partitioning of those DEDUPED pairs (no join: a df-table join-back
    * would either broadcast a corpus-sized table or shuffle the raw
    * grams a second time), and the per-doc rollup shuffles doc-keyed
    * partials only. Three exchanges total, each over combined/deduped
    * rows; no join, no all-pairs stage — PlanSpec pins the shape. A
    * ubiquitous gram makes one large-but-spillable window partition
    * (count-only frame, no ordering buffer). */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = gramHashes(docs, idCol, textCol, n)
      .groupBy(col("gh"), col("doc_id")).agg(count(lit(1)).as("__cnt"))
    val withDf = pairs.withColumn("__df",
      count(lit(1)).over(Window.partitionBy(col("gh"))))
    withDf.groupBy(col("doc_id"))
      .agg(sum(col("__cnt")).as("n_grams"),
        sum(when(col("__df") >= 2, col("__cnt")).otherwise(0L)).as("n_dup_grams"))
  }

  /** X3 — intra-document repetition signals (the Gopher/MassiveText
    * quality rules: a doc whose n-grams or single tokens repeat heavily is
    * boilerplate/spam and gets filtered before training). Returns per doc:
    * token count, n-gram count, duplicate-n-gram count (total − distinct)
    * and the multiplicity of the most frequent token; callers derive the
    * ratio thresholds.
    *
    * Scale shape: the n-gram duplication stats are pure per-row HOFs over
    * the projected token array (`array_distinct` is O(L log L) in the doc
    * length — no shuffle, no explode). The top-token multiplicity needs a
    * corpus-wide word-count, done as the canonical two-phase aggregate:
    * explode → partial-combine on (doc, token) → max per doc. Doc-level
    * stats ride through both phases as `min()` (constant per doc), so the
    * corpus is scanned once and shuffled once, already token-granular. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), col("__t"), wordNgrams(col("__t"), n).as("__g"))
      .select(col("doc_id"), col("__t"),
        size(col("__t")).cast("long").as("n_toks"),
        size(col("__g")).cast("long").as("n_grams"),
        size(array_distinct(col("__g"))).cast("long").as("n_uniq"))
    base.select(col("doc_id"), col("n_toks"), col("n_grams"), col("n_uniq"),
        explode(col("__t")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("__c"), min("n_toks").as("n_toks"),
        min("n_grams").as("n_grams"), min("n_uniq").as("n_uniq"))
      .groupBy(col("doc_id"))
      .agg(max(col("__c")).as("top_tok_cnt"), min("n_toks").as("n_toks"),
        min("n_grams").as("n_grams"), min("n_uniq").as("n_uniq"))
      .select(col("doc_id"), col("n_toks"), col("n_grams"),
        (col("n_grams") - col("n_uniq")).as("n_dup_grams"), col("top_tok_cnt"))
  }

  /** X3 — TF-IDF top-k terms per document: tf = in-doc term count,
    * idf = ln(N/df) with df = documents containing the term. The document
    * frequency table is vocabulary-sized and CORPUS-DERIVED, so it is
    * deliberately NOT hint-broadcast — a hint forces the strategy at
    * every scale, and a 100 TB crawl's vocabulary grows with the corpus
    * (Heaps' law); size-based selection/AQE broadcasts it while it fits
    * and degrades gracefully to a shuffle join when it doesn't (same
    * policy as [[boilerplateStrip]]'s ledger and the star joins). The
    * rank is over the ROUNDED score with a term tie-break, so the top-k
    * selection is engine-independent. N is a one-row aggregate
    * cross-joined into the plan — the whole op stays lazy (no eager
    * count() job at construction time, and the input is scanned once,
    * not twice). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.agg(count(lit(1)).cast("double").as("__graft_n"))
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "tok").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("__graft_n") / col("df")), 4))
      .drop("__graft_n")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("tok"), col("tfidf"))
  }

  /** X3 — markup stripping (the crawl→text step ahead of every other
    * text op): drop script/style blocks wholesale, replace remaining
    * tags and HTML entities with spaces, collapse whitespace. A
    * three-regex codegen'd projection — map-only, no shuffle, the
    * cheapest possible pass over 100 TB of raw HTML. Regex syntax is
    * kept to the Java-regex ∩ RE2 subset ((?s) dotall + lazy `.*?`),
    * so the DuckDB oracle replays it verbatim (with the explicit 'g'
    * flag — DuckDB replaces only the first match by default where Spark
    * replaces all). Not a sanitizer: malformed nesting degrades to
    * leftover text, never to retained tags. */
  def stripMarkup(text: Column): Column = {
    val noBlocks = regexp_replace(text,
      "(?s)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    val noEnts = regexp_replace(noTags, "&[a-zA-Z]+;|&#[0-9]+;", " ")
    trim(regexp_replace(noEnts, "[" + WsChars + "]+", " "))
  }

  /** X3 — BM25 retrieval scoring (Robertson/Spärck Jones; the Lucene
    * `(k1, b)` practical form): per document D and query term set Q,
    *
    *   score(D) = Σ_{t ∈ Q∩D} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *   idf(t)   = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))
    *
    * The retrieval sibling of [[tfidfTopTerms]] — used in curation to
    * pull topic slices out of a crawl (query-relevance selection) rather
    * than to describe single documents.
    *
    * Scale shape: `terms` is a QUERY — inherently bounded, unlike the
    * corpus-derived df table [[tfidfTopTerms]] refuses to hint — so it IS
    * hint-broadcast, and the token stream is pruned to query terms
    * BEFORE any aggregation (tf, df and the per-doc fold all run on the
    * matched subset; the only corpus-wide work is the one tokenizing scan
    * that also feeds N/avgdl). df here is document frequency AMONG the
    * scored corpus, derived from the already-pruned tf table
    * (term-cardinality rows). Top-k lands as TakeOrdered (per-partition
    * heaps), not a global sort.
    *
    * Parity: idf is a transcendental → rounded at 6 before use (the
    * cosine-recall trade); the tf-saturation factor is rational per-row
    * IEEE from identical integers (avgdl = Σdl/N kept RAW — both sides
    * derive it from the same exact integers); per-doc contributions fold
    * in term order; final score portable-rounds at `roundDigits`. Only
    * documents matching ≥ 1 query term appear. */
  def bm25TopDocs(docs: DataFrame, idCol: String, textCol: String,
                  terms: DataFrame, k1: Double = 1.2, b: Double = 0.75,
                  topK: Int = 20, roundDigits: Int = 4): DataFrame = {
    val s = math.pow(10.0, roundDigits)
    val dl = docs.select(col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tok = docs.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("tok"))
    // both broadcast frames keep query-derived column names (`term`,
    // `term_df`), NOT the corpus-vocab names (`tok`, `df`): the PlanSpec
    // corpus-broadcast gate flags hints by attribute name, and these
    // frames are bounded by the QUERY size (tf is already term-pruned
    // when term_df is counted), not by the corpus vocabulary
    val tf = tok.join(broadcast(terms.select(col("term"))),
        col("tok") === col("term"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
    val tdf = tf.groupBy(col("tok")).agg(count(lit(1)).as("term_df"))
      .select(col("tok").as("term"), col("term_df"))
    val contrib = tf.join(broadcast(tdf), col("tok") === col("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tok"),
        ((floor(log(lit(1.0) + (col("n") - col("term_df") + lit(0.5))
            / (col("term_df") + lit(0.5))) * lit(1e6) + lit(0.5)) / lit(1e6))
          * (col("tf") * lit(k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl") / col("avgdl")))).as("contrib"))
    contrib.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        collect_list(struct(col("tok"), col("contrib"))).as("__cs"))
      .select(col("doc_id"), col("n_terms"),
        (floor(aggregate(array_sort(col("__cs")), lit(0.0),
          (acc, x) => acc + x.getField("contrib")) * lit(s) + lit(0.5))
          / lit(s)).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** X3 — cross-document boilerplate stripping (the C4/RefinedWeb rule,
    * re-expressed for unstructured text: a unit of text that recurs
    * across ≥ `minDf` distinct documents is template boilerplate —
    * navigation, disclaimers, footers — and is cut from EVERY document).
    * Units here are non-overlapping `unitTokens`-token windows
    * ([[graft.ops.Curation.chunkDocuments]] with stride = width); a
    * corpus with line structure would pass lines instead.
    *
    * Scale shape: three key-granular stages, no global structure —
    * (1) unit document-frequency via groupBy(unit) (partial+final agg;
    * the shuffle carries unit hashes, and only df ≥ minDf survivors are
    * kept — the heavy-hitter ledger, ≤ |unit occurrences|/minDf rows);
    * (2) units ⋈ ledger on unit — deliberately NOT hint-broadcast: the
    * ledger is usually small but is corpus-derived, so the choice is
    * left to size-based selection/AQE (same policy as the star joins);
    * (3) per-doc re-assembly: one groupBy(doc_id) collecting (idx, keep,
    * unit) structs, sorted and re-joined in doc order. Documents with
    * zero tokens produce zero units and are absent from the output.
    *
    * Output: (doc_id, n_units, n_kept, kept_fp = md5 of the re-joined
    * surviving text — fingerprint, not the text, so the result stays
    * hash-comparable without materializing 100 TB of strings). */
  def boilerplateStrip(docs: DataFrame, idCol: String, textCol: String,
                       unitTokens: Int = 8, minDf: Int = 3): DataFrame = {
    val units = Curation.chunkDocuments(docs, idCol, textCol, unitTokens, unitTokens)
    val ledger = units.groupBy(col("chunk_text"))
      .agg(count_distinct(col("doc_id")).as("__df"))
      .where(col("__df") >= minDf)
      .select(col("chunk_text"), lit(1).as("__bp"))
    units.join(ledger, Seq("chunk_text"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("__bp").isNull, 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            filter(array_sort(collect_list(struct(col("chunk_idx").as("i"),
              col("__bp").isNull.as("keep"), col("chunk_text").as("u")))),
              s => s.getField("keep")),
            s => s.getField("u")), " ")).as("kept_fp"))
  }

  /** PII patterns, ASCII-only so Java regex (Spark) and RE2 (DuckDB)
    * parse and match them identically — no lookaround, no backreferences,
    * `\b` is the ASCII word boundary in both. Redaction order matters:
    * emails first (their domain part would otherwise feed the host
    * pattern), then dotted quads, then dashed phone groups. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Re  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\\b"

  /** X3 — PII scrub (the pre-training privacy pass every public LLM
    * pipeline runs: mask emails / IPs / phone-shaped digit groups before
    * the corpus is retained). Pure per-row regex projection — codegen'd
    * `regexp_replace`, no shuffle, the 100 TB scan streams through. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-row PII match counts (audit signal: rank sources by leakage
    * before deciding to scrub vs drop). */
  def piiCounts(text: Column): (Column, Column, Column) = (
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long"),
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0))).cast("long"),
    size(regexp_extract_all(text, lit(PhoneRe), lit(0))).cast("long"))

  /** Host part of a URL (`scheme://host/...`); empty when the value
    * doesn't parse. Shared by the domain-cap and blocklist passes. */
  def domainOf(url: Column): Column =
    regexp_extract(url, "^[a-z]+://([^/]+)/", 1)

  /** X3 — URL canonicalization (the dedup key web-crawl curation applies
    * BEFORE content dedup: the same page crawled as `HTTP://Host:80/p/`,
    * `http://host/p#frag`, and `http://host/p?utm_source=x` must collapse
    * to one fetch identity). Normalizations: scheme/host case-fold,
    * default-port strip (http:80, https:443), trailing-slash strip,
    * fragment strip, tracking-param removal (utm_*, fbclid, gclid, ref),
    * and remaining query params SORTED so param order is identity-free.
    *
    * Built exclusively from `regexp_extract` + HOF filter/sort — never a
    * regexp replacement with group references, whose syntax (`$1` vs
    * `\\1`) differs across engines; extraction + rebuild is portable.
    * Pure projection: codegen, no shuffle. */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1))
    val port = regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]+:([0-9]+)", 1)
    val path = rtrim(regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1), "/")
    val query = regexp_extract(url, "[?]([^#]*)", 1)
    val params = array_join(array_sort(filter(split(query, "&"),
      p => p =!= lit("") && !p.rlike("^(utm_[^=]*|fbclid|gclid|ref)="))), "&")
    val keepPort = port =!= lit("") &&
      !(scheme === lit("http") && port === lit("80")) &&
      !(scheme === lit("https") && port === lit("443"))
    concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(params =!= lit(""), concat(lit("?"), params)).otherwise(lit("")))
  }

  /** X3 — per-domain document cap with a domain blocklist (the web-corpus
    * curation rule: a handful of template-heavy hosts would otherwise
    * dominate the corpus; cap each domain at its `maxPerDomain` best
    * documents and drop blocked hosts entirely).
    *
    * Scale shape: the blocklist is host-cardinality (tiny) → broadcast
    * anti-join; the cap is one `row_number` window PARTITIONED BY domain —
    * domains are the natural high-cardinality key of a web corpus, so no
    * single partition concentrates rows (a pathological single-host crawl
    * is the one skew case, and AQE's skew handling covers the join side of
    * it). Output keeps (doc columns) + domain + rk ≤ cap. */
  def domainCap(docs: DataFrame, urlCol: String, orderBy: Seq[Column],
                maxPerDomain: Int, blocklist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withDomain = docs.withColumn("domain", domainOf(col(urlCol)))
      .join(broadcast(blocklist.toDF("domain")), Seq("domain"), "left_anti")
    val w = Window.partitionBy(col("domain")).orderBy(orderBy: _*)
    withDomain.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= maxPerDomain)
  }

  /** X3 — logistic quality classifier over cheap closed-form features
    * (the fastText-classifier stand-in: no external model ships in this
    * container, so the weights are literals; swapping in trained weights
    * is a constant change). Features: length saturation, punctuation
    * ratio, English stopword ratio, digit ratio. Returns
    * sigmoid(w·x + b) rounded to 6 digits — per-row IEEE arithmetic plus
    * one glibc `exp`, identical on both engines for lattice-safe inputs
    * (same contract as P5's capped exponential advantage). Pure
    * projection: no shuffle, stays in whole-stage codegen. */
  def classifierScore(text: Column): Column = {
    val st = textStats(text)
    val nToks = greatest(st.getField("n_tokens"), lit(1)).cast("double")
    val len = greatest(length(text), lit(1)).cast("double")
    val fLen = least(length(text).cast("double") / lit(300.0), lit(1.0))
    val fPunct = punctCount(text).cast("double") / len
    val fStop = st.getField("hits_en").cast("double") / nToks
    val fDigit = digitCount(text).cast("double") / len
    val z = lit(1.8) * fLen - lit(2.5) * fPunct + lit(3.0) * fStop -
      lit(1.2) * fDigit - lit(0.7)
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  /** X3 — TRAIN a hashed-bag-of-words logistic classifier in the engine
    * (the fastText shape: token → hash bucket, count/len features,
    * linear model + sigmoid — the trained complement of the
    * literal-weight [[classifierScore]]): k unrolled full-batch
    * gradient-descent steps, weights as a `buckets`-row table.
    *
    *   x(doc)  = { bucket → count/n_toks }          (normalized counts)
    *   s       = Σ_b w_b·x_b                        (fold in bucket order)
    *   resid   = round₆( σ(s) − y )                 (kills exp ulps)
    *   g_b     = round₆( Σ_docs resid·x_b / N )     (kills sum-order ulps)
    *   w'_b    = w_b − η·ĝ_b                        (η dyadic ⇒ exact)
    *
    * Scale shape: the corpus is featurized ONCE into two cached frames —
    * per-doc sorted feature arrays (map-only scoring) and the exploded
    * (doc, bucket, x) table (gradient). Per iteration: one broadcast of
    * the `buckets`-row weight map, one map-only score/residual pass, one
    * doc-keyed join + bucket-sized gradient aggregate — the
    * [[graft.ops.Curation.dsirWeights]] fixed-feature-space discipline
    * applied to a training LOOP, with the e2e_train_kstep bounded-lineage
    * contract (per-iteration localCheckpoint of the tiny weight table).
    *
    * Parity: scores fold in bucket order; the residual and mean gradient
    * round at 6 before use, and η is dyadic, so the weight update is
    * exact arithmetic on identical doubles — both engines hold
    * bit-identical weight tables after every step (same
    * re-synchronization argument as [[graft.ops.GraphOps.pagerank]]).
    * Output: (bucket, weight), `buckets` rows. */
  def trainHashClassifier(docs: DataFrame, idCol: String, textCol: String,
                          labelPred: Column, buckets: Int = 32,
                          iters: Int = 3, eta: Double = 0.5,
                          caches: DedupCaches = DedupCaches.unmanaged): DataFrame =
    trainFromFeatures(
      classifierFeatures(docs, idCol, textCol, labelPred, buckets),
      buckets, iters, eta, caches)

  /** The trainer's normalized feature table: (doc_id, y, bucket,
    * x = count/n_toks) — one row per (doc, bucket), zero-token docs
    * absent. Per-doc rows are REPLAY-IDEMPOTENT (re-featurizing a doc
    * yields identical rows), which is what lets the incremental trainer
    * ledger features and dedup by (doc_id, bucket). */
  def classifierFeatures(docs: DataFrame, idCol: String, textCol: String,
                         labelPred: Column, buckets: Int = 32): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        when(labelPred, lit(1.0)).otherwise(lit(0.0)).as("y"),
        tokens(col(textCol)).as("__toks"))
      .withColumn("n_toks", size(col("__toks")).cast("double"))
      .where(col("n_toks") > 0)
      .select(col("doc_id"), col("y"), col("n_toks"),
        explode(col("__toks")).as("__w"))
      .withColumn("bucket", Curation.dsirBucket(col("__w"), buckets))
      .groupBy(col("doc_id"), col("y"), col("n_toks"), col("bucket"))
      .agg((count(lit(1)).cast("double") / col("n_toks")).as("x"))
      .select(col("doc_id"), col("y"), col("bucket"), col("x"))

  /** GD steps over an already-featurized table — see
    * [[trainHashClassifier]] for the recurrence and parity argument. */
  def trainFromFeatures(features: DataFrame, buckets: Int = 32,
                        iters: Int = 3, eta: Double = 0.5,
                        caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    require(iters >= 1 && buckets >= 2, "need iters >= 1 and buckets >= 2")
    require(eta == 0.5 || eta == 0.25 || eta == 1.0 || eta == 0.125,
      "eta must be dyadic so the weight update stays exact")
    val spark = features.sparkSession
    def pr6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val xt = caches.track(
      features.select(col("doc_id"), col("y"), col("bucket"), col("x")))
    val xs = caches.track(xt.groupBy(col("doc_id"), col("y"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("x")))).as("xarr")))
    val nRow = xt.agg(count_distinct(col("doc_id")).cast("double").as("n"))
    val w0 = spark.range(buckets).select(col("id").as("bucket"),
      lit(0.0).as("w"))
    (1 to iters).foldLeft(w0) { (w, _) =>
      val wMap = w.agg(map_from_entries(
        collect_list(struct(col("bucket"), col("w")))).as("wm"))
      val resid = xs.crossJoin(broadcast(wMap))
        .withColumn("s", aggregate(col("xarr"), lit(0.0), (acc, e) =>
          acc + coalesce(element_at(col("wm"), e.getField("bucket")), lit(0.0))
            * e.getField("x")))
        .select(col("doc_id"),
          pr6(lit(1.0) / (lit(1.0) + exp(-col("s"))) - col("y")).as("r"))
      val grad = xt.join(resid, Seq("doc_id"))
        .groupBy(col("bucket"))
        .agg(sum(col("r") * col("x")).as("gsum"))
        .crossJoin(broadcast(nRow))
        .select(col("bucket"), pr6(col("gsum") / col("n")).as("g"))
      w.join(grad, Seq("bucket"), "left")
        .select(col("bucket"),
          (col("w") - lit(eta) * coalesce(col("g"), lit(0.0))).as("w"))
        .localCheckpoint(true)
    }.select(col("bucket"), col("w").as("weight"))
  }

  /** X3 — APPLY a trained hashed-classifier weight table
    * ([[trainHashClassifier]]'s output, or any (bucket, weight) frame)
    * to score documents: σ(Σ_b w_b·x_b) per doc, the optimize-then-apply
    * pattern (train on a labeled slice, score the whole corpus).
    * Weight table is bucket-cardinality → broadcast as a map; scoring is
    * a map-only fold in bucket order; the score rounds at 6 (one exp).
    * Docs with zero tokens are absent (no features ⇒ no score). */
  def applyHashClassifier(docs: DataFrame, idCol: String, textCol: String,
                          weights: DataFrame, buckets: Int = 32): DataFrame = {
    val xt = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .withColumn("n_toks", size(col("__toks")).cast("double"))
      .where(col("n_toks") > 0)
      .select(col("doc_id"), col("n_toks"), explode(col("__toks")).as("__w"))
      .withColumn("bucket", Curation.dsirBucket(col("__w"), buckets))
      .groupBy(col("doc_id"), col("n_toks"), col("bucket"))
      .agg((count(lit(1)).cast("double") / col("n_toks")).as("x"))
    applyFromFeatures(xt, weights)
  }

  /** [[applyHashClassifier]] over an ALREADY-FEATURIZED (doc_id, bucket, x)
    * table — [[classifierFeatures]]' output (its label column, if present,
    * is ignored). Train-then-apply queries featurize the corpus ONCE and
    * share the frame between [[trainFromFeatures]] and this (r21): the
    * tokenize + explode + count pass is the corpus-sized part of both ops,
    * and the score is a pure fold over the per-doc feature array, so
    * re-deriving it for the apply side doubled the corpus work for zero
    * information. Scoring is bit-identical to [[applyHashClassifier]]:
    * same sorted-bucket fold, same single exp, same 1e-6 rounding. */
  def applyFromFeatures(features: DataFrame, weights: DataFrame): DataFrame = {
    val wMap = weights.agg(map_from_entries(
      collect_list(struct(col("bucket"), col("weight")))).as("wm"))
    features.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("x")))).as("xarr"))
      .crossJoin(broadcast(wMap))
      .select(col("doc_id"),
        (floor((lit(1.0) / (lit(1.0) + exp(-aggregate(col("xarr"), lit(0.0),
          (acc, e) => acc + coalesce(element_at(col("wm"), e.getField("bucket")),
            lit(0.0)) * e.getField("x"))))) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("score"))
  }

  /** X3 — per-group n-gram diversity: type-token ratio of unigrams and
    * bigrams (distinct/total), the cheap mode-collapse diagnostic for
    * synthetic or model-generated corpora — a source whose generated
    * text loops templates keeps its token count but its distinct-bigram
    * ratio craters, long before perplexity or the Zipf slope move.
    *
    * Scale: two map-side-combined count_distinct/count aggregates per
    * group over the exploded gram stream — the same shuffle a word-count
    * pays; nothing corpus-sized is collected or broadcast. Ratios are
    * rational (exact-integer divisions) rounded portably at 6. */
  def ngramDiversity(docs: DataFrame, groupCol: String,
                     textCol: String): DataFrame = {
    def pr6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val toks = docs.select(col(groupCol), tokens(col(textCol)).as("__toks"))
    val uni = toks.select(col(groupCol), explode(col("__toks")).as("g"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_unigrams"),
        count_distinct(col("g")).as("d_unigrams"))
    val bi = toks.where(size(col("__toks")) >= 2)
      .select(col(groupCol), explode(wordNgrams(col("__toks"), 2)).as("g"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_bigrams"),
        count_distinct(col("g")).as("d_bigrams"))
    uni.join(bi, Seq(groupCol), "left")
      .select(col(groupCol), col("n_unigrams"), col("d_unigrams"),
        pr6(col("d_unigrams").cast("double") / col("n_unigrams").cast("double"))
          .as("ttr"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("d_bigrams"), lit(0L)).as("d_bigrams"),
        pr6(coalesce(col("d_bigrams").cast("double")
          / col("n_bigrams").cast("double"), lit(0.0))).as("bigram_ttr"))
  }

  /** X3 — Zipf/power-law fit of the per-group rank-size curve: rank each
    * group's documents by token count (desc, ties by id), keep the top
    * `maxRank`, and fit ln(size) = intercept + slope·ln(rank) by
    * closed-form OLS. The slope is the group's Zipf exponent — the
    * scaling-law-style corpus diagnostic (a source whose exponent drifts
    * is changing shape, not just volume), and the same fit applied to
    * (tokens seen, eval loss) pairs is the data-scaling-law estimator.
    *
    * Determinism: every OLS sum folds in RANK order over the ≤ `maxRank`
    * retained points (`aggregate` over `sort_array(collect_list(...))`),
    * so both engines add identical doubles in an identical sequence; only
    * the final slope/intercept/r² round (log values — irrational — at
    * `roundDigits`, the house rule for transcendental-valued outputs).
    *
    * Scale shape: one map-side-combined token count per doc, one window
    * capped at `maxRank` rows per group, then a per-group fold over a
    * bounded (≤ maxRank) list — collect_list here is CONSTANT-bounded,
    * never corpus-bounded, so the fit costs O(groups·maxRank) after the
    * count pass regardless of corpus size.
    *
    * Output per group: (groupCol, n_ranks, slope, intercept, r2). */
  def zipfFit(docs: DataFrame, idCol: String, groupCol: String, textCol: String,
              maxRank: Int = 30, roundDigits: Int = 4): DataFrame = {
    val s = math.pow(10.0, roundDigits)
    def pr(c: Column): Column = floor(c * lit(s) + lit(0.5)) / lit(s)
    val counts = docs
      .select(col(groupCol), col(idCol).as("__id"),
        size(tokens(col(textCol))).cast("long").as("n_toks"))
      .where(col("n_toks") > 0)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("n_toks").desc, col("__id").asc)
    val ranked = counts.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= maxRank)
      .withColumn("lx", log(col("rank").cast("double")))
      .withColumn("ly", log(col("n_toks").cast("double")))
    // rank-ordered folds: sort_array orders the (rank, v) structs by rank,
    // so each sum is a left fold over the same sequence on any engine
    def osum(v: Column): Column = aggregate(
      sort_array(collect_list(struct(col("rank").as("r"), v.as("v")))),
      lit(0.0), (acc, x) => acc + x.getField("v"))
    val sums = ranked.groupBy(col(groupCol)).agg(
      count(lit(1)).cast("long").as("n_ranks"),
      osum(col("lx")).as("sx"), osum(col("ly")).as("sy"),
      osum(col("lx") * col("lx")).as("sxx"),
      osum(col("lx") * col("ly")).as("sxy"),
      osum(col("ly") * col("ly")).as("syy"))
    val n = col("n_ranks").cast("double")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val varx = n * col("sxx") - col("sx") * col("sx")
    val vary = n * col("syy") - col("sy") * col("sy")
    sums
      .where(col("n_ranks") >= 3) // degenerate fits (varx = 0) excluded
      .withColumn("slope", pr(cov / varx))
      .withColumn("intercept", pr((col("sy") - (cov / varx) * col("sx")) / n))
      .withColumn("r2", pr((cov * cov) / (varx * vary)))
      .select(col(groupCol), col("n_ranks"), col("slope"),
        col("intercept"), col("r2"))
  }
}
