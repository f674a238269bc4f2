package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: tokenization,
  * quality scoring, heuristic language ID, token counting, document
  * fingerprinting. Every op is a pure Catalyst expression (whole-stage
  * codegen, no UDFs) and has an exact ANSI-SQL twin in [[graft.OracleSql]]
  * — arithmetic is deliberately engine-agnostic (md5 for hashing, rational
  * ratios rounded to 6 decimals). Every operator reads a `documents`
  * frame by its column names, `doc_id` and `text`.
  */
object TextOps {

  /** Lowercased alphanumeric word tokens; empties removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= lit(""))

  /** Distinct word n-gram shingles joined by single spaces; empty array
    * when the document has fewer than n tokens.
    */
  def shingles(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      i => concat_ws(" ", (0 until n).map(d => element_at(toks, i + lit(d))): _*))
    when(size(toks) >= n, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** Rows (doc_id, shingle) — the exploded distinct shingle set. The token
    * array is materialized in its own projection first: inlining it into the
    * shingle expression would re-split the text once per gram position
    * (O(words²) work per document — measured 10×+ slowdowns at sf0.1).
    */
  def shingleRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("__ts"))
      .select(col("doc_id"), explode(shingles(col("__ts"), n)).as("shingle"))

  /** Corpus-wide word n-gram counts — the frequency profile a pretraining
    * pipeline runs for boilerplate/contamination detection. NON-distinct
    * grams (unlike [[shingles]], which deduplicates per doc): every
    * occurrence counts. Spelled as posexplode + (n−1) co-partitioned
    * position joins + a map-side-combinable count — each join and the
    * aggregate shuffle on bounded keys ((doc_id, pos) then gram), so the
    * shape survives a 100× corpus where a per-doc HOF building all grams
    * in one array row would not blow up either, but the relational form
    * keeps whole-stage codegen and lets AQE handle gram skew (stopword
    * bigrams are the classic hot keys).
    */
  def ngramCounts(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val pos = docs
      .select(col("doc_id"), tokens(col("text")).as("__ts"))
      .select(col("doc_id"), posexplode(col("__ts")).as(Seq("i", "w")))
    var grams = pos.select(col("doc_id"), col("i"), col("w").as("gram"))
    for (d <- 1 until n) {
      grams = grams.join(
        pos.select(col("doc_id"), (col("i") - d).as("i"),
          col("w").as("__next")),
        Seq("doc_id", "i"))
        .select(col("doc_id"), col("i"),
          concat(col("gram"), lit(" "), col("__next")).as("gram"))
    }
    grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
  }

  /** Windowed token co-occurrence counts — the skip-gram pair corpus a
    * word2vec-style embedding trainer consumes: every unordered token
    * pair co-occurring within `window` positions, counted per occurrence
    * (canonical (least, greatest) orientation so (a,b) and (b,a) merge).
    * [[ngramCounts]] is the adjacent-only special case; this is the
    * context-window generalization.
    *
    * Scale shape: one position self-join PER DISTANCE d ∈ 1..window, each
    * co-partitioned on the bounded (doc_id, position) key, unioned and
    * aggregated with map-side combine on the pair key — never a theta
    * join (a `BETWEEN` range condition would plan as a nested loop). The
    * position table is materialized once and reused by all `window` legs.
    */
  def cooccurrence(docs: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val pos = docs
      .select(col("doc_id"), tokens(col("text")).as("__ts"))
      .select(col("doc_id"), posexplode(col("__ts")).as(Seq("i", "w")))
      .localCheckpoint(true)
    val legs = (1 to window).map { d =>
      pos.select(col("doc_id"), (col("i") + d).as("i"), col("w").as("wa"))
        .join(pos.select(col("doc_id"), col("i"), col("w").as("wb")),
          Seq("doc_id", "i"))
        .select(least(col("wa"), col("wb")).as("w1"),
          greatest(col("wa"), col("wb")).as("w2"))
    }
    legs.reduce(_ unionByName _)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
  }

  /** Collocation lift per bigram — the PMI-family association score
    * re-expressed so no float (and no log) ever crosses the oracle gate:
    * with per-million occurrence rates `r_xy = cnt·10⁶ div Σcnt`,
    * `r_x = u(w1)·10⁶ div Σu`, `r_y` likewise,
    * `lift_micro = r_xy·10¹² div (r_x·r_y)` ≈ 10⁶ · P(xy)/(P(x)P(y)).
    * The staged integer divisions are truncation-identical in Spark
    * (`div`) and DuckDB (`//`) on non-negative operands, and — because
    * rates are bounded by 10⁶ — every intermediate fits a BIGINT at ANY
    * corpus size (r_xy·10¹² ≤ 10¹⁸), unlike the naive
    * cnt·T²·10⁶/(B·u1·u2) spelling which overflows past ~10⁵ documents.
    * Zero rates (tokens rarer than 1 per million) are filtered, not
    * divided: Spark's `div 0` yields null but DuckDB's `//` throws.
    *
    * Scale: two hash-aggregates over the token stream (unigrams, bigrams)
    * + the position self-join [[ngramCounts]] uses; the three totals are
    * one-row broadcast cross-joins. `minCount` prunes the long noise tail
    * before the unigram join. Output (gram, cnt, lift_micro).
    */
  def bigramLift(docs: DataFrame, minCount: Long = 5): DataFrame = {
    val pos = docs
      .select(col("doc_id"), tokens(col("text")).as("__ts"))
      .select(col("doc_id"), posexplode(col("__ts")).as(Seq("i", "w")))
    val uni = pos.groupBy("w").agg(count(lit(1)).as("ucnt"))
    val totTok = uni.agg(sum(col("ucnt")).as("t_tok"))
    val bg = pos.select(col("doc_id"), col("i"), col("w").as("w1"))
      .join(pos.select(col("doc_id"), (col("i") - 1).as("i"),
        col("w").as("w2")), Seq("doc_id", "i"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val totBg = bg.agg(sum(col("cnt")).as("t_bg"))
    bg.where(col("cnt") >= minCount)
      .join(uni.toDF("w1", "u1"), "w1")
      .join(uni.toDF("w2", "u2"), "w2")
      .crossJoin(broadcast(totTok))
      .crossJoin(broadcast(totBg))
      .select(concat(col("w1"), lit(" "), col("w2")).as("gram"), col("cnt"),
        expr("(cnt * 1000000) div t_bg").as("r_xy"),
        expr("(u1 * 1000000) div t_tok").as("r_x"),
        expr("(u2 * 1000000) div t_tok").as("r_y"))
      .where(col("r_x") > 0 && col("r_y") > 0)
      .select(col("gram"), col("cnt"),
        expr("(r_xy * 1000000000000) div (r_x * r_y)").as("lift_micro"))
  }

  /** Token-window chunking — the context-window prep step of a training
    * pipeline: each document's token stream is cut into consecutive
    * `chunkTokens`-token windows, fingerprinted per chunk (md5 of the
    * space-joined window — identical hex in DuckDB) so downstream
    * chunk-level dedup/packing can run without re-tokenizing. Pure
    * per-row array expressions (codegen, shuffle-free); nchunks =
    * `(n + chunkTokens − 1) div chunkTokens` keeps every operand
    * non-negative, where a naive `(n−1) div chunkTokens` DIVERGES across
    * engines on empty docs (Spark `div` truncates −1→0, DuckDB `//`
    * floors −1→−1) — and the `nchunks ≥ 1` guard matters because Spark's
    * `sequence(1, 0)` DESCENDS instead of returning empty. Output
    * (doc_id, chunk_idx, n_tok, chunk_md5), zero rows for empty docs.
    */
  def chunkFingerprints(docs: DataFrame, chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val k = chunkTokens
    docs
      .select(col("doc_id"), tokens(col("text")).as("__ts"))
      .withColumn("__n", size(col("__ts")).cast("long"))
      .withColumn("__nc", expr(s"(__n + ${k - 1}) div $k"))
      .select(col("doc_id"), col("__ts"), col("__n"),
        explode(when(col("__nc") >= 1,
          sequence(lit(1L), col("__nc")))
          .otherwise(array().cast("array<long>"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(k.toLong), col("__n") - (col("chunk_idx") - 1) * k)
          .as("n_tok"),
        md5(concat_ws(" ",
          slice(col("__ts"), ((col("chunk_idx") - 1) * k + 1).cast("int"),
            lit(k)))).as("chunk_md5"))
  }

  // --- quality scoring -----------------------------------------------------

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is", "it", "on", "for")

  /** Per-document quality stats. Ratios are exact rationals rounded to 6
    * decimals (engine-agnostic). quality_score ∈ [0,1]: length-saturated
    * and punctuation-penalized.
    */
  def textStats(docs: DataFrame): DataFrame = {
    val toks = col("__ts")
    val nTok = size(toks).cast("long")
    val punct = size(expr(
      "regexp_extract_all(text, '[^a-zA-Z0-9\\\\s]', 0)")).cast("long")
    val stops = size(filter(toks,
      t => t.isInCollection(Stopwords))).cast("long")
    val punctRatio = round(punct.cast("double") /
      when(length(col("text")) === 0, lit(null)).otherwise(length(col("text"))), 6)
    val stopRatio = round(stops.cast("double") /
      when(nTok === 0, lit(null)).otherwise(nTok), 6)
    docs.select(col("doc_id"), col("text"), tokens(col("text")).as("__ts"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        nTok.as("n_tokens"),
        punct.as("n_punct"),
        stops.as("n_stopwords"),
        coalesce(punctRatio, lit(0.0)).as("punct_ratio"),
        coalesce(stopRatio, lit(0.0)).as("stopword_ratio"))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_tokens") / lit(100.0)) *
          (lit(1.0) - col("punct_ratio")), 6))
  }

  // --- heuristic language ID ----------------------------------------------

  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "que"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un"))

  /** Marker-word language ID: score = marker-token count per language,
    * predict argmax, ties → alphabetically first scored language, all-zero
    * → "und". Output: (doc_id, s_de, s_en, s_es, s_fr, pred_lang).
    */
  def langId(docs: DataFrame): DataFrame = {
    val toks = col("__ts")
    val scored = docs
      .select(col("doc_id"), tokens(col("text")).as("__ts"))
      .select(Seq(col("doc_id")) ++ LangMarkers.map {
      case (lang, markers) =>
        size(filter(toks, t => t.isInCollection(markers)))
          .cast("long").as(s"s_$lang")
    }: _*)
    scored.withColumn("pred_lang",
      when(col("s_de") >= greatest(col("s_en"), col("s_es"), col("s_fr")) &&
        col("s_de") > 0, "de")
        .when(col("s_en") >= greatest(col("s_es"), col("s_fr")) &&
          col("s_en") > 0, "en")
        .when(col("s_es") >= col("s_fr") && col("s_es") > 0, "es")
        .when(col("s_fr") > 0, "fr")
        .otherwise("und"))
  }

  // --- token counting ------------------------------------------------------

  /** Whitespace token count + BPE-ish sub-token count (letter runs, digit
    * runs, single punctuation marks — the common pre-tokenizer regex).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(filter(split(col("text"), "\\s+"), t => t =!= lit("")))
        .cast("long").as("ws_tokens"),
      size(expr(
        "regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"))
        .cast("long").as("bpe_tokens"))

  // --- TF-IDF term ranking ---------------------------------------------------

  /** Per-document top-k terms by TF·IDF, scored in EXACT INTEGERS so the
    * ranking crosses the Spark↔DuckDB gate bit-exactly: the idf factor is
    * the inverse document-frequency RATIO in micro-units,
    * `idf_micro = (N · 1000000) div df` (floored integer division —
    * identical in Spark `div` and DuckDB `//` for non-negative operands),
    * and `score_micro = tf · idf_micro`. The log-idf spelling would rank
    * identically per document for fixed tf (log is monotone in N/df) but
    * cannot cross the oracle without float noise — the same reasoning that
    * picked Resource Allocation over Adamic–Adar in
    * [[graft.algos.LinkPrediction]].
    *
    * Scale shape: tf is one (doc, term) count over non-distinct tokens
    * (map-side combinable); df is one distinct count shuffled on term;
    * the corpus size N rides a broadcast one-row cross join; the top-k
    * is a row_number window partitioned by doc_id — per-partition state
    * is one doc's term list, never the corpus.
    */
  def tfIdfTop(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score_micro",
        col("tf") * expr("(n_docs * 1000000L) div df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("score_micro"))
  }

  // --- deterministic corpus splitting ---------------------------------------

  /** Deterministic hash split — the train/valid/test assignment a training
    * pipeline must make reproducibly across engines and re-runs: bucket =
    * 60-bit md5 prefix of the STRINGIFIED doc_id, mod 10
    * ([[graft.graph.GraphOps.md5Prio]] twin discipline — DuckDB:
    * `('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT`). Purely
    * per-row (no shuffle at all — survives any scale), stable under
    * corpus growth (a doc's split never changes when other docs arrive),
    * and stratification-free by construction: within any stratum the
    * md5 buckets are uniform.
    *
    * Returns the input plus (bucket, split) where split = "train" for
    * buckets 0–7, "valid" for bucket 8 and "test" for bucket 9.
    */
  def hashSplit(docs: DataFrame): DataFrame =
    docs.withColumn("bucket",
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(10L)))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") < 9, "valid")
          .otherwise("test"))

  // --- train/test contamination ----------------------------------------------

  /** Benchmark-contamination detection (the check every pretraining
    * pipeline runs before publishing eval numbers — e.g. GPT-3 App. C /
    * Dodge et al. 2021 use exactly this n-gram-overlap definition): for
    * every (test doc, train doc) pair sharing at least one word `n`-gram,
    * the count of DISTINCT shared n-grams. Splits come from [[hashSplit]],
    * so the whole check is deterministic end-to-end.
    *
    * Scale shape: the same candidate-pair join as MinHash-LSH bucketing —
    * two shingle tables joined on the shingle key, grouped on the pair —
    * never an all-pairs product. `maxTrainDf` is the hot-shingle guard
    * (boilerplate grams hit thousands of train docs and would quadratically
    * inflate the pair fan-out): shingles in more than `maxTrainDf` train
    * docs are dropped DETERMINISTICALLY (both engines apply the same
    * filter), the LinkPrediction/g_jaccard_capped cap discipline.
    */
  def contamination(docs: DataFrame, n: Int = 8,
                    maxTrainDf: Long = 100L): DataFrame = {
    val split = hashSplit(docs)
    val trainSh = shingleRows(
      split.where(col("split") === "train").select("doc_id", "text"), n)
      .select(col("doc_id").as("train_doc"), col("shingle"))
    val testSh = shingleRows(
      split.where(col("split") === "test").select("doc_id", "text"), n)
      .select(col("doc_id").as("test_doc"), col("shingle"))
    val kept = trainSh.join(
      trainSh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxTrainDf).select("shingle"),
      Seq("shingle"), "left_semi")
    testSh.join(kept, "shingle")
      .groupBy("test_doc", "train_doc")
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** Within-document n-gram repetition ratio — the degenerate-text
    * detector (looping generations, copy-paste spam, keyword stuffing)
    * every pretraining quality filter runs: of the `len(tokens) − n + 1`
    * n-gram positions in the document, what fraction repeat an n-gram
    * already seen in the same document. `rep_micro` is the integer
    * micro-unit ratio `(total − distinct)·10⁶ div total`; documents with
    * fewer than n tokens have no positions and are dropped, so the
    * division never sees zero. Entirely per-row array expressions — zero
    * shuffles at any corpus size.
    */
  def repetition(docs: DataFrame, n: Int = 5): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("__ts"))
      .select(col("doc_id"),
        (size(col("__ts")) - (n - 1)).cast("long").as("total"),
        size(shingles(col("__ts"), n)).cast("long").as("distinct_grams"))
      .where(col("total") > 0L)
      .select(col("doc_id"), col("total"), col("distinct_grams"),
        expr("(total - distinct_grams) * 1000000 div total").as("rep_micro"))

  /** Per-document boilerplate fraction — the share of a document's
    * distinct word n-gram shingles that recur in at least `minDf` corpus
    * documents (navigation chrome, license headers, template scaffolding:
    * the spans a pretraining quality filter discounts even when the whole
    * document is not a near-duplicate). `frac_micro` is the integer
    * micro-unit ratio `dup·10⁶ div total` (the tfIdfTop no-float
    * discipline); documents with fewer than n tokens have no shingles and
    * are absent, so no division ever sees zero.
    *
    * Scale shape: one distinct-shingle explode, one df count shuffled on
    * the shingle key, one semi-join-shaped df lookup back onto the same
    * key, one per-doc agg — no pair join anywhere, so (unlike
    * [[contamination]]) hot boilerplate grams cost a count, not a
    * quadratic fan-out; AQE handles the stopword-gram skew.
    */
  def boilerplateFrac(docs: DataFrame, n: Int = 5,
                      minDf: Long = 3L): DataFrame = {
    val sh = shingleRows(docs, n)
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("dup_grams"))
      .select(col("doc_id"), col("grams"), col("dup_grams"),
        expr("dup_grams * 1000000 div grams").as("frac_micro"))
  }

  /** Sequence-packing layout — where each document's tokens land when the
    * corpus is concatenated shard-by-shard and cut into fixed
    * `capacity`-token context windows (GPT-style pretraining packing:
    * documents straddle window boundaries rather than padding). Documents
    * are sharded by the md5 hash (the [[hashSplit]] discipline, so shards
    * are stable under corpus growth) and packed in doc_id order within
    * their shard:
    *
    *  - `bin_first` / `bin_last` — the first/last window the document
    *    touches (within its shard),
    *  - `bin_off` — the token offset inside `bin_first` where it starts.
    *
    * All integer-exact. Scale shape: the only wide op is ONE running-sum
    * window PARTITIONED BY shard — per-partition state, never a global
    * sort; more shards = more parallelism, which is exactly how a real
    * packing job spreads across workers. Zero-token documents are dropped
    * (they occupy no window).
    */
  def packBins(docs: DataFrame, capacity: Long,
               shards: Long = 8L): DataFrame = {
    require(capacity >= 1, s"window capacity must be >= 1, got $capacity")
    require(shards >= 1, s"need at least one shard, got $shards")
    import org.apache.spark.sql.expressions.Window
    val toks = tokenCounts(docs)
      .select(col("doc_id"), col("ws_tokens").as("tok"))
      .where(col("tok") > 0L)
      .withColumn("shard",
        graft.graph.GraphOps.md5Prio(col("doc_id").cast("string")) % shards)
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.withColumn("cum", sum(col("tok")).over(w))
      .select(col("doc_id"), col("shard"), col("tok"),
        expr(s"(cum - tok) div $capacity").as("bin_first"),
        expr(s"(cum - 1) div $capacity").as("bin_last"),
        ((col("cum") - col("tok")) % capacity).as("bin_off"))
  }

  // --- fingerprinting ------------------------------------------------------

  /** k-min sketch fingerprint: the k lexicographically smallest md5 digests
    * of the document's word n-gram shingles, comma-joined. Engine-agnostic
    * (md5 hex is identical everywhere); a compact identity for near-dup
    * bucketing and provenance.
    */
  def fingerprint(docs: DataFrame, n: Int = 4, k: Int = 4): DataFrame =
    shingleRows(docs, n)
      .groupBy("doc_id")
      .agg(concat_ws(",",
        slice(sort_array(collect_list(md5(col("shingle")))), 1, k))
        .as("fingerprint"))

  /** Positional NON-distinct n-token window hashes: one row per window
    * start (doc_id, i, wh) with wh = md5 of the space-joined window. The
    * token array is materialized in its own projection first (the
    * [[shingleRows]] O(words²) caveat); docs shorter than n drop out.
    * Window rows are O(total tokens) — the linear corpus pass every
    * substring-level pipeline stage shares.
    */
  def windowHashRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("__ts"))
      .where(size(col("__ts")) >= n)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("__ts")) - lit(n - 1)),
        i => md5(concat_ws(" ", slice(col("__ts"), i, lit(n))))))
        .as(Seq("i", "wh")))

  /** Exact duplicated-window profile (the substring-dedup signal of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022): per document, how many of its n-token windows occur ≥2 times
    * anywhere in the corpus, as an exact ppm fraction.
    *
    * Scale shape: the window rows shuffle once on the window-hash key for
    * the corpus count, join back on the SAME key (co-partitioned; AQE
    * handles the boilerplate-hot hashes), then one per-doc agg — never a
    * doc×doc pair product, unlike shingle-Jaccard paths.
    */
  def duplicatedWindows(docs: DataFrame, n: Int): DataFrame = {
    val w = windowHashRows(docs, n).select("doc_id", "wh")
    val cnt = w.groupBy("wh").agg(count(lit(1)).as("c"))
    w.join(cnt, "wh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("c") >= 2, lit(1L)).otherwise(lit(0L)))
          .as("dup_windows"))
      .select(col("doc_id"), col("n_windows").cast("long").as("n_windows"),
        col("dup_windows").cast("long").as("dup_windows"),
        expr("(dup_windows * 1000000) div n_windows").as("dup_ppm"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * local algorithms for document fingerprinting", SIGMOD 2003 — the MOSS
    * algorithm): hash every k-token gram to a 60-bit md5-prefix BIGINT,
    * slide a window of `w` consecutive gram hashes, keep the minimum per
    * window, and fingerprint the document with the DISTINCT selected
    * hashes. Guarantees every shared substring of ≥ w+k−1 tokens
    * contributes a shared fingerprint. Plain min (no rightmost-tie rule)
    * keeps the selection a pure value function — deterministic and
    * engine-identical.
    *
    * Scale shape: the sliding min is a rows-between window PARTITIONED BY
    * doc — per-document state only, embarrassingly parallel across docs;
    * then one per-doc distinct+count. Returns (doc_id, n_grams,
    * n_fingerprints, density_ppm = fingerprints·10⁶ div grams).
    */
  def winnow(docs: DataFrame, k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = windowHashRows(docs, k)
      .select(col("doc_id"), col("i"),
        conv(substring(col("wh"), 1, 15), 16, 10).cast("long").as("h"))
    val ng = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val win = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, w - 1)
    val fps = g.select(col("doc_id"), col("i"),
        min("h").over(win).as("mh"))
      .join(ng, "doc_id")
      .where(col("i") <= col("n_grams") - w) // full windows only (i 0-based)
      .select("doc_id", "mh").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    ng.join(fps, "doc_id")
      .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
        col("n_fp").cast("long").as("n_fp"),
        expr("(n_fp * 1000000) div n_grams").as("density_ppm"))
  }
}
