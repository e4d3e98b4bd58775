package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language-ID (marker-word heuristic), quality scoring,
  * and document fingerprinting. All are pure column expressions
  * (codegen-friendly, no UDFs) so they run at full scan speed and
  * partial-aggregate cleanly at 100 TB.
  */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Marker vocabularies for the language-ID heuristic. Deliberately tiny
    * and deterministic; production would swap in character n-gram
    * profiles — the *pipeline shape* (pure column expr → argmax) is the
    * point.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "fast", "data", "query"),
    "de" -> Seq("scan", "merge", "window"),
    "fr" -> Seq("table", "column", "line"),
    "es" -> Seq("row", "group", "order"),
    "zh" -> Seq("hash", "join", "key"))

  /** Count of tokens belonging to a marker set. */
  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(markers)))

  /** Predicted language = argmax over marker-hit counts with a fixed
    * preference order on ties (first wins).
    */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (lang, ms) => lang -> markerHits(text, ms) }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === maxScore && maxScore > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Heuristic quality score in [0,1]: rewards mid-length documents and a
    * healthy word-length profile, penalizes very short docs. Pure
    * arithmetic on counts so it is exactly reproducible in ANSI SQL.
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nTokens = tokenCount(text).cast("double")
    val avgWordLen = (nChars - (nTokens - lit(1.0))) / nTokens
    val lengthScore = least(nChars / lit(500.0), lit(1.0))
    val wordLenScore = lit(1.0) - least(abs(avgWordLen - lit(5.0)) / lit(5.0), lit(1.0))
    val shortPenalty = when(nTokens < 5, lit(0.5)).otherwise(lit(1.0))
    (lit(0.5) * lengthScore + lit(0.5) * wordLenScore) * shortPenalty
  }

  /** Canonical text form for content-addressed dedup: lowercase, strip
    * non-alphanumerics, collapse whitespace.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Content fingerprint of the normalized text (md5 here; the rolling-
    * hash variant for shingle-level fingerprints lives in [[Dedup]]).
    */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** BPE-ish pre-tokenizer pattern (the GPT-2 shape, restricted to
    * constructs RE2 also supports — no lookahead — so any engine can
    * reproduce the token stream): contractions, letter runs, digit runs,
    * punctuation runs, each with an optional leading space.
    */
  val BPE_PATTERN = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+"

  /** Subword-style tokens of the lowercased text — a `regexp_extract_all`
    * column expression, so tokenization runs inside codegen at scan speed
    * (no UDF, no per-row driver work).
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(BPE_PATTERN), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Polynomial rolling hash (Rabin–Karp) of the normalized text:
    * fold over characters of `acc * 31 + ascii(c) (mod p)`. Pure
    * higher-order-function arithmetic — deterministic, overflow-free
    * (acc < p = 1e9+7 keeps acc*31+255 within a long), and exactly
    * reproducible in ANSI SQL, unlike a JVM-hash fingerprint.
    */
  def rollingFingerprint(text: Column, mod: Long = 1000000007L): Column = {
    val chars = filter(split(normalized(text), ""), c => c =!= "")
    when(size(chars) === 0, lit(0L)).otherwise(
      aggregate(chars, lit(0L), (acc, c) => (acc * 31 + ascii(c)) % mod))
  }

  /** Fraction of distinct tokens: 1.0 means no repeated word, low values
    * flag degenerate/boilerplate documents (the Gopher/RefinedWeb
    * repetition family of quality rules, adapted to token streams).
    */
  def uniqueTokenRatio(text: Column): Column = {
    val t = tokens(text)
    size(array_distinct(t)).cast("double") / size(t).cast("double")
  }

  /** Fraction of the document occupied by its single most frequent token.
    * Computed as a fold over the sorted token array (longest equal run =
    * mode count) — O(n log n) per row inside codegen, no explode/shuffle,
    * so it runs at scan speed over 100 TB where an
    * explode→groupBy(doc,token) formulation would shuffle every token.
    */
  def topTokenFraction(text: Column): Column = {
    val t = tokens(text)
    val best = aggregate(
      array_sort(t),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(run, acc.getField("best")).as("best"))
      },
      acc => acc.getField("best"))
    best.cast("double") / size(t).cast("double")
  }

  /** Shannon entropy (bits/char) of the document's character unigram
    * distribution — the compressibility proxy in the Gopher/RefinedWeb
    * quality family: degenerate or template text scores low, natural
    * prose sits near the language's ~4 bits/char.
    *
    * Computed as H = log2(n) − (Σ c·log2 c)/n over the run lengths of
    * the SORTED character array — one row-local O(n log n) fold inside
    * codegen (same discipline as [[topTokenFraction]]), no
    * explode/shuffle, so it runs at scan speed over 100 TB. The run
    * accumulator carries Σ c·log2 c exactly; the only rounding is the
    * caller's at output.
    */
  def charEntropy(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.CharEntropy(
        org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** Unicode NFC canonical composition — native codegen expression with
    * an allocation-free fast path for already-normalized text (the vast
    * majority at corpus scale); see [[graft.functions.UnicodeOps]].
    */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NfcNormalize(
        org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** Aho–Corasick multi-pattern occurrence counts — `array<long>`
    * aligned with `patterns`; ONE text pass for the whole list (see
    * [[graft.functions.AhoCorasick]]). The blocklist/canary screen.
    */
  def ahoCounts(text: Column, patterns: Seq[String]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.AhoCorasickCounts(
        org.apache.spark.sql.GraftSqlBridge.expression(text), patterns))

  /** The relational sorted-run-fold spelling — retained as the
    * executable specification [[graft.functions.CharEntropyOp]] is
    * equivalence-tested against (OpsSpec); HOFs run interpreted, so the
    * native expression is the production surface.
    */
  private[graft] def charEntropyHof(text: Column): Column = {
    val chars = split(text, "")
    val n = size(chars)
    // fold over sorted chars: on a run break, add run·log2(run) for the
    // finished run; flush the final run in the finish lambda
    val sumClog = aggregate(
      array_sort(chars),
      struct(lit("").as("prev"), lit(0.0).as("run"), lit(0.0).as("acc")),
      (acc, x) => {
        val isSame = x === acc.getField("prev")
        val finished = when(isSame || acc.getField("run") === 0.0, acc.getField("acc"))
          .otherwise(acc.getField("acc") +
            acc.getField("run") * log2(acc.getField("run")))
        struct(
          x.as("prev"),
          when(isSame, acc.getField("run") + 1.0).otherwise(lit(1.0)).as("run"),
          finished.as("acc"))
      },
      acc => when(acc.getField("run") === 0.0, acc.getField("acc"))
        .otherwise(acc.getField("acc") +
          acc.getField("run") * log2(acc.getField("run"))))
    when(n === 0, lit(0.0))
      .otherwise(log2(n.cast("double")) - sumClog / n.cast("double"))
  }

  /** Fraction of adjacent-token bigrams that are repeats of an earlier
    * bigram in the same document (0.0 for single-token docs).
    */
  def dupBigramFraction(text: Column): Column = {
    val t = tokens(text)
    val n = size(t)
    val bigrams = zip_with(slice(t, lit(1), n - 1), slice(t, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
    when(n >= 2,
      lit(1.0) - size(array_distinct(bigrams)).cast("double") /
        size(bigrams).cast("double"))
      .otherwise(lit(0.0))
  }

  // ------------------------------------------------------- PII redaction

  /** PII patterns, restricted to constructs both Java regex and RE2
    * support (no lookaround, no backreferences) so redaction is exactly
    * reproducible across engines. Production pipelines swap in richer
    * pattern sets (names, addresses need NER models); the *pipeline
    * shape* — scan-speed `regexp_replace` chains inside codegen, no
    * UDFs — is the point.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b555-\\d{4}\\b"

  /** Text with emails, IPv4 addresses, and (NANP test-prefix) phone
    * numbers replaced by typed placeholder tags. Email runs first so the
    * IP pattern can never fire inside a redacted address.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-document PII profile: match counts per class plus the md5 of the
    * redacted text (the audit artifact a curation pipeline persists).
    */
  def piiProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      regexp_count(t, lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(t, lit(Ipv4Re)).cast("long").as("n_ip"),
      regexp_count(t, lit(PhoneRe)).cast("long").as("n_phone"),
      md5(redactPii(t)).as("redacted_fp"))
  }

  /** Per-document text-statistics frame: one row per doc with the columns
    * downstream filters group on.
    */
  def profile(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.withColumn("n_tokens", tokenCount(t).cast("long"))
      .withColumn("pred_lang", langId(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("fp", fingerprint(t))
  }

  /** Token-window chunk spans for training-sequence packing: windows of
    * `chunkTokens` tokens starting every `stride` tokens (overlap =
    * chunkTokens − stride, the standard LM context-window slide). Returns
    * an array of (chunk_idx, n_tok, first_tok) structs — one `transform`
    * over a `sequence` of start offsets, pure codegen; the caller
    * explodes it, so chunking a 100 TB corpus is a single narrow
    * scan-stage map with no shuffle at all.
    */
  def tokenChunks(toks: Column, chunkTokens: Int, stride: Int): Column = {
    require(chunkTokens > 0 && stride > 0, "chunkTokens and stride must be positive")
    // bind the token array once per row — `toks` is typically a
    // tokenizer expression, which a shared Column would re-evaluate at
    // every per-chunk reference on the interpreted HOF path
    element_at(transform(array(toks), ts =>
      transform(
        sequence(lit(0), size(ts) - 1, lit(stride)),
        start => struct(
          (start / stride).cast("long").as("chunk_idx"),
          least(lit(chunkTokens), size(ts) - start).cast("long").as("n_tok"),
          element_at(ts, start + 1).as("first_tok")))), 1)
  }

  /** Per-document unigram surprisal (corpus cross-entropy): the mean of
    * −ln p(token) under the corpus's own unigram distribution. The
    * perplexity-filter shape of CCNet/Gopher with the external language
    * model replaced by the corpus unigram LM, so the score is exactly
    * reproducible by any engine. Low surprisal ⇒ document made of
    * corpus-typical tokens; high ⇒ rare-token (or noise) document.
    *
    * Plan shape at 100 TB: token frequencies are one map-side-combinable
    * groupBy over the exploded token stream; the total is a one-row
    * aggregate joined back by broadcast; the per-doc score is a second
    * combinable groupBy keyed on the doc id. The frequency join keys on
    * the token — Catalyst/AQE picks broadcast when the dictionary fits
    * and a shuffle join when it does not; nothing here forces either.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("__tok"))
    val freq = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__tf"))
    val total = freq.agg(sum(col("__tf")).as("__total"))
    toks.join(freq, "__tok")
      .crossJoin(broadcast(total))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).cast("long").as("n_tokens"),
        avg(-log(col("__tf").cast("double") / col("__total").cast("double"))).as("surprisal"))
  }

  /** C4-style rule-based quality flags (Raffel et al. 2020 §2.2,
    * doc-level form): each rule is a pure boolean column — the doc is
    * kept only when EVERY rule passes, and each flag survives in the
    * output so filter ATTRIBUTION (which rule kills how much of the
    * corpus) costs one aggregate, the number every curation run reports.
    * All codegen column expressions: scan-speed, no shuffle, composes
    * with any downstream sampler.
    */
  def c4Rules(text: Column): Seq[(String, Column)] = Seq(
    "min_words" -> (tokenCount(text) >= 5),
    "max_words" -> (tokenCount(text) <= 100000),
    "terminal_punct" -> text.rlike("[.!?\"']$"),
    "no_curly_brace" -> !text.contains("{"),
    "no_lorem_ipsum" -> !lower(text).contains("lorem ipsum"),
    "mean_word_len" -> {
      val mean = (length(text) - (tokenCount(text) - 1)).cast("double") /
        tokenCount(text).cast("double")
      mean >= 2.0 && mean <= 12.0
    })

  /** The Gopher quality-rule pack (Rae et al., arXiv:2112.11446 §A1.1,
    * the thresholds later reused by RefinedWeb/Dolma), as pure column
    * predicates over a bound token array — word-count and mean-length
    * windows, symbol-to-word ratios (hash, ellipsis), bullet/ellipsis
    * line fractions, alphabetic-word fraction, and stop-word presence.
    * One codegen scan; per-rule attribution as columns like [[c4Rules]].
    */
  def gopherRules(text: Column): Seq[(String, Column)] = {
    val stopWords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    def overToks(f: Column => Column): Column =
      element_at(transform(array(filter(split(text, "\\s+"), w => w =!= "")),
        ts => f(ts)), 1)
    val lines = split(text, "\n")
    Seq(
      "word_count" -> overToks(ts => size(ts) >= 50 && size(ts) <= 100000),
      "mean_word_len" -> overToks { ts =>
        // when-guarded: ANSI divide-by-zero on empty docs (the rule
        // fails closed through the caller's coalesce)
        when(size(ts) > 0, {
          val m = aggregate(ts, lit(0L), (a, w) => a + length(w)).cast("double") /
            size(ts).cast("double")
          m >= 3.0 && m <= 10.0
        })
      },
      "hash_ratio" -> overToks(ts =>
        size(filter(split(text, ""), c => c === "#")).cast("double") <=
          lit(0.1) * size(ts).cast("double")),
      "ellipsis_ratio" -> overToks(ts =>
        (length(text) - length(replace(text, lit("..."), lit(""))))
          .cast("double") / 3.0 <= lit(0.1) * size(ts).cast("double")),
      "bullet_lines" -> (size(filter(lines,
        l => trim(l).startsWith("-") || trim(l).startsWith("*")))
        .cast("double") <= lit(0.9) * size(lines).cast("double")),
      "ellipsis_lines" -> (size(filter(lines, l => trim(l).endsWith("...")))
        .cast("double") <= lit(0.3) * size(lines).cast("double")),
      "alpha_words" -> overToks(ts =>
        size(filter(ts, w => w.rlike("[a-zA-Z]"))).cast("double") >=
          lit(0.8) * size(ts).cast("double")),
      "stop_words" -> overToks(ts =>
        size(filter(ts, w => lower(w).isInCollection(stopWords))) >= 2))
  }

  /** Gopher REPETITION rules (Rae et al. 2021, Table A1 — the family the
    * base [[gopherRules]] pack omits): per document, the fraction of
    * characters inside the most frequent {2,3,4}-gram (ties between
    * equally-frequent grams break to the longest, so the reported mass
    * cnt·len is deterministic) and inside all DUPLICATED {5..10}-grams
    * (each duplicated occurrence counted — the occurrence-mass reading),
    * against the paper's thresholds
    * (top: 0.20/0.18/0.16; dup: 0.15/0.14/0.13/0.12/0.11/0.10).
    *
    * Fractions are quantized to integer MICROUNITS (floor(x·1e6 + 0.5),
    * the classifier family's convention) over integer char masses, so
    * every value — and the kept verdict — replays bit-for-bit in any
    * engine. Character mass of an n-gram occurrence = length of its
    * space-joined string; denominator = length of the space-joined
    * token stream.
    *
    * Plan shape: ONE exploded (doc, n, gram) scan for all nine n values
    * (map-side-combinable counts), two hash aggregations back to
    * per-doc rows — corpus-linear, no joins, no windows.
    */
  def gopherRepetitionReport(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    val ns = topNs ++ dupNs
    val thresholds = Map(2 -> 200000L, 3 -> 180000L, 4 -> 160000L,
      5 -> 150000L, 6 -> 140000L, 7 -> 130000L, 8 -> 120000L,
      9 -> 110000L, 10 -> 100000L)
    // Restore input parallelism before the 9-way gram explode when the
    // source arrives under-split (a compact fixture is ONE parquet
    // split, and explode never splits a partition — the whole 9x token
    // volume would funnel through one core). At real scale inputs
    // arrive pre-split and this branch never fires, so no gratuitous
    // text shuffle is added.
    val spark = docs.sparkSession
    // queryExecution.toRdd, not .rdd: the split-count inspection must not
    // instantiate the row-encoding RDD graph on the driver (r14 nit) —
    // the internal-row RDD is what the query executes anyway
    val spread =
      if (docs.queryExecution.toRdd.getNumPartitions < spark.sparkContext.defaultParallelism)
        docs.repartition(spark.sessionState.conf.numShufflePartitions)
      else docs
    val base = spread.select(col(idCol).as("doc_id"),
      filter(split(col(textCol), "\\s+"), w => w =!= "").as("__ts"))
      .withColumn("__chars", length(concat_ws(" ", col("__ts"))))
    // Paper rule (Rae et al. Table A1): char mass of the MOST FREQUENT
    // gram — select by (cnt, len) lexicographic max (ties between
    // equally-frequent grams break to the longest; the product is then
    // tie-independent), NOT max(cnt·len), under which a longer but less
    // frequent gram could win and flip the kept verdict (r14 advisory).
    //
    // Every metric is a function of ONE document's grams, so the whole
    // computation is ROW-LOCAL (the former spelling exploded all nine
    // gram streams — ≈ 9× the token volume, gram STRINGS as keys —
    // through TWO corpus-scale shuffles only to regroup rows that were
    // already co-located by doc; guide §2.4 "remove shuffles outright").
    // Per n, [[graft.functions.RepetitionStats]] hash-counts the doc's
    // grams in one native pass inside whole-stage codegen — the previous
    // array_sort + higher-order `aggregate` run fold was CodegenFallback:
    // every fold step interpreted with a fresh struct allocation. A
    // sorted-run count IS a group-by count and both the (cnt, len) max
    // and the dup-mass sum are order-independent, so the numbers are
    // identical (kernel returns [topCnt, topLen, dup]).
    def runFold(n: Int): Column =
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.RepetitionStats(
          org.apache.spark.sql.GraftSqlBridge.expression(col("__ts")), n))
    def micro(c: Column): Column = when(col("__chars") > 0,
      floor(c.cast("double") / col("__chars").cast("double") * 1e6 + 0.5)
        .cast("long")).otherwise(0L)
    val withFolds = base.select(
      col("doc_id") +: col("__chars") +:
        ns.map(n => runFold(n).as(s"__f$n")): _*)
    val metricCols =
      topNs.map(n => micro(element_at(col(s"__f$n"), 1) *
        element_at(col(s"__f$n"), 2)).as(s"top${n}_micro")) ++
      dupNs.map(n => micro(element_at(col(s"__f$n"), 3)).as(s"dup${n}_micro"))
    val perDoc = withFolds.select(
      col("doc_id") +: col("__chars") +: metricCols: _*)
    val kept = (topNs.map(n => col(s"top${n}_micro") <= thresholds(n)) ++
      dupNs.map(n => col(s"dup${n}_micro") <= thresholds(n))).reduce(_ && _)
    perDoc.withColumn("kept", kept)
      .withColumnRenamed("__chars", "n_chars_joined")
  }

  /** Deterministic word-chunk lines — groups of `width` tokens joined by
    * spaces (the q211 fixture formula, shared with its scale probe so
    * both always measure the same kernel). Zero-token arrays yield an
    * EMPTY array: Spark's `sequence(0, -1)` is DESCENDING and would
    * otherwise synthesize phantom chunks (r14 advisory).
    */
  def wordChunkLines(toks: Column, width: Int): Column =
    when(size(toks) > 0,
      transform(
        sequence(lit(0),
          ceil(size(toks).cast("double") / lit(width.toDouble)).cast("int") - 1),
        j => concat_ws(" ", slice(toks, j * width + 1, lit(width)))))
      .otherwise(array().cast("array<string>"))

  /** In-document LINE dedup (the RefinedWeb line-wise correction stage):
    * keep the FIRST occurrence of every line, preserving order — crawled
    * pages repeat nav/footer/cookie lines inside one document, and
    * dropping the repeats both shrinks the corpus and stops the
    * repetition rules from rejecting otherwise-good pages. Entirely
    * row-local column expressions (no explode, no shuffle): a line
    * survives iff its first occurrence index is its own. O(lines²) per
    * row worst case — lines per page are tens, never corpus-scale.
    */
  def dedupLines(text: Column): Column =
    element_at(transform(array(split(text, "\n")), ls =>
      array_join(filter(ls, (l, i) => array_position(ls, l) === i + 1), "\n")), 1)

  /** Per-document Gopher report: one boolean per rule + the conjunction. */
  def gopherFilter(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rules = gopherRules(col(textCol))
    val flagged = rules.foldLeft(docs) { case (d, (name, c)) =>
      d.withColumn(s"pass_$name", coalesce(c, lit(false)))
    }
    flagged.withColumn("kept",
      rules.map(r => col(s"pass_${r._1}")).reduce(_ && _))
  }

  def c4Filter(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rules = c4Rules(col(textCol))
    val flagged = rules.foldLeft(docs) { case (d, (name, c)) =>
      d.withColumn(s"pass_$name", coalesce(c, lit(false)))
    }
    flagged.withColumn("kept",
      rules.map(r => col(s"pass_${r._1}")).reduce(_ && _))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS selection rule): hash every character k-gram, slide a window of
    * `w` consecutive hashes, keep each window's minimal hash (ties to the
    * RIGHTMOST position), dedupe. Guarantees every shared substring of
    * length ≥ k+w−1 yields at least one shared fingerprint, with expected
    * density 2/(w+1) — the local fingerprinting rule plagiarism/overlap
    * detection uses where a global min (MinHash) loses position locality.
    *
    * Entirely ROW-LOCAL column expressions (hashing, windows, argmin) —
    * fingerprinting a 100 TB corpus is one codegen scan, no shuffle; the
    * md5-based hash makes selection bit-reproducible in any engine.
    * Returns `array<struct<pos int, fp long>>` ordered by position.
    */
  def winnowing(text: Column, k: Int = 5, w: Int = 4): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.WinnowingFingerprints(
        org.apache.spark.sql.GraftSqlBridge.expression(text), k, w))

  /** The relational (higher-order-function) spelling of the same
    * selection — retained as the executable specification
    * [[graft.functions.Winnow]] is equivalence-tested against (OpsSpec);
    * HOFs run on Catalyst's interpreted path, so the native expression
    * is the production surface.
    */
  private[graft] def winnowingHof(text: Column, k: Int = 5, w: Int = 4): Column = {
    val nGrams = greatest(length(text) - (k - 1), lit(1))
    val hashes = transform(sequence(lit(1), nGrams),
      i => conv(substring(md5(substring(text, i, lit(k))), lit(1), lit(12)), 16, 10).cast("long"))
    // Bind the hash array ONCE as a lambda variable: Catalyst inlines a
    // shared Column everywhere it is referenced, so indexing `hashes`
    // directly inside the window fold would re-evaluate the WHOLE
    // md5-per-gram transform per probe — O(w·n²) digests per document
    // in the higher-order functions' interpreted path (observed: q125
    // went from minutes to sub-second on sf0.01 with the binding).
    // `transform(array(hashes), hs -> ...)` evaluates `hashes` exactly
    // once per row; every `hs` reference is then an O(1) array read.
    element_at(transform(array(hashes), hs => {
      val nH = size(hs)
      val winLen = least(lit(w), nH)
      val nWin = greatest(nH - (w - 1), lit(1))
      // each window's argmin POSITION (ties rightmost); two windows that
      // select the same position select the same hash, so deduping on
      // the position alone is exact
      val selected = transform(sequence(lit(1), nWin), s =>
        aggregate(
          sequence(lit(0), winLen - 1),
          struct(lit(Long.MaxValue).as("fp"), lit(-1).as("pos")),
          (acc, off) => {
            val idx = s + off
            val hv = element_at(hs, idx)
            when(hv <= acc.getField("fp"),
              struct(hv.as("fp"), idx.cast("int").as("pos")))
              .otherwise(acc)
          }).getField("pos"))
      transform(array_sort(array_distinct(selected)),
        p => struct(p.as("pos"), element_at(hs, p).as("fp")))
    }), 1)
  }

  /** Winnowing-overlap pair detection — the MOSS matching rule on top
    * of [[winnowing]]'s fingerprints: two documents are
    * plagiarism/overlap suspects when they share at least `minOverlap`
    * of the smaller document's distinct fingerprints. Fingerprints with
    * document frequency above `dfCap` are dropped BEFORE matching (the
    * MOSS boilerplate cut — a crawl's template fingerprint would
    * otherwise pair every page with every other page), and sizes are
    * computed over the same capped set so the ratio stays a true
    * containment estimate.
    *
    * Shape at 100 TB: fingerprinting is the one-pass codegen scan; the
    * inverted-index self-join is a bucket equi-join on the fingerprint
    * hash whose per-bucket fan-out is bounded by dfCap² — never
    * corpus-sized; sizes join back broadcast-or-bucket by id.
    */
  def winnowingOverlap(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4,
      minOverlap: Double = 0.5,
      dfCap: Long = 64L): DataFrame = {
    require(minOverlap > 0.0 && minOverlap <= 1.0, s"minOverlap=$minOverlap")
    require(dfCap >= 2, s"dfCap=$dfCap")
    val fps = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(array_distinct(transform(winnowing(col(textCol), k, w),
          r => r.getField("fp")))).as("fp"))
    val kept = fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= dfCap).select(col("fp")),
      Seq("fp"))
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("nfp"))
    kept.select(col("id").as("id_a"), col("fp"))
      .join(kept.select(col("id").as("id_b"), col("fp")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("id").as("id_a"), col("nfp").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("nfp").as("nb")), "id_b")
      .filter(col("n_shared").cast("double") /
        least(col("na"), col("nb")).cast("double") >= minOverlap)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("na"), col("nb")).cast("double"), 4).as("overlap"))
  }

  /** Pairwise vocabulary overlap between sources: Jaccard of the
    * distinct-token sets of every source pair — the mixture-design
    * diagnostic ("how redundant are my sources?") next to the
    * per-source dedup report. One distinct (source, token) pass, a
    * bucket self-join on the token (fan-out bounded by sources² per
    * token, never corpus-sized), and a broadcast of per-source
    * vocabulary sizes.
    */
  def sourceVocabOverlap(
      docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val vt = docs
      .select(col(sourceCol).as("src"),
        explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "").distinct()
    val sizes = vt.groupBy(col("src")).agg(count(lit(1)).as("n"))
    vt.select(col("src").as("src_a"), col("tok"))
      .join(vt.select(col("src").as("src_b"), col("tok")), "tok")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.select(col("src").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(sizes.select(col("src").as("src_b"), col("n").as("nb"))), "src_b")
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("na") + col("nb") - col("common")), 6))
      .select(col("src_a"), col("src_b"), col("common"), col("jaccard"))
  }

  /** Token BURSTINESS across sources: the chi-square statistic of each
    * top token's observed-vs-expected source distribution (expected =
    * token total · source share). High chi2 flags tokens concentrated
    * in few sources — template/boilerplate markers and domain jargon —
    * vs corpus-wide vocabulary. Zero cells contribute their expectation
    * (the full grid is top-N tokens × sources, a broadcast-scale frame).
    */
  def tokenBurstiness(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      topN: Int = 50,
      topK: Int = 15): DataFrame = {
    val ts = docs
      .select(col(sourceCol).as("src"),
        explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val cell = ts.groupBy(col("tok"), col("src")).agg(count(lit(1)).as("c"))
    val tokTot = cell.groupBy(col("tok")).agg(sum(col("c")).as("tt"))
    val srcTot = cell.groupBy(col("src")).agg(sum(col("c")).as("st"))
    val grand = srcTot.agg(sum(col("st")).as("g"))
    val top = tokTot.orderBy(col("tt").desc, col("tok")).limit(topN)
    top.crossJoin(broadcast(srcTot)).crossJoin(broadcast(grand))
      .join(cell, Seq("tok", "src"), "left")
      .withColumn("obs", coalesce(col("c"), lit(0L)).cast("double"))
      .withColumn("exp",
        col("tt").cast("double") * col("st").cast("double") / col("g").cast("double"))
      .withColumn("term",
        (col("obs") - col("exp")) * (col("obs") - col("exp")) / col("exp"))
      .groupBy(col("tok"), col("tt"))
      .agg(round(sum(col("term")), 4).as("chi2"))
      .orderBy(col("chi2").desc, col("tok"))
      .limit(topK)
      .select(col("tok"), col("tt").as("total"), col("chi2"))
  }

  /** Zipf power-law fit over the token frequency distribution — the
    * corpus-health diagnostic (natural language sits near slope −1 on
    * log rank vs log frequency; template/boilerplate-heavy or synthetic
    * corpora bend away from it). Ordinary least squares over the top
    * `topN` (ln rank, ln freq) points, closed form.
    *
    * Shape at 100 TB: one map-side-combinable token count, a top-N cut
    * (vocabulary-scale), and a 5-sum aggregate over `topN` rows — the
    * corpus is scanned once and never shuffled by row. The tiny
    * ranking window runs over `topN` rows only.
    */
  def zipfFit(docs: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freqs = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(topN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("tok"))))
    freqs
      .select(log(col("rank").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        col("n").cast("long").as("n_points"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 4).as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("n"), 4).as("intercept"))
  }

  /** BPE merge induction (Sennrich et al. 2016) — tokenizer FIT over the
    * corpus: starting from character symbols, repeatedly merge the most
    * frequent adjacent symbol pair (ties to the lexicographically
    * smallest pair, so the merge table is deterministic). Returns the
    * learned table `(rank, left, right, pair_freq)`.
    *
    * Shape at 100 TB: the corpus collapses to the word-frequency table
    * ONCE (the standard BPE preprocessing — pair statistics are
    * freq-weighted over distinct words, so all later rounds run on
    * vocabulary-scale data, not corpus-scale); each round is one
    * map-side-combinable pair count + a 1-row argmax collect + one
    * row-local fold re-segmentation. Per-round frames are persisted and
    * the previous round released, so lineage and memory stay O(1) in the
    * round count.
    */
  def bpeMerges(
      docs: DataFrame, textCol: String, numMerges: Int = 8): DataFrame = {
    require(numMerges >= 1, s"numMerges=$numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    // word-frequency table; symbols start as characters
    var words = docs
      .filter(col(textCol).isNotNull)
      .select(explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // one non-overlapping left-to-right merge pass over a symbol array
    def applyMerge(l: String, r: String): Column = {
      val folded = aggregate(
        col("syms"),
        struct(array().cast("array<string>").as("out"),
          lit(null).cast("string").as("pend")),
        (acc, s) =>
          when(acc.getField("pend").isNull,
            struct(acc.getField("out").as("out"), s.as("pend")))
            .when(acc.getField("pend") === lit(l) && s === lit(r),
              struct(concat(acc.getField("out"), array(lit(l + r))).as("out"),
                lit(null).cast("string").as("pend")))
            .otherwise(
              struct(concat(acc.getField("out"),
                array(acc.getField("pend"))).as("out"), s.as("pend"))),
        acc => when(acc.getField("pend").isNull, acc.getField("out"))
          .otherwise(concat(acc.getField("out"), array(acc.getField("pend")))))
      folded
    }

    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (rank <- 1L to numMerges) {
      val best = words
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r"))
        .limit(1)
        .as[(String, String, Long)].collect()
      if (best.isEmpty) {
        words.unpersist()
        return merges.result().toDF("rank", "left", "right", "pair_freq")
      }
      val (l, r, pf) = best.head
      merges += ((rank, l, r, pf))
      val next = words.select(applyMerge(l, r).as("syms"), col("freq"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count() // materialize before releasing the previous round
      words.unpersist()
      words = next
    }
    words.unpersist()
    merges.result().toDF("rank", "left", "right", "pair_freq")
  }

  /** BPE ENCODE (tokenizer APPLY — the runtime companion to
    * [[bpeMerges]]'s fit): segment each whitespace word into characters
    * and apply the merge table in rank order, each merge being one
    * non-overlapping left-to-right pass (Sennrich et al. 2016 semantics,
    * identical to [[bpeMerges]]'s re-segmentation fold).
    *
    * Implementation: each symbol is wrapped in sentinel bytes as
    * `S sym E` (S = U+0001, E = U+0002 — bytes no token contains) and a
    * merge (l, r) is a literal string `replace` of `S l E S r E` with
    * `S lr E`: the sentinels force matches onto symbol boundaries, so
    * string replace IS the left-to-right non-overlapping merge pass
    * (OpsSpec proves equivalence against [[bpeMerges]]'s fold,
    * including overlapping cases like (a,a) on "aaa"), and a chain of
    * replaces is a single whole-stage-codegen projection: tokenizing
    * 100 TB is one scan, no shuffle, no per-row interpreter. The merge
    * table is a fixed argument (a tokenizer is a shipped artifact; fit
    * one with [[bpeMerges]]).
    *
    * Returns `array<string>` of tokens for the document text.
    */
  /** A small fixed English-ish merge table (common digraph merges, two of
    * them chained: t+h then th+e) for encode demos and the q129 oracle —
    * a production table would come from [[bpeMerges]] over a training
    * corpus and ship as an artifact with the model.
    */
  val DemoMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "e" -> "r", "o" -> "n", "r" -> "e", "a" -> "t")

  def bpeEncodeTokens(text: Column, merges: Seq[(String, String)]): Column = {
    val S = "\u0001"
    val E = "\u0002"
    val words = filter(split(lower(text), "\\s+"), w => w =!= "")
    flatten(transform(words, w => {
      val wrapped = array_join(
        transform(split(w, ""), c => concat(lit(S), c, lit(E))), "")
      val mergedStr = merges.foldLeft(wrapped) { case (s, (l, r)) =>
        replace(s, lit(S + l + E + S + r + E), lit(S + l + r + E))
      }
      // bind the merged string once (substr + length would otherwise
      // each re-run the whole replace chain)
      element_at(transform(array(mergedStr), m =>
        split(m.substr(lit(2), length(m) - 2), E + S)), 1)
    }))
  }

  /** Per-document n-gram NOVELTY: the fraction of the doc's distinct
    * character n-grams that occur in NO other document (df = 1). High
    * novelty separates genuinely fresh text from template/boilerplate
    * recombination — the memorization-risk signal curation pipelines
    * report next to dedup rates.
    *
    * Shape at 100 TB: one explode of per-doc DISTINCT n-grams (the
    * single-pass native kernel), a map-side-combinable df groupBy over
    * the n-gram hash space, and one bucket join back — the same
    * feature-table discipline as the dedup cascade, no broadcast of
    * anything corpus-sized.
    */
  def ngramNovelty(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val grams = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(Dedup.charNgrams(col(textCol), n)).as("g"))
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.join(df, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        round(sum(when(col("df") === 1L, 1.0).otherwise(0.0)) /
          count(lit(1)), 4).as("novelty"))
  }

  /** Corpus-trained add-k bigram language-model score per document — the
    * CCNet/KenLM quality-filter family with the LM trained ON the corpus
    * itself (docs whose token transitions are atypical for the corpus
    * score low; boilerplate and fluent text score high). Each doc's
    * score is the mean log-probability of its bigrams under
    * `P(c|p) = (count(p,c) + k) / (count(p,·) + k·V)`, with a `<s>`
    * start symbol and V = distinct-token vocabulary size.
    *
    * Shape at 100 TB: bigram and prefix counts are map-side-combinable
    * groupBys over the exploded token-pair stream; scoring joins each
    * doc's pairs back by token key (bucket equi-joins — the vocabulary
    * is corpus-scale, NEVER broadcast or collected); V is the one scalar
    * on the driver. No window over the corpus, no quadratic leg.
    */
  def bigramLmScore(
      docs: DataFrame, idCol: String, textCol: String,
      k: Double = 0.5): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    // (prev, cur) pairs with a start symbol: prevs = <s> +: tokens dropRight 1
    val pairs = Par.widen(docs)
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), toks.as("t"))
      .select(col("doc_id"), explode(zip_with(
        slice(concat(array(lit("<s>")), col("t")), lit(1), size(col("t"))),
        col("t"),
        (p, c) => struct(p.as("prev"), c.as("cur")))).as("z"))
      .select(col("doc_id"), col("z.prev").as("prev"), col("z.cur").as("cur"))
    val big = pairs.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cbg"))
    val pref = pairs.groupBy(col("prev")).agg(count(lit(1)).as("cp"))
    val vocab = pairs.select(col("cur")).distinct().count()
    pairs
      .join(big, Seq("prev", "cur"))
      .join(pref, Seq("prev"))
      .withColumn("lp", log(
        (col("cbg").cast("double") + lit(k)) /
          (col("cp").cast("double") + lit(k) * lit(vocab.toDouble))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("lp")), 4).as("avg_logprob"))
  }

  /** Interpolated Kneser–Ney trigram scores (Kneser & Ney 1995; the
    * Chen & Goodman 1998 interpolated form) over the corpus's own
    * padded trigram stream — the LM family CCNet/KenLM quality filters
    * actually ship, replacing q121's add-k bigram strawman. Absolute
    * discount D is a fixed dyadic rational (0.75 — exactly
    * representable, so both engines subtract the same double), lower
    * orders use CONTINUATION counts (distinct-context, the KN insight),
    * and the model is exactly normalized: Σ_w P(w|u,v) = 1.
    *
    * Returns one row per distinct (src, u, v, w) trigram with its event
    * count and both the KN and add-one log-probabilities — the scored
    * frame [[knTrigramReport]] aggregates and tests introspect.
    *
    * Shape at 100 TB: ONE corpus-scale explode into (src,u,v,w) counts;
    * every model table (c3/c2/mid/midv/uni) is a map-side-combinable
    * re-aggregation of that table — vocabulary-scale, joined back by
    * bucket equi-joins on token keys, never broadcast or collected; the
    * two scalars (unitot, V) are 1-row broadcasts.
    */
  def knTrigramScores(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, s"discount in (0,1), got $discount")
    val toks = filter(split(lower(col(textCol)), "\\s+"), w => w =!= "")
    // padded stream: events (u,v,w) for each token position, u/v from a
    // double "<s>" pad so every token is scored
    val ev = Par.widen(docs)
      .filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("src"), toks.as("t"))
      .filter(size(col("t")) > 0)
      .select(col("src"), explode(element_at(transform(array(col("t")), ts => {
        val us = concat(array(lit("<s>"), lit("<s>")), ts)
        val n = size(ts)
        zip_with(
          zip_with(slice(us, lit(1), n), slice(us, lit(2), n),
            (a, b) => struct(a.as("u"), b.as("v"))),
          ts,
          (p, w) => struct(p.getField("u").as("u"), p.getField("v").as("v"),
            w.as("w")))
      }), 1)).as("g"))
      .select(col("src"), col("g.u").as("u"), col("g.v").as("v"),
        col("g.w").as("w"))
    // PINNED: evc feeds the model tables (c3→c2/mid/midv/uni/scal) AND
    // the final event-side join. Inner-join null filters push differently
    // into each branch's explode subtree, so canonicalization differs and
    // exchange reuse never fires — per-stage metrics showed the corpus
    // explode map stage executing FOUR times (4× the scan + lambda-explode
    // CPU and 4× its shuffle write). Par.pin truncates the lineage into
    // one LogicalRDD every consumer reads (the q192/q201 pattern;
    // persist() is defeated by the HOF-lambda plan's canonicalization).
    // evc is the aggregate — (src × trigram)-scale, far smaller than the
    // token stream.
    val evc = Par.pin(ev.groupBy(col("src"), col("u"), col("v"), col("w"))
      .agg(count(lit(1)).as("cnt")))
    val c3 = evc.groupBy(col("u"), col("v"), col("w"))
      .agg(sum(col("cnt")).as("c3"))
    val c2 = c3.groupBy(col("u"), col("v"))
      .agg(sum(col("c3")).as("c2"), count(lit(1)).as("n1p"))
    val mid = c3.groupBy(col("v"), col("w")).agg(count(lit(1)).as("mid"))
    val midv = mid.groupBy(col("v"))
      .agg(sum(col("mid")).as("midctx"), count(lit(1)).as("midn1"))
    val uniW = mid.groupBy(col("w")).agg(count(lit(1)).as("uni"))
    val scal = mid.agg(count(lit(1)).as("unitot"))
      .crossJoin(c3.select(col("w")).distinct().agg(count(lit(1)).as("vsz")))
    val d = lit(discount)
    val pkn =
      greatest(col("c3") - d, lit(0.0)) / col("c2") +
        (d * col("n1p") / col("c2")) *
          (greatest(col("mid") - d, lit(0.0)) / col("midctx") +
            (d * col("midn1") / col("midctx")) *
              (col("uni").cast("double") / col("unitot").cast("double")))
    val pa1 = (col("c3") + lit(1)).cast("double") /
      (col("c2") + col("vsz")).cast("double")
    // Assemble a TRIGRAM-KEYED model table first (all joins at
    // vocabulary scale), then hit the EVENT-scale (src, u, v, w) table
    // with ONE equi-join — the former spelling joined evc against each
    // model table in turn, re-shuffling the event-scale stream on five
    // different key sets ((u,v,w), (u,v), (v,w), (v), (w)); guide §2.3-
    // §2.4: the big side crosses the network once, the model tables are
    // trigram-sized. Identical rows and doubles — the same inner joins
    // associate the same model quantities to each event row.
    val model = c3
      .join(c2, Seq("u", "v"))
      .join(mid, Seq("v", "w"))
      .join(midv, Seq("v"))
      .join(uniW, Seq("w"))
    evc
      .join(model, Seq("u", "v", "w"))
      .crossJoin(broadcast(scal))
      .select(col("src"), col("u"), col("v"), col("w"), col("cnt"),
        log(pkn).as("kn_lp"), log(pa1).as("add1_lp"))
  }

  /** Per-source Kneser–Ney quality report: trigram volume, mean KN
    * log-probability, mean add-one-trigram log-probability, and the KN
    * uplift — the "is this source linguistically typical" table a
    * CCNet-style curation run reports.
    */
  def knTrigramReport(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      discount: Double = 0.75): DataFrame = {
    knTrigramScores(docs, sourceCol, textCol, discount)
      .groupBy(col("src").as(sourceCol))
      .agg(
        sum(col("cnt")).as("n_trigrams"),
        round(sum(col("cnt") * col("kn_lp")) / sum(col("cnt")), 4).as("kn_ll"),
        round(sum(col("cnt") * col("add1_lp")) / sum(col("cnt")), 4).as("add1_ll"))
      .withColumn("kn_uplift", round(col("kn_ll") - col("add1_ll"), 4))
  }

  /** The common UTF-8-read-as-Latin-1 mojibake digraphs → the intended
    * character (the ftfy core table, longest patterns first so the
    * three-byte punctuation forms never half-match a two-byte one).
    * Web-crawl text is full of these; repairing them BEFORE dedup and
    * tokenization keeps "café" and "cafÃ©" from counting as different
    * documents/tokens.
    *
    * NOTE the right-double-quote entry that renders as "â€" is actually
    * THREE characters — its third is the invisible control U+009D (the
    * cp1252-unmapped byte 0x9D) — so it is NOT a prefix of the
    * en/em-dash/ellipsis entries below it and cannot shadow them
    * (OpsSpec round-trips every entry).
    */
  val mojibakeMap: Seq[(String, String)] = Seq(
    "â€™" -> "’", "â€˜" -> "‘", "â€œ" -> "“",
    "â€" -> "”", "â€“" -> "–", "â€”" -> "—",
    "â€¦" -> "…",
    "Ã¡" -> "á", "Ã©" -> "é", "Ã­" -> "í", "Ã³" -> "ó", "Ãº" -> "ú",
    "Ã±" -> "ñ", "Ã¤" -> "ä", "Ã¶" -> "ö", "Ã¼" -> "ü", "ÃŸ" -> "ß",
    "Ã§" -> "ç", "Ã¨" -> "è", "Ãª" -> "ê", "Ã«" -> "ë", "Ã " -> "à",
    "Ã¢" -> "â", "Ã´" -> "ô", "Ã»" -> "û", "Ã¯" -> "ï", "Ã®" -> "î")

  /** Repair mojibake by the fixed literal-replace chain — pure codegen
    * string ops (the BPE-encode discipline), exactly replayable as the
    * same replace() chain in any engine; order is the map's (longest
    * first), so both engines resolve overlaps identically.
    */
  def fixMojibake(text: Column): Column =
    mojibakeMap.foldLeft(text) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good))
    }

  /** Unigram-LM tokenizer induction (Kudo, ACL 2018 — the SentencePiece
    * unigram family, hard-EM variant): seed a piece vocabulary from
    * frequency-weighted substring counts (every character plus the
    * `seedExtra` most frequent 2..`maxPieceLen`-grams, ties to the
    * lexicographically smaller piece), then run `emRounds` of
    * Viterbi-E / count-M: segment every distinct word with the current
    * quantized log-probs ([[graft.functions.UnigramSegment]] — ONE
    * codegen scan, no join) and re-estimate add-one piece probabilities
    * from the freq-weighted segmentation counts. All probabilities are
    * integer micro-logs (`floor(ln((c+1)/(tot+V))·1e6 + 0.5)`), so every
    * round's decisions are exact integer comparisons any engine replays
    * bit-identically. Words longer than `maxWordLen` chars are excluded
    * from the fit (the SentencePiece max-sentence-length discipline).
    *
    * Shape at 100 TB: the corpus collapses to the distinct-word
    * frequency table once (the [[bpeMerges]] preprocessing); seed counts
    * are one row-local substring explode into a map-side-combinable
    * groupBy; each EM round is one codegen segmentation scan plus a
    * vocabulary-scale count aggregate. Driver state is the piece table
    * (model-scale — a tokenizer is a shipped artifact) and nothing else.
    *
    * Returns the induced tokenizer: (piece, cnt, logp_q) where cnt is
    * the final round's segmentation count and logp_q the quantized
    * log-probability a downstream encoder would ship.
    */
  def unigramFit(
      docs: DataFrame,
      textCol: String,
      seedExtra: Int = 40,
      maxPieceLen: Int = 3,
      emRounds: Int = 2,
      maxWordLen: Int = 30): DataFrame = {
    require(seedExtra >= 0 && maxPieceLen >= 1 && emRounds >= 1 && maxWordLen >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val words = Par.widen(docs)
      .filter(col(textCol).isNotNull)
      .select(explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= maxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seed: freq-weighted counts of ALL substrings length 1..maxPieceLen
      // (overlapping occurrences, the Kudo seed statistic)
      val allSubs = words.select(col("freq"), explode(flatten(transform(
        sequence(lit(1), length(col("w"))),
        j => transform(
          sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - j + lit(1))),
          k => col("w").substr(j, k))))).as("pc"))
        .groupBy(col("pc")).agg(sum(col("freq")).as("c"))
      val chars = allSubs.filter(length(col("pc")) === 1)
      val grams = allSubs.filter(length(col("pc")) > 1)
        .orderBy(col("c").desc, col("pc")).limit(seedExtra)
      // the model-scale collect (charset + seedExtra pieces)
      val vocab: Array[(String, Long)] = chars.unionByName(grams)
        .as[(String, Long)].collect().sortBy(_._1)
      val vocabPieces = vocab.map(_._1)
      if (vocabPieces.isEmpty)
        return Seq.empty[(String, Long, Long)].toDF("piece", "cnt", "logp_q")

      def quantLog(c: Long, tot: Long, v: Int): Long =
        math.floor(math.log((c + 1).toDouble / (tot + v).toDouble) * 1e6 + 0.5).toLong
      def toLps(counts: Map[String, Long]): Seq[(String, Long)] = {
        val tot = counts.values.sum
        vocabPieces.toSeq.map(p =>
          p -> quantLog(counts.getOrElse(p, 0L), tot, vocabPieces.length))
      }

      var counts: Map[String, Long] = vocab.toMap
      for (_ <- 1 to emRounds) {
        val seg = org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.UnigramSegment(
            org.apache.spark.sql.GraftSqlBridge.expression(col("w")),
            toLps(counts), maxPieceLen))
        counts = words.select(col("freq"), explode(seg).as("pc"))
          .groupBy(col("pc")).agg(sum(col("freq")).as("c"))
          .as[(String, Long)].collect().toMap
      }
      val tot = counts.values.sum
      vocabPieces.toSeq
        .map(p => (p, counts.getOrElse(p, 0L),
          quantLog(counts.getOrElse(p, 0L), tot, vocabPieces.length)))
        .toDF("piece", "cnt", "logp_q")
    } finally words.unpersist()
  }

  /** Out-of-vocabulary rate per source against the corpus' own top-N
    * vocabulary — the tokenizer-fit diagnostic: a source whose token
    * mass falls outside the vocabulary the rest of the corpus would
    * induce needs its own tokenizer budget (or is noise). The
    * vocabulary is the `vocabSize` most frequent whitespace tokens
    * (ties toward the lexicographically smaller token, so both engines
    * cut the same boundary).
    *
    * Shape at scale: one map-side-combinable token count, a distributed
    * top-N (orderBy+limit — never a global window), the vocabulary
    * broadcast into a left join, then one aggregate per source. The
    * broadcast is `vocabSize` rows by construction.
    */
  def oovRate(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      vocabSize: Int = 20): DataFrame = {
    require(vocabSize >= 1, s"vocabSize=$vocabSize")
    val toks = docs
      .select(col(sourceCol).as("src"),
        explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("__v"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("src").as(sourceCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__v").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }
}
