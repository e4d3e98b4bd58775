package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Domain/source classification by TF-IDF nearest centroid — the
  * lightweight text classifier curation pipelines use to tag documents
  * with a domain before mixing (the fastText-classifier slot, with a
  * deterministic, engine-replayable model in place of learned weights).
  *
  * Fit + apply in one relational cascade:
  *  1. vocabulary = top `vocabSize` tokens by document frequency
  *     (ties to the lexicographically smaller token);
  *  2. smoothed idf = round(ln((N+1)/(df+1)) + 1, 6); per-doc weights
  *     w = round(tf·idf, 6), L2 norm rounded at 8;
  *  3. centroids = the per-class mean of the first `seedPerClass`
  *     docs' NORMALIZED vectors (the labeled seed set), per-token;
  *  4. every doc scores cosine against every class centroid (sparse
  *     token join), argmax with ties to the smaller class label.
  *
  * Shape at 100 TB: the vocabulary, idf table, and centroids are all
  * vocab-/class-scale — broadcast tables; the corpus-side work is one
  * tokenize-explode filtered against the broadcast vocabulary into a
  * map-side-combinable (doc, token) count, one bucket join to score,
  * and a per-doc argmax (min-struct aggregate, no window over the
  * corpus). The seed ranking window partitions by class — bounded by
  * `seedPerClass` retained rows per class.
  *
  * Returns the per-class report: `(source, n_docs, n_scored,
  * n_correct)` — docs containing no vocabulary token stay unscored.
  */
object Classify {

  def tfidfNearestCentroid(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      classCol: String,
      vocabSize: Int = 50,
      seedPerClass: Int = 10): DataFrame = {
    val base = graft.ops.Par.widen(docs).select(col(idCol).as("id"), col(classCol).as("cls"),
      col(textCol).as("text"))
    val toks = base
      .select(col("id"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val nDocs = base.agg(count(lit(1)).as("n_total"))

    // Document frequency WITHOUT the corpus-scale (id, tok) distinct
    // exchange: per-doc dedup is ROW-LOCAL (array_distinct over the
    // doc's own token array), so the only shuffle is the map-side-
    // combinable vocabulary-scale groupBy(tok) — guide §2.4, remove the
    // shuffle outright. Same df: count of docs containing the token.
    val dft = base
      .select(explode(array_distinct(
        split(lower(col("text")), "\\s+"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val vocab = dft
      .orderBy(col("df").desc, col("tok")).limit(vocabSize)
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", round(
        log((col("n_total") + 1).cast("double") / (col("df") + 1)) + 1.0, 6))
      .select(col("tok"), col("idf"))

    val w = toks.join(broadcast(vocab), "tok")
      .groupBy(col("id"), col("tok"), col("idf"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("w", round(col("tf") * col("idf"), 6))
      .select(col("id"), col("tok"), col("w"))
    val dnorm = w.groupBy(col("id"))
      .agg(round(sqrt(sum(col("w") * col("w"))), 8).as("dn"))

    val seeds = base
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cls")).orderBy(col("id"))))
      .filter(col("rn") <= seedPerClass)
      .select(col("id"), col("cls"))
    val seedCounts = seeds.groupBy(col("cls")).agg(count(lit(1)).as("n_seed"))
    val centroids = w.join(seeds, "id").join(dnorm, "id")
      .withColumn("wn", col("w") / col("dn"))
      .groupBy(col("cls"), col("tok"))
      .agg(sum(col("wn")).as("swn"))
      .join(broadcast(seedCounts), "cls")
      .withColumn("cw", round(col("swn") / col("n_seed"), 6))
      .select(col("cls"), col("tok"), col("cw"))
    val cnorm = centroids.groupBy(col("cls"))
      .agg(round(sqrt(sum(col("cw") * col("cw"))), 8).as("cn"))

    val scored = w.join(broadcast(centroids), "tok")
      .groupBy(col("id"), col("cls"))
      .agg(sum(col("w") * col("cw")).as("dot"))
      .join(dnorm, "id")
      .join(broadcast(cnorm), "cls")
      .withColumn("score", round(col("dot") / (col("dn") * col("cn")), 6))
    val pred = scored.groupBy(col("id"))
      .agg(min(struct((-col("score")).as("ns"), col("cls"))).getField("cls")
        .as("pred"))

    base.select(col("id"), col("cls")).join(pred, Seq("id"), "left")
      .groupBy(col("cls"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("pred") === col("cls"), 1L).otherwise(0L)).as("n_correct"))
      .withColumnRenamed("cls", "source")
  }

  /** Character-n-gram multinomial naive Bayes LANGUAGE ID (the
    * fastText/langid.py recipe family, with a fully deterministic and
    * engine-replayable model): fit on a labeled slice, classify the
    * rest, report per-language test/predicted/correct counts.
    *
    *  1. train split = the first `trainPerClass` docs per label (by id);
    *  2. features = all overlapping character n-grams of lower(text)
    *     (a doc shorter than n contributes its whole text once in the
    *     fit counting — but see 3);
    *  3. vocabulary = top `vocabSize` FULL-LENGTH n-grams by train
    *     occurrence count (ties to the lexicographically smaller gram);
    *     shorter grams are excluded so windowed fit counting and the
    *     classify stage's automaton substring counting agree exactly;
    *  4. per-class add-one-smoothed log-likelihoods, QUANTIZED to
    *     integers — logp = round(ln((c+1)/(tot+V))·1e6) — so every
    *     downstream score is exact integer arithmetic: no
    *     addition-order float noise can flip an argmax or a hash;
    *  5. score(doc, lang) = prior + Σ_g cnt(doc,g)·logp(g,lang) over
    *     vocabulary grams; argmax with ties to the smaller label.
    *
    * Shape at 100 TB: the model (vocab × languages log-prob grid,
    * priors) is KB-scale and broadcast; corpus-side work is one n-gram
    * explode filtered against the broadcast vocabulary into map-side-
    * combinable (doc, gram) counts, one broadcast join to score, and a
    * per-doc min-struct argmax. The seed-ranking window partitions by
    * class and retains `trainPerClass` rows each.
    *
    * Returns (lang, n_test, n_pred, n_correct): per-language test-set
    * recall is n_correct/n_test, precision n_correct/n_pred.
    */
  def charNgramLangId(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      n: Int = 3,
      vocabSize: Int = 200,
      trainPerClass: Int = 20): DataFrame = {
    require(n >= 1 && vocabSize >= 1 && trainPerClass >= 1)
    val base = graft.ops.Par.widen(docs).select(col(idCol).cast("long").as("id"),
      col(labelCol).as("lang"), lower(col(textCol)).as("text"))
    val ranked = base.withColumn("rn",
      row_number().over(Window.partitionBy(col("lang")).orderBy(col("id"))))
    val train = ranked.filter(col("rn") <= trainPerClass).drop("rn")
    val test = ranked.filter(col("rn") > trainPerClass).drop("rn")

    def grams(text: org.apache.spark.sql.Column) =
      transform(
        sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
        i => text.substr(i, lit(n)))

    val counts = train
      .select(col("lang"), explode(grams(col("text"))).as("g"))
      .groupBy(col("g"), col("lang")).agg(count(lit(1)).as("c"))
    // vocabulary is over FULL n-grams only: a shorter gram (whole text
    // of a sub-n-length doc) would be counted as a windowed gram by the
    // fit but as a bare substring by the automaton classify — excluding
    // them keeps the two countings provably identical on every input
    val vocab = counts.filter(length(col("g")) === n)
      .groupBy(col("g")).agg(sum(col("c")).as("tc"))
      .orderBy(col("tc").desc, col("g")).limit(vocabSize).select("g")
    val vn = vocab.agg(count(lit(1)).as("V"))
    val langs = train.select(col("lang")).distinct()
    // full vocab × language grid so absent grams smooth to c=0
    val logp = vocab.crossJoin(langs)
      .join(counts, Seq("g", "lang"), "left").na.fill(0L, Seq("c"))
      .join(broadcast(counts.join(vocab, "g").groupBy(col("lang"))
        .agg(sum(col("c")).as("tot"))), "lang")
      .crossJoin(broadcast(vn))
      .withColumn("logp", round(log(
        (col("c") + 1).cast("double") / (col("tot") + col("V")).cast("double"))
        * 1e6).cast("long"))
      .select(col("g"), col("lang"), col("logp"))
    val prior = train.groupBy(col("lang")).agg(count(lit(1)).as("ntr"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("ntot"))))
      .withColumn("prior", round(log(
        col("ntr").cast("double") / col("ntot").cast("double")) * 1e6).cast("long"))
      .select(col("lang"), col("prior"))

    // Classify: ONE Aho–Corasick codegen pass counts every vocabulary
    // gram per doc (no explode, no per-gram shuffle — the r11 rework
    // that cut this stage's two corpus-wide shuffles), then each
    // language's score is a row-local dot product of the counts array
    // with the COLLECTED log-prob vector. The collects are model-scale
    // (vocab × langs longs + one prior per lang), the same budget as
    // the broadcast they replace; arithmetic is unchanged (integer
    // counts × quantized log-probs), so predictions are bit-identical.
    // Guard the grid size BEFORE collecting it: the model is vocabSize ×
    // distinct-language cells, documented KB-scale — an unvetted
    // high-cardinality label column would otherwise materialize an
    // unbounded grid on the driver. The language count comes from the
    // PRIOR collect (one row per language, bounded by label cardinality
    // over the trainPerClass-bounded training frame), which the function
    // needs anyway — no extra job.
    val priorMap = prior.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    require(vocabSize.toLong * priorMap.size <= 4000000L,
      s"model grid vocabSize=$vocabSize x languages=${priorMap.size} " +
        "exceeds the driver-collect budget (4e6 cells); shrink vocabSize " +
        "or reduce label cardinality")
    // empty input (no training docs at all) → empty report, not a throw:
    // an upstream filter legitimately produces zero rows
    if (priorMap.isEmpty) {
      import org.apache.spark.sql.types._
      return docs.sparkSession.createDataFrame(
        docs.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("lang", StringType),
          StructField("n_test", LongType),
          StructField("n_pred", LongType),
          StructField("n_correct", LongType))))
    }
    // ONE collect carries the whole model: the logp grid already holds
    // every (gram, lang) pair, so vocab and language list derive from it
    // without re-running the corpus ranking window two more times.
    val logpRows = logp.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val vocabGrams: Array[String] = logpRows.map(_._1).distinct.sorted
    val gIndex = vocabGrams.zipWithIndex.toMap
    val langsArr = logpRows.map(_._2).distinct.sorted
    val logpByLang: Map[String, Array[Long]] = langsArr.map { l =>
      val arr = new Array[Long](vocabGrams.length)
      logpRows.filter(_._2 == l).foreach { case (g, _, p) => arr(gIndex(g)) = p }
      l -> arr
    }.toMap
    // a doc with zero vocabulary grams (or null text) scores prior-only,
    // as the pre-automaton path did
    val scoreStructs = langsArr.map { l =>
      val score = lit(priorMap(l)) + (
        if (vocabGrams.isEmpty) lit(0L)
        else aggregate(
          zip_with(col("__cnt"), lit(logpByLang(l)), (c, p) => c * p),
          lit(0L), (a, x) => a + x))
      struct((-score).as("ns"), lit(l).as("lang"))
    }
    require(langsArr.nonEmpty || logpRows.isEmpty,
      "internal: languages derive from the logp grid")
    val allLangs: Seq[String] =
      if (langsArr.nonEmpty) langsArr.toSeq else priorMap.keys.toSeq.sorted
    val allStructs: Seq[org.apache.spark.sql.Column] = if (scoreStructs.nonEmpty) scoreStructs.toSeq
      else allLangs.map(l => struct((-lit(priorMap(l))).as("ns"), lit(l).as("lang")))
    val best = if (allStructs.size == 1) allStructs.head
      else least(allStructs: _*)
    val pred = test
      .withColumn("__cnt",
        if (vocabGrams.isEmpty) array().cast("array<long>")
        else graft.ops.TextOps.ahoCounts(
          coalesce(col("text"), lit("")), vocabGrams.toSeq))
      .select(col("id"), best.getField("lang").as("pred"))

    val joined = test.select(col("id"), col("lang")).join(pred, "id")
    val perTrue = joined.groupBy(col("lang")).agg(
      count(lit(1)).as("n_test"),
      sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
    val perPred = joined.groupBy(col("pred").as("lang"))
      .agg(count(lit(1)).as("n_pred"))
    perTrue.join(perPred, Seq("lang"), "full")
      .na.fill(0L, Seq("n_test", "n_pred", "n_correct"))
      .select(col("lang"), col("n_test"), col("n_pred"), col("n_correct"))
  }

  /** MODEL-BASED quality scoring, FineWeb-Edu/DCLM-shape with a fully
    * deterministic recipe: a multinomial Naive Bayes over HASHED token
    * features, distilled from the Gopher rule pack — rule verdicts label
    * the train split (`id % trainMod == 0`), the classifier is fit
    * distributively, and every held-out doc is scored in one pass; the
    * report is the held-out confusion matrix (distillation fidelity)
    * with exact integer score margins.
    *
    * Determinism, engineered end-to-end:
    *  - features hash into `dim` buckets with a positional codepoint
    *    hash `(Σ (cp_k + 1)·k) mod dim` — codepoint-based on BOTH
    *    engines (Spark `ascii(substring)` / DuckDB `unicode(substr)`),
    *    and hash COLLISIONS are part of the hashing-trick contract, so
    *    a simple replayable hash costs accuracy, never correctness;
    *  - log-likelihoods and priors quantize to integer MICRONATS via
    *    `floor(x·1e6 + 0.5)` (identical rounding on both engines), so
    *    every per-doc score is an exact integer sum — immune to
    *    float addition order across partitions.
    *
    * Shape at 100 TB: labels ride the token explode (no label join);
    * class count tables are `O(dim)` rows; the model is a broadcast
    * `dim`-row table joined once; scoring is one map-side-combinable
    * aggregate per doc. Driver state = 4 scalars + the model. Unseen
    * buckets fall back to the smoothed zero-count likelihood via
    * coalesce, keeping the model table sparse.
    */
  /** Gopher-labeled hashed-token features shared by the quality
    * classifiers (NB q200, perceptron q202): rule verdicts label every
    * doc, tokens hash into `dim` buckets with the positional codepoint
    * hash (identical on both engines), and the per-(doc, bucket) counts
    * are localCheckpoint-ed — the rule-pack + tokenize + hash + groupBy
    * pipeline feeds several downstream actions, and without truncation
    * each action re-runs the whole text pipeline (the q192 lesson:
    * persist() does not reliably barrier HOF-lambda plans). Returns
    * (labels, feats): `labels` is the text-free per-doc frame.
    */
  /** Positional-codepoint token hash into `dim` buckets — codepoint-
    * based on BOTH engines (Spark `ascii(substring)` / DuckDB
    * `unicode(substr)`), shared by the quality classifiers here and
    * [[graft.ops.Sampling.dsirSelect]].
    */
  private[ops] def tokenBucket(
      tok: org.apache.spark.sql.Column, dim: Int): org.apache.spark.sql.Column =
    (aggregate(
      transform(sequence(lit(1), length(tok)),
        k => (ascii(tok.substr(k, lit(1))).cast("long") + 1L) * k.cast("long")),
      lit(0L), (a, x) => a + x) % dim).cast("int")

  /** The labels frame is returned as a THUNK: localCheckpoint is eager,
    * so materializing it unconditionally would charge callers that never
    * read it (the perceptron scores from feats alone) a full wasted
    * rule-pack pass over the corpus.
    */
  private def gopherHashedFeatures(
      docs: DataFrame, idCol: String, textCol: String,
      dim: Int, trainMod: Int): (() => DataFrame, DataFrame) = {
    val labeled = graft.ops.TextOps.gopherFilter(
      graft.ops.Par.widen(docs).select(col(idCol).as("id"), col(textCol).as("text")), "id", "text")
      .select(col("id"), col("text"), col("kept").as("label"),
        (col("id") % trainMod === 0).as("is_train"))
    val toks = labeled
      .select(col("id"), col("label"), col("is_train"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val feats = Par.pin(toks
      .withColumn("b", tokenBucket(col("tok"), dim))
      .groupBy(col("id"), col("label"), col("is_train"), col("b"))
      .agg(count(lit(1)).as("cnt")))
    val labels = () => Par.pin( // text-free: 3 narrow columns per doc
      labeled.select(col("id"), col("label"), col("is_train")))
    (labels, feats)
  }

  def nbQualityHashed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int = 1024,
      trainMod: Int = 5): DataFrame = {
    val (labelsFn, feats) = gopherHashedFeatures(docs, idCol, textCol, dim, trainMod)
    val labels = labelsFn()

    // model-scale driver state: per-class token totals + train doc counts
    val trainFeats = feats.filter(col("is_train"))
    val totRow = trainFeats.agg(
      sum(when(col("label"), col("cnt")).otherwise(0L)).as("tp"),
      sum(when(!col("label"), col("cnt")).otherwise(0L)).as("tf")).collect()(0)
    val nPassTok = Option(totRow.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val nFailTok = Option(totRow.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val docRow = labels.filter(col("is_train")).agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("dp"),
      sum(when(!col("label"), 1L).otherwise(0L)).as("df")).collect()(0)
    val nPassDocs = Option(docRow.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val nFailDocs = Option(docRow.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    require(nPassDocs > 0 && nFailDocs > 0,
      s"train split must contain both classes (pass=$nPassDocs fail=$nFailDocs)")

    // integer micronats, floor(x*1e6 + 0.5) on every engine
    def quant(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    def llik(nCb: org.apache.spark.sql.Column, nTok: Long) =
      floor(log((nCb + 1).cast("double") / (nTok + dim).toDouble) * 1e6 + 0.5)
        .cast("long")
    val l0Pass = quant(math.log(1.0 / (nPassTok + dim)))
    val l0Fail = quant(math.log(1.0 / (nFailTok + dim)))
    val priorPass = quant(math.log(nPassDocs.toDouble / (nPassDocs + nFailDocs)))
    val priorFail = quant(math.log(nFailDocs.toDouble / (nPassDocs + nFailDocs)))

    val model = trainFeats.groupBy(col("b"))
      .agg(sum(when(col("label"), col("cnt")).otherwise(0L)).as("n_pass_b"),
        sum(when(!col("label"), col("cnt")).otherwise(0L)).as("n_fail_b"))
      .select(col("b"),
        llik(col("n_pass_b"), nPassTok).as("l_pass"),
        llik(col("n_fail_b"), nFailTok).as("l_fail"))

    // only held-out docs need scores — filtering BEFORE the model join
    // drops the train share of the join/agg work
    val scored = feats.filter(!col("is_train"))
      .join(broadcast(model), Seq("b"), "left")
      .withColumn("lp", coalesce(col("l_pass"), lit(l0Pass)))
      .withColumn("lf", coalesce(col("l_fail"), lit(l0Fail)))
      .groupBy(col("id"), col("label"))
      .agg((sum(col("cnt") * col("lp")) + priorPass).as("sp"),
        (sum(col("cnt") * col("lf")) + priorFail).as("sf"))
      .withColumn("pred", col("sp") > col("sf")) // tie breaks to fail
      .withColumn("margin", col("sp") - col("sf"))

    scored
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("margin")).as("margin_sum"))
      .orderBy(col("label"), col("pred"))
  }

  /** BATCH perceptron quality classifier over the same gopher-labeled
    * hashed features — the quantized-linear-model slot next to the NB
    * (a fixed-iteration analogue of the logistic-regression recipe, made
    * exactly replayable): integer weights, no learning-rate float, no
    * transcendental.
    *
    * Iteration t (batch form — each round is ONE map-side-combinable
    * aggregate over the train split, unlike the sequential classic):
    *   margin(d) = Σ_b cnt(d,b) · w[b]          (exact integer)
    *   misclassified: y(d) · margin(d) ≤ 0       (y = +1 pass / −1 fail)
    *   w'[b] = w[b] + Σ_misclassified y(d)·cnt(d,b)
    * Every quantity is an integer sum, so results are independent of
    * partitioning and float addition order, and a SQL oracle replays the
    * unrolled iterations exactly. Driver state per round: the ≤dim-entry
    * weight vector (broadcast back). Held-out docs score in one pass;
    * margin 0 predicts fail (the NB tie rule).
    */
  def perceptronQualityHashed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int = 1024,
      trainMod: Int = 5,
      iters: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (_, feats) = gopherHashedFeatures(docs, idCol, textCol, dim, trainMod)
    val train = feats.filter(col("is_train"))
      .withColumn("y", when(col("label"), 1L).otherwise(-1L))

    var w = Map.empty[Int, Long]
    (1 to iters).foreach { _ =>
      val wDf = if (w.isEmpty) Seq.empty[(Int, Long)].toDF("b", "w")
        else w.toSeq.toDF("b", "w")
      val mis = train.join(broadcast(wDf), Seq("b"), "left")
        .withColumn("wv", coalesce(col("w"), lit(0L)))
        .groupBy(col("id"), col("y"))
        .agg(sum(col("cnt") * col("wv")).as("margin"))
        .filter(col("y") * col("margin") <= 0)
        .select(col("id"), col("y").as("__y"))
      val upd = train.join(mis, Seq("id"))
        .groupBy(col("b"))
        .agg(sum(col("__y") * col("cnt")).as("delta"))
        .collect() // dim-scale: ≤ one row per feature bucket
      upd.foreach { r =>
        val b = r.getInt(0); val d = r.getLong(1)
        w = w.updated(b, w.getOrElse(b, 0L) + d)
      }
    }

    val wDf = if (w.isEmpty) Seq.empty[(Int, Long)].toDF("b", "w")
      else w.toSeq.toDF("b", "w")
    feats.filter(!col("is_train"))
      .join(broadcast(wDf), Seq("b"), "left")
      .withColumn("wv", coalesce(col("w"), lit(0L)))
      .groupBy(col("id"), col("label"))
      .agg(sum(col("cnt") * col("wv")).as("margin"))
      .withColumn("pred", col("margin") > 0) // margin 0 → fail
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("margin")).as("margin_sum"))
      .orderBy(col("label"), col("pred"))
  }

  /** χ² feature selection: the `topK` whitespace tokens most associated
    * with the `classCol` label (the classic vocabulary-selection step
    * before training a text classifier). `classes` must be the exact
    * label set — the per-class observed counts are pivoted into fixed
    * columns so the χ² sum runs over terms in ONE pinned order (double
    * addition is not associative; a GROUP BY over classes would leave
    * the term order engine-dependent).
    *
    * χ² = Σ_c (O_c − E_c)²/E_c with E_c = rowTotal·classTotal_c/N,
    * computed in doubles from exact integer counts; the ranking key is
    * `floor(1e6·χ²)` (bit-stable across engines), ties to the smaller
    * token.
    *
    * Shape at 100 TB: one tokenize-explode into a map-side-combinable
    * vocabulary-scale aggregate, ONE broadcast row of class totals, a
    * row-local χ² expression, and a TakeOrdered top-k — no window, no
    * second corpus pass.
    */
  def chiSquareTokens(
      docs: DataFrame,
      textCol: String,
      classCol: String,
      classes: Seq[String],
      topK: Int): DataFrame = {
    require(classes.nonEmpty && classes.distinct == classes,
      "classes must be a non-empty distinct label list")
    def oCol(c: String) = s"__o_$c"
    val counts = graft.ops.Par.widen(docs)
      .select(explode(split(col(textCol), " ")).as("__token"), col(classCol))
      .groupBy(col("__token"))
      .agg(classes.head match { case h =>
        sum(when(col(classCol) === h, 1L).otherwise(0L)).as(oCol(h))
      }, classes.tail.map(c =>
        sum(when(col(classCol) === c, 1L).otherwise(0L)).as(oCol(c))): _*)
    val totals = counts.agg(
      sum(col(oCol(classes.head))).as(s"__c_${classes.head}"),
      classes.tail.map(c => sum(col(oCol(c))).as(s"__c_$c")): _*)
    val withTot = counts.crossJoin(broadcast(totals))
    val rowTot = classes.map(c => col(oCol(c))).reduce(_ + _)
    val n = classes.map(c => col(s"__c_$c")).reduce(_ + _)
    val chi2 = classes.map { c =>
      val e = rowTot.cast("double") * col(s"__c_$c").cast("double") /
        n.cast("double")
      val d = col(oCol(c)).cast("double") - e
      d * d / e
    }.reduce(_ + _)
    withTot
      .select(col("__token").as("token"), rowTot.as("n_tok"),
        floor(chi2 * lit(1e6)).cast("long").as("chi2_micro"),
        round(chi2, 4).as("chi2"))
      .orderBy(col("chi2_micro").desc, col("token"))
      .limit(topK)
  }
}
