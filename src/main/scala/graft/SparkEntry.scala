package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] demonstrates one operator family from
  * SURVEY.md §2 (scans, filters/predicates, joins, aggregations, windows,
  * sorts/limits, set ops, scalar functions, streaming-shape queries over
  * `events`, and the beyond-reference LLM-pipeline operators over
  * `documents`/`embeddings`). Where ANSI-SQL-expressible, [[oracleSql]]
  * holds the DuckDB-equivalent query; column names are aligned exactly
  * (driver hash-compares after sorting columns by name).
  *
  * Scale notes (designed for 1000-executor / 100 TB, tested on local[32]):
  *  - dimension joins (region/nation/supplier/part/customer) are broadcast;
  *  - aggregates are expressed so map-side partial aggregation applies;
  *  - window top-k partitions by a key (never a global single-partition
  *    window except where the result itself is tiny and bounded);
  *  - money sums are rounded at output only (never mid-plan).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Drain an AvailableNow stream and FAIL LOUDLY on timeout — a
    * timed-out drain leaves a partially-filled memory sink and would
    * otherwise return a silently wrong (incomplete) answer.
    */
  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          "streaming drain timed out after 300 s — sink is incomplete")
    } finally q.stop()

  /** Some testdata generations store `events.ts` as TIMESTAMP(NANOS),
    * which Spark's parquet reader rejects by default; others store plain
    * TIMESTAMP(MICROS). Handle both: read nanos as long and convert with
    * integral `div` (true division promotes to double, which can't
    * represent ~1.7e18 ns exactly and rounds ±1µs vs DuckDB's truncating
    * ns→µs cast); pass a genuine timestamp column through unchanged.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normTs(s.read.parquet(s"$dir/events.parquet"))
  }

  /** Normalize an `events`-shaped frame's `ts` to TimestampType (LTZ
    * micros): long nanos → integral `div` (true division promotes to
    * double, which can't represent ~1.7e18 ns exactly and rounds ±1µs
    * vs DuckDB's truncating ns→µs cast); NTZ (isAdjustedToUTC=false
    * parquet) → LTZ cast — sessions run UTC, so epoch micros are
    * preserved exactly. Shared by the batch reader above and the
    * streaming readers (watermarks need a genuine TimestampType).
    */
  private def normTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Reads lineitem through the graft sharing layer (registry → log replay
    * → FileIndex with stats skipping → HadoopFsRelation) and runs a
    * pricing-summary aggregate — the SURVEY.md §7.2 end-to-end slice.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q21_share_snapshot_scan")(spark, "/root/testdata/sf0.001")

  /** Read a table through the sharing layer (builds the share on first
    * use; rows are identical to the source fixture so oracles stay valid).
    */
  private def sharedTable(s: SparkSession, dir: String, name: String): DataFrame = {
    graft.log.SharedFixtures.ensure(s, dir)
    s.read.format("graft")
      .option("table", s"${graft.log.SharedFixtures.SHARE}.$name").load()
  }

  // ---------------------------------------------------------------------
  // Operator queries. Names sorted roughly by SURVEY §2 order.
  // ---------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 Aggregation: TPC-H Q1-style pricing summary. Map-side partial
    // agg on (returnflag, linestatus): 6 groups — shuffle is negligible.
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice")), 0).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("sum_disc_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // §2.2 Filter + single-row aggregate (TPC-H Q6-style). The predicate
    // reaches the parquet scan as PushedFilters.
    "q02_revenue_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 0).as("revenue"))
    }),

    // §2.3 Join (broadcast dim): revenue per region through a 6-table
    // star join. region/nation/supplier/customer are broadcast-sized.
    "q03_star_join_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      val su = broadcast(t(s, dir, "supplier"))
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // §2.3 Join + §2.4: order-priority revenue (lineitem ⋈ orders).
    "q04_join_priority" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"),
          countDistinct(col("o_orderkey")).cast("long").as("n_orders"))
    }),

    // §2.3 Left semi join: customers that have at least one order.
    "q05_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    }),

    // §2.3 Left anti join: customers with no orders since 2000-01-01.
    "q06_anti_join" -> ((s, dir) => {
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      t(s, dir, "customer")
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    }),

    // §2.3 Left outer join + conditional count: order-count histogram.
    "q07_outer_join_histogram" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_customers"))
    }),

    // §2.5 Window top-k: top 3 orders per priority (deterministic
    // tiebreak on orderkey). Partitioned window — scales by key.
    "q08_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("totalprice"), col("rn").cast("long").as("rn"))
    }),

    // §2.5 Window running aggregate: cumulative spend per customer.
    "q09_window_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 0).as("cum_spend"))
    }),

    // §2.5 Sort + limit with deterministic tiebreak (top 100 orders).
    "q10_topk_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("totalprice"))
    }),

    // §2.5 Set ops: UNION / INTERSECT / EXCEPT over customer key sets,
    // reduced to one deterministic summary row each.
    "q11_set_ops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val b = c.filter(col("c_acctbal") < 0).select(col("c_custkey"))
      val u = a.union(b).distinct.agg(count(lit(1)).as("n")).withColumn("op", lit("union"))
      val i = a.intersect(b).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
      val e = a.except(b).agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
      u.union(i).union(e)
    }),

    // §2.4 Distinct aggregate per group.
    "q12_distinct_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).cast("long").as("n_custs"),
          count(lit(1)).as("n_orders"))
    }),

    // §2.6 String scalar functions over part.
    "q13_string_funcs" -> ((s, dir) => {
      t(s, dir, "part")
        .select(upper(substring(col("p_brand"), 1, 5)).as("brand_prefix"),
          length(col("p_name")).cast("long").as("name_len"))
        .groupBy(col("brand_prefix"))
        .agg(sum(col("name_len")).as("total_len"), count(lit(1)).as("n"))
    }),

    // §2.6 Date/time scalar functions: orders per (year, month).
    "q14_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"))
        .groupBy(col("y"), col("m"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // §2.6 CASE expression: price-band histogram.
    "q15_case_expr" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("high").as("band"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"))
    }),

    // §2.2 IN + BETWEEN predicates.
    "q16_in_between" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_quantity").between(10, 20))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("sum_qty"))
    }),

    // §2.8/T11 Event-time tumbling window (batch shape of the streaming
    // query): 10-minute buckets per event_type.
    "q17_event_time_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("long").as("bucket_start"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // Beyond-reference §7.1.8: exact dedup stats over documents.
    "q18_dedup_exact_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(countDistinct(col("text")).cast("long").as("distinct_docs"),
          count(lit(1)).as("total_docs"))
    }),

    // Beyond-reference: token statistics per language (whitespace tokens).
    "q19_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .groupBy(col("lang"))
        .agg(sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("n_tokens")), 2).as("avg_tokens"),
          max(col("n_tokens")).as("max_tokens"))
    }),

    // Beyond-reference: top-20 most frequent tokens. explode → partial
    // agg; orderBy().limit() plans as TakeOrderedAndProject (per-partition
    // heaps + tiny driver merge) — no global single-partition window, so
    // the plan survives a billions-of-distinct-tokens corpus.
    "q20_word_freq_topk" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
        .select(col("word"), col("cnt"))
    }),

    // §2.1 S1/S5/S6 + §2.2 P4/P8: snapshot scan through the sharing layer
    // (log replay → stats skipping → parquet). Rows match the fixture, so
    // the oracle runs on the original table.
    "q21_share_snapshot_scan" -> ((s, dir) => {
      sharedTable(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
          col("l_quantity") >= 30)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"))
    }),

    // §2.2 P1: partition pruning on the hive-partitioned shared orders
    // table (o_year partition directories; only 1997 is listed).
    "q22_share_partition_prune" -> ((s, dir) => {
      sharedTable(s, dir, "orders")
        .filter(col("o_year") === 1997)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 0).as("total"))
    }),

    // §2.5 O2/O3: LIMIT pushed through the Catalyst rule into the
    // FileIndex (lists just enough files to cover 1234 rows).
    "q23_share_limit_pushdown" -> ((s, dir) => {
      sharedTable(s, dir, "lineitem").limit(1234)
        .agg(count(lit(1)).as("n"))
    }),

    // §2.1 Table version / time travel: versionAsOf=1 of the 3-commit
    // versioned orders table = orders before 1999-01-01.
    "q24_share_time_travel" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.read.format("graft")
        .option("table", s"${graft.log.SharedFixtures.SHARE}.orders_versioned")
        .option("versionAsOf", "1").load()
        .select(year(col("o_orderdate")).cast("long").as("y"))
        .groupBy(col("y"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // Beyond-reference: content-addressed exact dedup via normalized-text
    // md5 fingerprint (TextOps.fingerprint ∘ Dedup.exactDedup).
    "q25_dedup_fingerprint" -> ((s, dir) => {
      graft.ops.Dedup.exactDedup(
        t(s, dir, "documents"), "doc_id", graft.ops.TextOps.fingerprint(col("text")))
    }),

    // Beyond-reference: text profile — language-ID (marker-word argmax)
    // + quality scoring, aggregated per predicted language.
    "q26_text_profile" -> ((s, dir) => {
      graft.ops.TextOps.profile(t(s, dir, "documents"))
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("quality")), 3).as("avg_quality"),
          sum(col("n_tokens")).as("total_tokens"))
    }),

    // Beyond-reference: near-dup pairs, exact output — candidates from
    // the prefix filter ALONE (provably complete at the threshold),
    // verified with exact shingle Jaccard, so the emitted rows are
    // EXACTLY all pairs ≥ 0.7 and the DuckDB all-pairs oracle
    // hash-matches. The probabilistic MinHash generator is benched
    // separately as q93 so each generator's cost is attributed honestly.
    "q27_minhash_near_dup" -> ((s, dir) => {
      graft.ops.Dedup.nearDuplicatesExact(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // Beyond-reference: the PROBABILISTIC generator on its own —
    // MinHash-LSH band candidates verified with exact Jaccard. Output is
    // a subset of q27 with band-curve recall. The PORTABLE md5 hash
    // family makes the banding engine-independent, so the DuckDB oracle
    // replays candidate generation bit-for-bit and the full hash check
    // applies (the xxhash64 family stays spec-tested in OpsSpec).
    "q93_minhash_lsh_near_dup" -> ((s, dir) => {
      graft.ops.Dedup.nearDuplicatesLshPortable(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // Beyond-reference: INCREMENTAL dedup admission — an incoming batch
    // (doc_id % 10 ∈ {8,9}) admitted against the standing corpus without
    // ever self-joining the corpus. Complete candidates + exact verify ⇒
    // deterministic admitted set; DuckDB replays it with all-pairs
    // Jaccard and the same keep-min-id drop rule.
    "q94_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 10 < 8),
        docs.filter(col("doc_id") % 10 >= 8),
        "doc_id", "text", threshold = 0.7)
        .select(col("doc_id"))
    }),

    // Beyond-reference: SimHash near-dup pairs. Portable 32-bit SimHash
    // (md5-nibble top bits — recomputable in any engine) + pigeonhole
    // chunk candidates complete for Hamming ≤ 3 ⇒ output is exactly every
    // pair within the radius; DuckDB recomputes the signatures.
    "q28_simhash_near_dup" -> ((s, dir) => {
      graft.ops.Dedup.simHashPortableDuplicates(
        t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),

    // Beyond-reference: exact cosine top-3 neighbors for the first 5
    // query vectors — codegen'd native kernel + per-query window top-k;
    // DuckDB list_cosine_similarity is the oracle.
    "q29_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.bruteForceTopK(queries, corpus, 3)
        .withColumn("sim", round(col("sim"), 3))
    }),

    // Beyond-reference: ANN via deterministic banded sign-bit LSH —
    // candidates share ≥ 1 of 4 four-bit sign bands with the query, then
    // exact cosine top-3. The bucketing uses only float comparisons, so
    // the DuckDB oracle replicates it exactly (seeded-hyperplane LSH
    // stays as the spec-tested alternative in Similarity.lshTopK).
    "q30_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.signLshTopK(queries, corpus, 3)
        .withColumn("sim", round(col("sim"), 3))
    }),

    // Beyond-reference: multimodal pipeline — binary payloads + metadata
    // struct → per-partition batched decode → per-format aggregation.
    // png/bmp payloads are REAL encoded images (JDK ImageIO) and wav
    // payloads REAL RIFF/WAVE PCM (JDK sampled audio) whose decoded
    // histograms the oracle recomputes from the deterministic pixel /
    // sample generators (lossless codecs make decode(encode) the
    // identity); only mp4 stays opaque bytes under the byte-histogram
    // stub. Features are de-normalized back to integer sample counts
    // (exact in float) so the hash compare is bitwise-stable.
    "q31_multimodal_features" -> ((s, dir) => {
      val assets = graft.ops.Multimodal.toAssets(t(s, dir, "documents"))
      val feats = graft.ops.Multimodal.extractFeatures(assets, dim = 16)
      val npix = (graft.ops.Multimodal.IMG_W * graft.ops.Multimodal.IMG_H).toLong
      feats.toDF()
        .join(assets.toDF().select(col("asset_id"), col("meta.nBytes").as("nb")), "asset_id")
        .withColumn("denom",
          when(col("format").isin("png", "bmp"), lit(npix))
            .when(col("format") === "wav",
              lit(graft.ops.Multimodal.WAV_SAMPLES.toLong))
            .otherwise(greatest(col("nb"), lit(1L))))
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n_assets"),
          sum(round(element_at(col("features"), 1) * col("denom")))
            .cast("long").as("f0_count"))
    }),

    // Beyond-reference: multimodal RESIZE — real ImageIO decode,
    // explicit nearest-neighbor sampling (output (x,y) reads source
    // (x·W/w', y·H/h') — no interpolation), lossless re-encode. 8x8 →
    // 4x4 keeps exactly the even-coordinate pixels, so the oracle
    // recomputes each resized image's mean gray straight from the
    // deterministic pixel generator.
    "q135_multimodal_resize" -> ((s, dir) => {
      val s2 = s
      import s2.implicits._
      val assets = graft.ops.Multimodal.toAssets(t(s, dir, "documents"))
        .filter(a => a.meta.format == "png" || a.meta.format == "bmp")
      val resized = graft.ops.Multimodal.resizeAssets(assets, 4, 4)
      resized.map(a => (a.asset_id, a.meta.format, a.meta.width, a.meta.height,
          graft.ops.Multimodal.meanGray(a.payload)))
        .toDF("asset_id", "format", "width", "height", "mean_gray")
        .select(col("asset_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_gray"), 4).as("mean_gray"))
    }),

    // Beyond-reference: embedding near-dup pairs via deterministic
    // sign-band candidates + exact cosine verify — fully oracle-checked.
    // (The fixture's max pairwise cosine is ~0.51, so the threshold is
    // 0.45 to exercise a non-empty result.)
    "q32_embedding_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.ops.Similarity.signEmbeddingDuplicates(emb, threshold = 0.45)
        .select(col("id_a"), col("id_b"), round(col("sim"), 3).as("sim"))
    }),

    // §2.8 T1-T5/T9: Structured Streaming through the graft source —
    // snapshot-then-tail over the 4-commit events table, complete-mode
    // aggregation into a memory sink; the final state must equal the
    // batch aggregate, which is what the oracle checks.
    "q33_stream_agg" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q33_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft").option("path", path)
        .option("maxFilesPerTrigger", "8").load()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink)
    }),

    // §2.1 S4 CDF: row-level change feed over the insert/insert/delete/
    // update history of orders_cdf; cdc-priority per version means the
    // rewrite versions surface only their update/delete rows.
    "q34_share_cdf" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.orders_cdf")
      graft.log.GraftCDF.tableChanges(s, path, 0)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // Beyond-reference: char-5-gram Jaccard near-dups; prefix-filter
    // candidates over the same ngram space make the output exactly every
    // pair ≥ 0.6 (DuckDB all-pairs oracle).
    "q35_ngram_jaccard_dedup" -> ((s, dir) => {
      graft.ops.Dedup.ngramJaccardDuplicates(
        t(s, dir, "documents"), "doc_id", "text", n = 5, threshold = 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // §2.1 S4 + §3.3: CDF through the DataSource option — same history as
    // q34 but via `readChangeFeed`/`startingVersion` options and the
    // PrunedFilteredScan relation (reference `RemoteDeltaCDFRelation`).
    "q37_cdf_option" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.orders_cdf")
      s.read.format("graft").option("path", path)
        .option("readChangeFeed", "true").option("startingVersion", "0").load()
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // §2.8 T10: CDF STREAMING — the change feed consumed as a stream with
    // atomic per-version batches, aggregated in the sink; final state must
    // equal the batch CDF, which the oracle checks.
    "q38_cdf_stream" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.orders_cdf")
      val sink = "graft_q38_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft").option("path", path)
        .option("readChangeFeed", "true").option("startingVersion", "0").load()
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink)
    }),

    // Beyond-reference: BPE-ish subword tokenization (GPT-2-shaped
    // regexp, RE2-compatible so the oracle reproduces the exact token
    // stream) — token counts per language.
    "q39_bpe_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          graft.ops.TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .groupBy(col("lang"))
        .agg(sum(col("n_bpe")).as("total_bpe"),
          round(avg(col("n_bpe")), 2).as("avg_bpe"),
          max(col("n_bpe")).as("max_bpe"))
    }),

    // Beyond-reference: rolling-hash (Rabin–Karp) document fingerprints —
    // fold of acc*31+ascii mod p over the normalized text, grouped into
    // content-addressed dedup stats like q25 but with an engine-neutral
    // polynomial hash instead of md5.
    "q40_rolling_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), graft.ops.TextOps.rollingFingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))
    }),

    // §2.8 T10 over REST: remote CDF STREAMING — the same change feed as
    // q38 but consumed from the sharing server's /changes endpoint with
    // atomic per-version admission, row bytes flowing through graft://
    // pre-signed URLs; final state must equal the batch CDF oracle.
    "q42_cdf_stream_rest" -> ((s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      val sink = "graft_q42_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", s"${graft.log.SharedFixtures.SHARE}.orders_cdf")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .option("queryTableVersionIntervalSeconds", "0")
        .load()
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink)
    }),

    // Beyond-reference: IVF-Flat ANN over a FIXED coarse quantizer — the
    // first 4 corpus vectors serve as deterministic centroids (k-means
    // training isn't engine-reproducible; the probe/score path is shared
    // with the trained ivfTopK), each query probes its 2 nearest cells by
    // L2, exact cosine top-3 within the probed cells. DuckDB replicates
    // the assignment (ties to the lower cell) and probing exactly.
    "q41_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val centroids = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
      graft.ops.Similarity.ivfTopKWithCentroids(queries, corpus, centroids,
        k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 3))
    }),

    // Beyond-reference: SQ8 scalar-quantized ANN — per-dimension [lo,hi]
    // bounds learned in one pass, each float32 stored as a uint8 code (4x
    // smaller candidate scan), asymmetric scoring on the reconstruction,
    // exact rerank on the refine·k survivors. Codes are bit-identical in
    // DuckDB (same round/clamp arithmetic), so the oracle replays the
    // whole quantize → score → rerank cascade.
    "q111_sq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.sqTopK(queries, corpus, k = 3, refine = 4)
        .withColumn("sim", round(col("sim"), 3))
    }),

    // Beyond-reference: IVF-SQ8 — the composed FAISS layout. Cells prune
    // WHICH rows each query scans (nprobe/nlist of the corpus), SQ8 codes
    // shrink HOW MUCH each scanned row costs, exact rerank on the
    // refine·k survivors. The oracle replays assignment, probing,
    // quantization, and both ranking passes.
    "q114_ivf_sq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val centroids = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
      graft.ops.Similarity.ivfSqTopK(queries, corpus, centroids,
        k = 3, nprobe = 2, refine = 4)
        .withColumn("sim", round(col("sim"), 3))
    }),

    // Beyond-reference: PQ-ADC ANN (Jégou et al. 2011) — per-subspace
    // codebooks from one deterministic Lloyd step, corpus encoded to
    // m-int codes (pure codegen, no shuffle), asymmetric-distance
    // scoring via per-query lookup tables (m table reads per candidate,
    // no per-dimension arithmetic at scan time), exact rerank on the
    // refine·k survivors. The oracle replays training, encoding, LUT,
    // ADC fold, and both ranking passes.
    "q128_pq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.pqTopK(queries, corpus, dim = 64,
        k = 3, m = 4, ks = 8, refine = 4)
        .withColumn("sim", round(col("sim"), 3))
    }),

    // Beyond-reference: PCA top-component projection — quantized-sum
    // mean/covariance passes (map-side-combinable, dim^2 cells of
    // shuffled state whatever the corpus size), deterministic power
    // iteration (fixed start, fixed 3 iterations, round-8 matvecs) on
    // the collected dim^2 matrix, then one codegen projection scan. The
    // oracle replays the fit and the projection exactly.
    "q131_pca_projection" -> ((s, dir) => {
      graft.ops.Pca.pc1(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", dim = 64, iters = 3)
        .orderBy(col("pc1").desc, col("vec_id"))
        .limit(10)
    }),

    // Beyond-reference: IVF-PQ over cell RESIDUALS (the composed FAISS
    // layout, Jégou et al. 2011 §IV): cells prune WHICH rows are scanned
    // (nprobe/nlist), residual PQ codes shrink HOW MUCH each scanned row
    // costs (m table lookups via a per-(query, cell) LUT), exact rerank
    // on refine·k survivors. The oracle replays assignment, residuals,
    // codebook training, encoding, probing, ADC, and both rankings.
    "q130_ivf_pq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val centroids = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
      graft.ops.Similarity.ivfPqTopK(queries, corpus, centroids, dim = 64,
        k = 3, m = 4, ks = 8, nprobe = 2, refine = 4)
        .withColumn("sim", round(col("sim"), 3))
    }),

    // Beyond-reference: near-dup PAIRS → dedup CLUSTERS. The q27 edge set
    // is closed into connected components with alternating large-star /
    // small-star (O(log^2 n) shuffle rounds, diameter-independent); every
    // doc gets the min reachable doc_id as its cluster label. DuckDB
    // verifies via a recursive-CTE transitive closure.
    "q43_dedup_clusters" -> ((s, dir) => {
      // prefix-only candidates: provably complete, so the MinHash union
      // leg (exercised by q27) would be pure redundant work here
      val pairs = graft.ops.Dedup.nearDuplicatesExact(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
      graft.ops.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("node").cast("long").as("doc_id"),
          col("component").cast("long").as("component"))
    }),

    // Beyond-reference: Gopher-style repetition quality signals — unique-
    // token ratio, top-token fraction (longest equal run over the sorted
    // token array: a codegen fold, no explode/shuffle), duplicate-bigram
    // fraction. All pure column arithmetic, replicated exactly in SQL.
    "q44_repetition_signals" -> ((s, dir) => {
      val T = graft.ops.TextOps
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          T.tokenCount(col("text")).cast("long").as("n_tokens"),
          round(T.uniqueTokenRatio(col("text")), 4).as("uniq_ratio"),
          round(T.topTokenFraction(col("text")), 4).as("top_token_frac"),
          round(T.dupBigramFraction(col("text")), 4).as("dup_bigram_frac"))
    }),

    // Advanced reader feature: DELETION VECTORS applied on the read path —
    // nation_dv deleted region-2 rows via a DV (no data file rewritten);
    // the scan filters them with a broadcast-bitmap codegen predicate, so
    // the oracle is simply the original table minus the deleted predicate.
    "q45_dv_scan" -> ((s, dir) => {
      sharedTable(s, dir, "nation_dv")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    }),

    // Advanced reader feature: COLUMN MAPPING (name mode) — customer_cm's
    // parquet columns/partition dirs carry `col-<uuid>` physical names;
    // the scan renames to logical names and partition-prunes on the
    // physical directories, so logical-name SQL over the original table
    // is the oracle.
    "q46_column_mapping_scan" -> ((s, dir) => {
      sharedTable(s, dir, "customer_cm")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 0).as("total_acctbal"))
    }),

    // Beyond-reference: the CURATION PIPELINE composed end-to-end —
    // quality score + language ID + unique-token repetition signal +
    // exact-dedup representative (min doc_id per content fingerprint),
    // folded into per-language keep/drop counts. One scan, one window
    // shuffle on the fingerprint, map-side-combinable final aggregate.
    "q51_curation_pipeline" -> ((s, dir) => {
      val T = graft.ops.TextOps
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      val profiled = t(s, dir, "documents")
        .withColumn("quality", T.qualityScore(col("text")))
        .withColumn("pred_lang", T.langId(col("text")))
        .withColumn("uniq_ratio", T.uniqueTokenRatio(col("text")))
        .withColumn("fp", T.fingerprint(col("text")))
        .withColumn("rep", col("doc_id") === min(col("doc_id")).over(w))
      val kept = col("quality") >= 0.5 && col("uniq_ratio") >= 0.4 &&
        col("pred_lang") =!= "und" && col("rep")
      profiled.groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"))
    }),

    // Beyond-reference: block-level boilerplate removal (the CCNet line-
    // dedup family on fixed 10-token blocks): blocks appearing in ≥2
    // distinct docs are boilerplate; every doc is rewritten without them.
    // Document frequency shuffles 16-byte md5 hashes (never block text)
    // and reassembly is a per-doc sort_array — no corpus-wide window.
    "q52_block_dedup" -> ((s, dir) => {
      graft.ops.Dedup.blockBoilerplate(
        t(s, dir, "documents"), "doc_id", "text", blockTokens = 10, minDf = 2L)
    }),

    // Beyond-reference: PII redaction — per-doc match counts + redacted-
    // text fingerprint, patterns restricted to the Java∩RE2 dialect so
    // the oracle replays them exactly. The corpus has no organic PII, so
    // the query plants a deterministic email/IP/phone per doc first —
    // the redaction chain is pure codegen regexp_replace at scan speed.
    "q53_pii_redaction" -> ((s, dir) => {
      val aug = t(s, dir, "documents").withColumn("text2",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7 call 555-01"),
          lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0")))
      graft.ops.TextOps.piiProfile(aug, "doc_id", "text2")
    }),

    // Beyond-reference: SemDeDup — cluster-scoped semantic dedup over
    // embeddings with FIXED centroids (vec_id<8, the q41 determinism
    // trick): within-cell pairs only, exact cosine, keep the min-id
    // survivor per duplicate group. τ=0.45 sits ≥1e-3 from every pair at
    // the gate SF, so float-vs-double kernels can't flip a verdict.
    "q54_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
      graft.ops.Similarity.semanticDuplicates(
        emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
        centroids, threshold = 0.45)
        .select(col("id").as("vec_id"), col("cell"), col("dup_of"), col("kept"))
    }),

    // Beyond-reference: quality-threshold calibration — per-language
    // EXACT percentiles of the quality score (the cut points a curation
    // pipeline derives before filtering), plus how many docs survive the
    // p25 cut. Percentile tables are group-count-sized → broadcast back.
    "q55_quality_calibration" -> ((s, dir) => {
      val T = graft.ops.TextOps
      val prof = t(s, dir, "documents")
        .withColumn("pred_lang", T.langId(col("text")))
        .withColumn("quality", T.qualityScore(col("text")))
      val pct = prof.groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("__n"),
          percentile(col("quality"), lit(0.25)).as("__p25"),
          percentile(col("quality"), lit(0.5)).as("__p50"),
          percentile(col("quality"), lit(0.9)).as("__p90"))
      prof.join(broadcast(pct), "pred_lang")
        .groupBy(col("pred_lang"))
        .agg(first(col("__n")).as("n_docs"),
          round(first(col("__p25")), 6).as("p25"),
          round(first(col("__p50")), 6).as("p50"),
          round(first(col("__p90")), 6).as("p90"),
          sum(when(col("quality") >= col("__p25"), 1L).otherwise(0L)).as("n_keep"))
    }),

    // Beyond-reference: training-mix weighting — per (source, lang)
    // corpus stats with sqrt-scaled sampling weights (the standard
    // square-root temperature mix), normalized against the broadcast
    // total. One map-side-combinable agg over the corpus; the group
    // table is tiny at any scale.
    "q56_mix_weights" -> ((s, dir) => {
      val g = t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.ops.TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .withColumn("__w", sqrt(col("n_tokens").cast("double")))
      val tot = g.agg(sum(col("__w")).as("__tw"))
      g.crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          round(col("__w") / col("__tw"), 6).as("mix_weight"))
    }),

    // Beyond-reference: as-of (point-in-time) join — each purchase is
    // attributed to the user's most recent click at-or-before it. Spark
    // has no as-of operator (a range join plans as BNL); this is the
    // scalable union + running-last trick: ONE shuffle by key, streaming
    // window, no range cross-product. DuckDB verifies with its native
    // ASOF LEFT JOIN.
    "q57_asof_attribution" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), unix_micros(col("ts")).as("click_us"))
      graft.ops.AsofJoin.asofJoin(purchases, clicks,
        Seq("user_id"), "ts", "click_ts", Seq("click_id", "click_us"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"), col("click_id"), col("click_us"))
    }),

    // §2.5/§2.8 adjacent: sessionization — Spark's native session_window
    // (merging gap-based sessions inside one aggregation, no self-join)
    // vs the oracle's gaps-and-islands SQL. Adjacent same-user gaps sit
    // ≥0.6 s from the 30-min cut at every SF, so the strict-vs-inclusive
    // boundary and µs-vs-ns precision can't flip a session split.
    "q58_sessionization" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"), unix_micros(col("sw.start")).as("session_start_us"),
          col("n_events"), col("sum_value"))
    }),

    // Beyond-reference: HyperLogLog distinct-user estimate per event
    // type — portable md5-prefix hash + integer-numerator harmonic sum,
    // so the oracle replays the registers bit-for-bit. Map-side
    // combinable max-per-register: only m=64 rows per group shuffle.
    "q59_hll_distinct" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.ops.Sketches.hllDistinct(ev, Seq("event_type"), "user_id", p = 8)
        .join(ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_distinct")), Seq("event_type"))
        .select(col("event_type"), round(col("hll_estimate"), 3).as("hll_estimate"),
          col("exact_distinct"))
    }),

    // Beyond-reference: band join — same-user event pairs within one
    // hour, bucketed-interval equi-join (≤2 exploded buckets per left
    // row) instead of Spark's BroadcastNestedLoop range-join plan.
    "q60_band_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val a = ev.select(col("user_id"), col("event_type").as("type_a"),
        unix_micros(col("ts")).as("t_a"))
      val b = ev.select(col("user_id"), col("event_type").as("type_b"),
        unix_micros(col("ts")).as("t_b"))
      graft.ops.BandJoin.bandJoin(a, b, Seq("user_id"), "t_a", "t_b",
        lo = 0L, hi = 3600L * 1000000L)
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // Beyond-reference: KMV (bottom-k) distinct sketch — k smallest
    // portable hashes per group; the (k−1)·2^60/h_k estimate is
    // bit-deterministic, so no rounding is needed for the oracle.
    "q61_kmv_distinct" -> ((s, dir) => {
      graft.ops.Sketches.kmvDistinct(t(s, dir, "events"),
        Seq("event_type"), "user_id", k = 64)
    }),

    // §2.4-adjacent: hierarchical aggregation — ROLLUP(nation, year)
    // revenue with grouping_id disambiguating subtotal levels. One
    // shuffle; Spark expands grouping sets map-side.
    "q62_rollup_revenue" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .select(col("n_name"), year(col("o_orderdate")).cast("long").as("yr"),
          col("o_totalprice"))
        .rollup(col("n_name"), col("yr"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          grouping_id().cast("long").as("gid"))
    }),

    // §2.4-adjacent: pivot — revenue per nation spread across the five
    // order priorities (explicit value list ⇒ no extra pass to discover
    // pivot values; plans as one aggregate with conditional sums).
    "q63_pivot_priority" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(round(sum(col("o_totalprice")), 2))
        .select(col("n_name"), col("1-URGENT").as("p_urgent"),
          col("2-HIGH").as("p_high"), col("3-MEDIUM").as("p_medium"),
          col("4-NOT SPECIFIED").as("p_notspec"), col("5-LOW").as("p_low"))
    }),

    // §2.5-adjacent: EXACT distributed quantiles — value at rank
    // ⌈q·n⌉ per group; ranks use integer arithmetic
    // ((n·p + q − 1) div q), so no float ceil() can disagree across
    // engines. (approx_percentile exists in Spark but its t-digest isn't
    // engine-reproducible.) The rank is DISTRIBUTED (the dictionary-rank
    // pattern from ops/Dedup.featureTables): range-partition on
    // (group, value) so every partition sorts only its slice, rank
    // locally per (partition, group), then add per-(group, partition)
    // exclusive-prefix-sum offsets via a ≤ groups×partitions-row
    // broadcast. A `Window.partitionBy(rf)` would be 3 reducers each
    // sorting ⅓ of the table at 100×; here no single task ever sees
    // more than one range slice.
    "q64_exact_quantiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("price"))
      graft.ops.Quantiles.withGroupRank(li, Seq("rf"), Seq("price"))
        .groupBy(col("rf")).agg(
          max(when(col("__rn") === expr("(__n + 3) div 4"), col("price"))).as("p25"),
          max(when(col("__rn") === expr("(__n + 1) div 2"), col("price"))).as("p50"),
          max(when(col("__rn") === expr("(3*__n + 3) div 4"), col("price"))).as("p75"),
          max(when(col("__rn") === expr("(9*__n + 9) div 10"), col("price"))).as("p90"))
    }),

    // §2.5-adjacent: exact equi-depth histogram — SQL NTILE semantics
    // over the same distributed rank (ops.Quantiles), with a unique
    // (orderkey, linenumber) tiebreaker so bucket membership at value
    // ties is engine-reproducible; the oracle replays it with a literal
    // ntile() window.
    "q86_equidepth_histogram" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("price"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
      graft.ops.Quantiles.equiDepthHistogram(
        li, Seq("rf"), "price", Seq("price", "ok", "ln"), buckets = 8)
    }),

    // §2.3-adjacent: salted equi-join — skew-mitigation shape whose
    // output must be EXACTLY the plain join's (the oracle runs the
    // unsalted join). Probe salt spreads hot keys over 8 buckets;
    // build side replicated ×8.
    "q65_salted_join" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      graft.ops.SkewJoin.saltedJoin(
        o.select(col("o_custkey").as("custkey"), col("o_totalprice")),
        c.select(col("c_custkey").as("custkey"), col("c_mktsegment")),
        Seq("custkey"), saltBy = col("o_totalprice"), buckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 0).as("revenue"))
    }),

    // Beyond-reference: BM25 keyword retrieval (Lucene-shaped idf) —
    // inverted-index plan: term filter pushed to the scan, postings-only
    // shuffles, broadcast df/corpus stats, fixed-order contribution sum
    // so the oracle replays the floats exactly.
    "q66_bm25_search" -> ((s, dir) => {
      graft.ops.Bm25.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "spark"), k = 10)
    }),

    // §2.1 S2: the kernel columnar scan — the second, independent read
    // path over the same graft log (DataSource V2, vectorized parquet
    // ColumnarBatch, typed pushdown hooks). The quantity/returnflag filter
    // reaches the scan as pushed filters (file-level stats skip + parquet
    // row-group skip); only the 4 referenced columns are read. Rows match
    // the fixture, so the oracle runs on the original table.
    "q67_kernel_scan" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.read.format("graft-kernel")
        .option("table", s"${graft.log.SharedFixtures.SHARE}.lineitem").load()
        .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 0).as("total_price"))
    }),

    // Beyond-reference: ordered conversion funnel view→click→purchase —
    // single pass, per-user sorted-fold progression (no per-stage
    // self-joins); integer ts*8+stage encoding keeps the fold
    // engine-reproducible.
    "q68_funnel" -> ((s, dir) => {
      graft.ops.Analytics.funnel(events(s, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
    }),

    // Beyond-reference: weekly retention cohorts (first-event week ×
    // week offset × distinct active users) — absolute integer week
    // indexes; both shuffles land on the user key.
    "q69_retention_cohorts" -> ((s, dir) => {
      graft.ops.Analytics.retentionCohorts(events(s, dir), "user_id", "ts")
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Beyond-reference: count-min sketch frequency estimates — d×w
    // additive cells via one explode+groupBy (state bounded at d·w rows
    // total, the 100 TB heavy-hitter shape); probe the 10 smallest
    // user_ids and compare nothing — the estimate IS the checked output
    // (deterministic fixed-prime hashing).
    "q70_cms_frequency" -> ((s, dir) => {
      val ev = events(s, dir)
      val sketch = graft.ops.Sketches.cmsSketch(ev, "user_id")
      graft.ops.Sketches.cmsEstimate(
        sketch, ev.select(col("user_id")).filter(col("user_id") < 10).distinct(),
        "user_id")
    }),

    // Beyond-reference: Misra-Gries heavy hitters — a native mergeable
    // TypedImperativeAggregate with bounded state (at most `capacity`
    // counters per partial), so only KB-sized summaries shuffle, never
    // the key space. The flag|ship-month key has ~250 distinct values at
    // ANY scale factor (3 flags x the fixed 1992-98 month range), so
    // capacity=512 keeps the counters exact and the oracle is a plain
    // GROUP BY; the approximate-regime guarantees (presence above
    // N/(cap+1), bounded undercount) are property-tested in OpsSpec.
    "q112_heavy_hitters" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(concat_ws("|", col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM")).as("k"))
      graft.ops.Sketches.heavyHitters(li, "k", capacity = 512, topK = 10)
    }),

    // Beyond-reference: per-group quantiles via the KLL sketch — a
    // native mergeable TypedImperativeAggregate whose partials retain
    // O(capacity) values per group regardless of group size, so only
    // KB-scale level arrays shuffle (the 100 TB alternative to a full
    // per-group sort). capacity=512 >= any per-lang count at the
    // correctness SF, so no compaction fires and the sketch IS
    // percentile_disc exactly; the approximate-regime rank-error bound
    // is property-tested in OpsSpec.
    "q127_quantile_sketch" -> ((s, dir) => {
      graft.ops.Sketches.groupQuantiles(
        t(s, dir, "documents"), Seq("lang"), "n_chars",
        capacity = 512, probs = Seq(0.25, 0.5, 0.75, 0.95))
        .select(col("lang"),
          element_at(col("qs"), 1).as("q25"),
          element_at(col("qs"), 2).as("q50"),
          element_at(col("qs"), 3).as("q75"),
          element_at(col("qs"), 4).as("q95"))
    }),

    // Beyond-reference: PMI word-pair co-occurrence over the top-40
    // vocabulary — corpus reduced to (doc, vocab-word) before the
    // bounded per-document self-join; broadcast vocab + doc count.
    "q71_pmi_cooccurrence" -> ((s, dir) => {
      graft.ops.Analytics.pmiPairs(t(s, dir, "documents"),
        "doc_id", "text", vocabSize = 40, topK = 20)
    }),

    // Beyond-reference: benchmark decontamination — corpus docs sharing
    // ≥5 distinct 3-gram shingles with the "benchmark" pool (doc_id<20).
    // Broadcast pool + one corpus explode + map-side-combinable count:
    // the corpus is scanned once, its rows never shuffled.
    "q50_contamination_screen" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.contaminationScreen(
        docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20),
        "doc_id", "text", n = 3, minOverlap = 5L)
        .select(col("id").as("doc_id"), col("n_shared"))
    }),

    // Beyond-reference: deterministic stratified sampling for training
    // mixes — content-addressed Bernoulli per stratum (md5-bucket string
    // compare), so the sample is identical across runs, engines, and
    // cluster sizes; a pure scan predicate, zero shuffle.
    "q48_stratified_sample" -> ((s, dir) => {
      val keep = graft.ops.Sampling.stratifiedKeep(
        col("doc_id"), col("lang"),
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.125), default = 0.0625)
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(keep, 1L).otherwise(0L)).as("n_sampled"))
    }),

    // Beyond-reference: token-budget shard packing — docs pack greedily
    // into ~5000-token shards per source via a per-stratum prefix-sum
    // window (parallel across sources, no global sort).
    "q49_token_shards" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.ops.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Packing.packByBudget(docs, "source", "doc_id", "n_tokens", budget = 5000L)
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"))
    }),

    // Beyond-reference: concat-and-chunk sequence packing — 2048-token
    // context windows per source, docs straddle window boundaries; one
    // row per window with doc/fragment/token accounting. Pure
    // window-cumsum + per-doc range explode; DuckDB replays it with the
    // same running sum and generate_series.
    "q95_sequence_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.ops.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Packing.packSequences(docs, "source", "doc_id", "n_tokens", seqLen = 2048L)
    }),

    // §2.1 S4 + S15: CDF DERIVED FROM DELETION VECTORS — nation_dv_cdf's
    // delete history is pure DV commits (no cdc files, no file rewrites);
    // the change feed diffs each file's old/new bitmap: v1 = region-2
    // rows, v2 = only the NEWLY-set bits of the merged DV (regionkey>2,
    // NOT the region-2 rows already deleted at v1). The oracle replays
    // the delete predicates over the original table.
    "q96_cdf_dv_changes" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.nation_dv_cdf")
      graft.log.GraftCDF.tableChanges(s, path, 0)
        .select(col("n_nationkey"), col("n_name"),
          col(graft.log.GraftCDF.CHANGE_TYPE).as("change_type"),
          col(graft.log.GraftCDF.COMMIT_VERSION).as("commit_version"))
    }),

    // §2.1 S4 + beyond-reference: INCREMENTAL aggregate maintenance over
    // the Change Data Feed — the aggregate state at version 1 (after the
    // two inserts) is refreshed with only the CDF rows of the delete and
    // update commits, never rescanning the table. Equals, by construction,
    // a full recompute over the final snapshot (what the oracle runs).
    "q72_cdf_incremental_agg" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val share = graft.log.SharedFixtures.SHARE
      val base = s.read.format("graft")
        .option("table", s"$share.orders_cdf").option("versionAsOf", "1").load()
      val changes = graft.log.GraftCDF.tableChanges(
        s, graft.log.GraftCatalog.location(s"$share.orders_cdf"), 2)
      graft.ops.Incremental.maintainAggregate(
        base, changes, keys = Seq("o_orderstatus"), sums = Seq("o_totalprice"))
        .select(col("o_orderstatus"), col("n_rows").as("n_orders"),
          round(col("sum_o_totalprice"), 2).as("sum_price"))
    }),

    // Beyond-reference: bloom-prefiltered EXACT semi-join — the selective
    // build side is folded into a bloom_filter_agg scalar subquery, the
    // probe side is pruned by might_contain BEFORE the join exchange, and
    // the real semi-join removes the false positives, so the result is
    // byte-identical to the plain semi-join the oracle runs.
    "q73_bloom_semi_join" -> ((s, dir) => {
      val hot = t(s, dir, "orders").filter(col("o_totalprice") > lit(450000.0))
      graft.ops.BloomJoin.bloomSemiJoin(
        t(s, dir, "lineitem"), hot, "l_orderkey", "o_orderkey",
        expectedItems = 100000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
    }),

    // Beyond-reference: LM context-window chunking — 32-token windows
    // sliding by 24 (8-token overlap); spans come from one codegen
    // transform over a sequence of offsets, so the chunker is a pure
    // narrow map over the corpus scan (zero shuffle before the explode).
    "q74_token_chunks" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("__toks"))
      docs.select(col("doc_id"),
        explode(graft.ops.TextOps.tokenChunks(col("__toks"), chunkTokens = 32, stride = 24))
          .as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.n_tok").as("n_tok"), col("c.first_tok").as("first_tok"))
    }),

    // Beyond-reference: deterministic WEIGHTED sampling without
    // replacement (Efraimidis–Spirakis race keys over content-addressed
    // uniforms) — quality/length-weighted corpus sampling whose result is
    // identical on every engine; top-k by race key is
    // TakeOrderedAndProject, never a global sort.
    "q79_weighted_sample" -> ((s, dir) => {
      graft.ops.Sampling.weightedSample(
        t(s, dir, "documents"), col("doc_id"), col("n_chars").cast("double"), k = 50)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    }),

    // Beyond-reference: per-language weighted sample — k race winners
    // within every stratum via one stratum-partitioned window (parallel
    // across strata; the training-mix "n docs per language, weighted by
    // length" selector).
    "q80_stratified_weighted_sample" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedWeightedSample(
        t(s, dir, "documents"),
        col("doc_id"), col("n_chars").cast("double"), col("lang"), k = 10)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    }),

    // Beyond-reference writer op, read path under test: OPTIMIZE-style
    // compaction — the fixture wrote 8 fragmented files then compacted
    // them under a dataChange=false commit; the scan lands on the
    // consolidated snapshot and rows are exactly the logical content.
    "q78_compacted_scan" -> ((s, dir) => {
      // balances summed in integer mils (3 decimals is exact for the
      // fixture's halved 2-decimal values) — addition-order-proof
      sharedTable(s, dir, "supplier_compacted")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(round(col("s_acctbal") * 1000).cast("long")).as("total_bal_mils"))
    }),

    // §2.7 extension point: shared tables as first-class SQL names via the
    // TableCatalog plugin (DSv2 kernel scan underneath; VERSION/TIMESTAMP
    // AS OF resolve through the log). Rows identical to the fixture, so
    // the oracle runs on the raw table.
    "q77_sql_catalog" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftSparkCatalog].getName)
      s.sql(
        s"""SELECT l_linestatus, count(*) AS n,
           |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
           |FROM graft.${graft.log.SharedFixtures.SHARE}.lineitem
           |WHERE l_orderkey < 500
           |GROUP BY l_linestatus""".stripMargin)
    }),

    // Beyond-reference: event-flow PageRank — per-user transition edges
    // (windowed lag, partitioned by user) row-normalized into a Markov
    // matrix, ranked by a FIXED 3-step power iteration where ranks and
    // edges stay DataFrames (one equi-join + one combinable groupBy per
    // step; nothing collected), so the same code ranks a 100M-node
    // item-transition graph.
    "q76_event_pagerank" -> ((s, dir) => {
      val edges = graft.ops.Analytics.eventTransitions(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.pageRank(edges, damping = 0.85, iterations = 3)
        .select(col("node").as("event_type"), round(col("rank"), 6).as("rank"))
    }),

    // Beyond-reference: perplexity-style quality scoring — per-doc mean
    // unigram surprisal under the corpus's own token distribution (the
    // CCNet LM-filter shape, engine-reproducible because the "LM" is the
    // corpus itself).
    "q75_unigram_surprisal" -> ((s, dir) => {
      graft.ops.TextOps.unigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").cast("long").as("doc_id"), col("n_tokens"),
          round(col("surprisal"), 3).as("surprisal"))
    }),

    // Advanced reader features over REST: the parquet dialect refuses the
    // DV table with the protocol's typed 400, the client renegotiates
    // responseformat=delta;readerfeatures=..., reads parquet bytes via
    // graft:// pre-signed URLs, fetches the served DV descriptor's
    // pre-signed .bin and filters deleted rows with the broadcast bitmap.
    "q47_dv_rest_scan" -> ((s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      s.read.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", s"${graft.log.SharedFixtures.SHARE}.nation_dv").load()
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    }),

    // §2.9 + §2.1 S5/S6/S11: the FULL sharing loop over HTTP — an
    // in-process REST server lists/signs files, the client FileIndex
    // pushes the filter as a jsonPredicateHint, and scan tasks read
    // parquet bytes through graft:// → pre-signed URLs → HTTP Range
    // requests. Rows are identical to the fixture, so the oracle runs on
    // the original table.
    "q36_rest_snapshot_scan" -> ((s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      s.read.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", "share1.default.lineitem").load()
        .filter(col("l_orderkey") < 1000 && col("l_discount") > 0.05)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"))
    }),

    // Real Delta Lake interop (DeltaLogCompat): orders_delta carries a
    // genuine _delta_log (JSON commits + parquet checkpoint at v2 +
    // _last_checkpoint; no _graft_log). Snapshot-at-latest replays the
    // checkpoint plus the tail commit — the layout every real Delta
    // writer produces (reference loads tables exclusively through
    // DeltaLog.forTable, DeltaSharedTable.scala:83-86).
    "q81_delta_snapshot_scan" -> ((s, dir) => {
      sharedTable(s, dir, "orders_delta")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 0).as("total"))
    }),

    // Delta interop time travel: versionAsOf=1 is BELOW the parquet
    // checkpoint, so resolution must fall back to pure commit replay —
    // state after the append, before the delete/update.
    "q82_delta_time_travel" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.read.format("graft")
        .option("table", s"${graft.log.SharedFixtures.SHARE}.orders_delta")
        .option("versionAsOf", "1").load()
        .select(year(col("o_orderdate")).cast("long").as("y"))
        .groupBy(col("y"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // Delta interop CDF: the cdc/add/remove actions parsed from Delta
    // commit JSON drive the same row-level change feed as graft commits
    // (delta.enableChangeDataFeed in the Delta metaData configuration).
    "q83_delta_cdf" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.orders_delta")
      graft.log.GraftCDF.tableChanges(s, path, 0)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // Delta interop over REST: the sharing server replays the Delta log,
    // signs the files, and the client scans them through graft:// — the
    // full reference serving topology (real Delta table → share server →
    // Spark connector) in one query.
    "q84_delta_rest_scan" -> ((s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      s.read.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", "share1.default.orders_delta").load()
        .filter(col("o_totalprice") > 300000)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 0).as("total"))
    }),

    // §2.8-adjacent: streaming DEDUPLICATION — Spark's stateful
    // dropDuplicates chained into a streaming aggregate (two stateful
    // operators in one query). The dedup key set makes the final count
    // order-independent, so the batch oracle replays it exactly.
    "q87_stream_dedup" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q87_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft").option("path", path)
        .option("maxFilesPerTrigger", "8").load()
        .dropDuplicates("user_id", "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink)
    }),

    // §2.8-adjacent: CUSTOM streaming state via
    // KeyValueGroupedDataset.mapGroupsWithState — a per-user event
    // counter folded commutatively across micro-batches; the final state
    // (max update per user) equals the batch groupBy, which the oracle
    // replays as a count histogram.
    "q88_stream_custom_state" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q88_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft").option("path", path)
        .option("maxFilesPerTrigger", "8").load()
        .select(col("user_id").as[Long])
        .groupByKey(identity[Long])
        .mapGroupsWithState[Long, (Long, Long)](
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (user, events, state) =>
            val n = state.getOption.getOrElse(0L) + events.size
            state.update(n)
            (user, n)
        }
        .toDF("user_id", "n_events")
        .writeStream.format("memory").queryName(sink).outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      // update mode emits one row per (user, batch); the final state is
      // the max — aggregate the sink into the per-count user histogram
      s.table(sink)
        .groupBy(col("user_id")).agg(max(col("n_events")).as("cnt"))
        .groupBy(col("cnt")).agg(count(lit(1)).as("n_users"))
    }),

    // Beyond-reference SQL DML: the full UPDATE + MERGE INTO round-trip
    // through Spark's row-level-operation planner (group-based
    // copy-on-write; candidate files chosen by stats, only they are
    // rewritten). Final state is pure SQL over orders, so the oracle
    // replays it exactly: keys < 500 get price+1000, then MERGE zeroes
    // keys in [250, 750) and inserts sentinel rows for [5000, 5500).
    "q92_sql_update_merge" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftSparkCatalog].getName)
      val share = graft.log.SharedFixtures.SHARE
      val scratch = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_sqldml"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      graft.log.GraftLog.invalidateListing(scratch)
      graft.log.GraftCatalog.unregister(s"$share.scratch_sqldml")
      s.sql(s"""CREATE TABLE graft.$share.scratch_sqldml
                LOCATION '$scratch' AS
                SELECT o_orderkey, o_totalprice AS price
                FROM graft.$share.orders WHERE o_orderkey < 2000""")
      s.sql(s"UPDATE graft.$share.scratch_sqldml SET price = price + 1000 " +
        s"WHERE o_orderkey < 500")
      s.sql(s"""MERGE INTO graft.$share.scratch_sqldml t
                USING (SELECT o_orderkey, o_totalprice FROM graft.$share.orders
                       WHERE o_orderkey >= 250 AND o_orderkey < 750
                          OR o_orderkey >= 5000 AND o_orderkey < 5500) s
                ON t.o_orderkey = s.o_orderkey
                WHEN MATCHED THEN UPDATE SET price = 0.0
                WHEN NOT MATCHED THEN INSERT (o_orderkey, price)
                VALUES (s.o_orderkey, -1.0)""")
      s.sql(s"SELECT o_orderkey, round(price, 2) AS price " +
        s"FROM graft.$share.scratch_sqldml")
    }),

    // Beyond-reference: SQL DELETE under the delta DV contract, served
    // back through the catalog's V1Scan fallback — the DELETEs write
    // deletion vectors (zero data-file rewrites; the second merges into
    // the first's DVs), and the SQL-name read applies them scan-side. A
    // resurrected row, lost survivor, or double-applied DV flips the
    // aggregate.
    // §2.8 T10 over the DELTA dialect: remote STREAMING of a
    // DV-maintained shared table. The parquet dialect refuses the table
    // (DV adds are unrepresentable), the source renegotiates
    // responseformat=delta, and every micro-batch applies merge-on-read
    // DV filtering — the streamed aggregate equals the plain batch
    // predicate the oracle runs. maxFilesPerTrigger=1 forces multiple
    // batches so admission control and the per-version memo are on the
    // tested path.
    "q117_remote_dv_stream" -> ((s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      val sink = "graft_q117_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", s"${graft.log.SharedFixtures.SHARE}.nation_dv")
        .option("maxFilesPerTrigger", "1")
        .option("queryTableVersionIntervalSeconds", "0")
        .load()
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink)
    }),

    // Beyond-reference: hybrid retrieval — the BM25 keyword list (q66's
    // shuffle-free corpus scan) fused with the embedding-cosine list
    // (q29's broadcast plan) by Reciprocal Rank Fusion. Both rank lists
    // and the integer-denominator fusion are engine-reproducible, so the
    // oracle replays retrieval AND fusion exactly.
    "q119_hybrid_retrieval" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).toArray
      graft.ops.Similarity.hybridTopK(
        t(s, dir, "documents"), "doc_id", "text",
        emb, "vec_id", "embedding",
        queryTerms = Seq("hash", "join", "spark"), queryVec = qv,
        k = 10, poolSize = 20)
    }),

    // Beyond-reference: the dedup AUDIT REPORT every curation run ships —
    // per-source document counts, how many were dropped as non-best
    // near-dup cluster members, and the duplicate rate. Composition of
    // the keep-best cascade with one broadcast-back join + groupBy.
    "q126_dedup_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = graft.ops.Dedup.dedupKeepBest(docs, "doc_id", "text",
        quality = octet_length(col("text")).cast("long"), threshold = 0.7)
        .select(col("doc_id").as("__kept_id"))
      docs.join(kept, docs("doc_id") === col("__kept_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__kept_id").isNull, 1L).otherwise(0L)).as("n_dropped"),
          round(sum(when(col("__kept_id").isNull, 1.0).otherwise(0.0)) /
            count(lit(1)), 4).as("dup_rate"))
    }),

    // Beyond-reference: winnowing fingerprints (the MOSS local
    // fingerprinting rule) — every shared substring of length ≥ k+w−1
    // yields a shared fingerprint at expected density 2/(w+1). Pure
    // row-local codegen (hash + window argmin), md5-based so selection
    // replays bit-for-bit in the oracle.
    "q125_winnowing" -> ((s, dir) => {
      // bind the fingerprint array once per row (lambda variable) — a
      // shared Column would re-inline the whole winnowing tree at each
      // of the three references below
      val summary = element_at(transform(
        array(graft.ops.TextOps.winnowing(col("text"))), fps =>
          struct(
            size(fps).cast("long").as("n_fps"),
            aggregate(fps, lit(0L), (a, x) => a + x.getField("fp")).as("fp_sum"),
            element_at(fps, 1).getField("pos").cast("long").as("first_pos"))), 1)
      t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), summary.as("r"))
        .select(col("doc_id"), col("r.n_fps").as("n_fps"),
          col("r.fp_sum").as("fp_sum"), col("r.first_pos").as("first_pos"))
    }),

    // Beyond-reference: cluster-representative dedup — near-dup clusters
    // keep their LONGEST member (argmax bytes, ties to the smaller id),
    // the keep-best rule production pipelines apply instead of keep-min-
    // id. Exact cascade + components + one struct-max per component.
    "q124_dedup_keep_best" -> ((s, dir) => {
      graft.ops.Dedup.dedupKeepBest(
        t(s, dir, "documents"), "doc_id", "text",
        quality = octet_length(col("text")).cast("long"),
        threshold = 0.7)
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"))
    }),

    // Beyond-reference: BPE merge induction over the corpus (tokenizer
    // FIT, Sennrich et al. 2016) — deterministic merge table from the
    // word-frequency collapse; vocabulary-scale rounds, 1-row argmax
    // collects. The DuckDB oracle replays all 8 fold-re-segmentation
    // rounds with MATERIALIZED per-round CTEs: each round recounts
    // adjacent symbol pairs over the sentinel-coded words, takes the
    // same (freq desc, l, r) argmax, and applies the merge as the same
    // literal sentinel replace the engine's q129 encoder uses. OpsSpec's
    // hand-computed canonical corpus additionally pins the algorithm.
    "q123_bpe_merges" -> ((s, dir) => {
      graft.ops.TextOps.bpeMerges(t(s, dir, "documents"), "text", numMerges = 8)
    }),

    // Beyond-reference: degree assortativity (Newman 2002) — Pearson
    // correlation of endpoint degrees over the interaction graph;
    // integer sums, one closed-form float step.
    "q145_assortativity" -> ((s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.degreeAssortativity(edges)
    }),

    // Beyond-reference: synchronous label-propagation communities
    // (Raghavan 2007) over the interaction graph — 3 deterministic
    // rounds of most-frequent-neighbor-label, ties to the smallest;
    // per round one equi-join + two map-side-combinable aggregates.
    "q146_label_propagation" -> ((s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.labelPropagation(edges, rounds = 3)
    }),

    // Beyond-reference: event-volume anomaly days — per-type daily
    // counts z-scored against the trailing 7 rows (exact integer
    // window sums into a closed-form variance, identical doubles on
    // both engines); the feed-went-dark / feed-doubled monitor.
    "q147_volume_anomaly" -> ((s, dir) => {
      graft.ops.Analytics.countAnomalies(
        events(s, dir), "event_type", "ts", trailing = 7, minTrail = 3)
        .filter(abs(col("zscore")) >= 1.5)
    }),

    // Beyond-reference: edit-distance near-dup pairs under
    // (length-band, first-token) blocking — prefix-80 Levenshtein ≤ 20
    // on pairs within 40 chars of each other's length sharing their
    // first token; banded-DP codegen verify on deduped candidates.
    "q148_editdist_near_dup" -> ((s, dir) => {
      graft.ops.Dedup.editDistanceNearDup(
        t(s, dir, "documents"), "doc_id", "text",
        prefixLen = 80, maxDist = 20, bandWidth = 40)
    }),

    // Beyond-reference: out-of-vocabulary rate per source vs the
    // corpus' own top-20 token vocabulary — the tokenizer-fit
    // diagnostic; distributed top-N, broadcast vocab, one agg.
    "q149_oov_rate" -> ((s, dir) => {
      graft.ops.TextOps.oovRate(
        t(s, dir, "documents"), "source", "text", vocabSize = 20)
    }),

    // Beyond-reference: inter-arrival regularity (bot/scraper
    // heuristic) — coefficient of variation of per-user event gaps
    // from exact integer second sums; metronomic = cv < 0.5.
    "q150_bot_regularity" -> ((s, dir) => {
      graft.ops.Analytics.interArrivalRegularity(
        events(s, dir), "user_id", "ts", "event_id",
        minEvents = 5, cvThreshold = 0.5)
        .orderBy(col("cv"), col("user_id")).limit(20)
    }),

    // Beyond-reference: STREAMING LSH near-dup admission — row-local
    // md5-family MinHash band buckets (no groupBy, legal on an
    // unbounded stream), then flatMapGroupsWithState keyed by bucket
    // tracking the min doc_id seen; a doc is admitted iff it is the
    // first arrival in EVERY one of its bands. Version order = doc_id
    // order in the fixture, so the stream's "first seen" equals the
    // batch min(doc_id) the oracle replays.
    "q152_stream_lsh_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q152_sink"
      s.catalog.dropTempView(sink)
      // startingVersion=0: replay version-by-version (commit order =
      // doc_id order in this fixture) — the no-option snapshot path
      // would order the initial batch's files by PATH, which is not
      // doc_id order, and admission is order-dependent by definition
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val buckets = graft.ops.Dedup.streamBandBuckets(src, "doc_id", "text")
        .select(col("doc_id").cast("long"), col("band").cast("int"), col("bh"))
        .as[(Long, Int, String)]
      val verdicts = buckets
        .groupByKey(r => (r._2, r._3))
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (_, rows, state) =>
            graft.ops.Incremental.admitFirstArrival(rows.map(_._1).toArray, state)
        }
        .toDF("doc_id", "first_in_bucket")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("doc_id"))
        .agg(min(col("first_in_bucket")).as("admitted"),
          count(when(col("first_in_bucket"), 1)).as("n_first"))
    }),

    // Beyond-reference: STREAMING PERCEPTUAL image dedup admission —
    // q152's first-arrival state machine with the image cascade's dHash
    // bands as the buckets: assets decode IN-STREAM (stateless
    // mapPartitions, the real-codec shape), each image enters its four
    // 16-bit band buckets, and an image is admitted iff it is the first
    // arrival in EVERY band — the crawl-frontier screen that drops a
    // mirrored image before it is ever stored. Version order = doc_id
    // order in this fixture (the q152 argument), so the oracle replays
    // admission as min-id-per-bucket over the generator-derived bands.
    "q198_stream_image_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q198_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val buckets = graft.ops.Multimodal.perceptualHashes(
        graft.ops.Multimodal.toAssets(src))
        .select(col("asset_id").as("doc_id"),
          posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
            .as(Seq("band", "v")))
        .as[(Long, Int, Int)]
      val verdicts = buckets
        .groupByKey(r => (r._2, r._3))
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (_, rows, state) =>
            graft.ops.Incremental.admitFirstArrival(rows.map(_._1).toArray, state)
        }
        .toDF("doc_id", "first_in_bucket")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("doc_id"))
        .agg(min(col("first_in_bucket")).as("admitted"),
          count(when(col("first_in_bucket"), 1)).as("n_first"))
    }),

    // Beyond-reference: ISO-BMFF (mp4) CONTAINER manifest + mirror
    // detection without a codec — the structural layer under the one
    // remaining multimodal stub. Every doc becomes a REAL mp4 container
    // (ftyp + chunked mdat + full moov sample tables, 256+ samples —
    // the realistic count); parsing resolves per-sample absolute byte
    // ranges through stsc/stco/stsz/stts and signs each sample's mdat
    // range. Assets sharing a content key are re-muxed mirrors; grouping
    // by sha-256 OF the ordered signature chain finds them — a CONSTANT-
    // WIDTH (64-char) shuffle key at any sample count, where the raw
    // chain would be a multi-KB key on a real 10³–10⁵-sample container.
    // The chain only exists transiently inside the per-asset aggregation
    // (keyed by asset_id, fixed width); if any offset in the chunk-
    // mapping composition were wrong, the signatures (recomputed by the
    // oracle from the generator formula alone) would not hash-match.
    // Plan: two map-side-combinable aggregations, zero joins — candidate
    // volume bounded by distinct container content, the q189/q193
    // representative posture.
    "q199_video_container_dedup" -> ((s, dir) => {
      val manifest = graft.ops.Multimodal.videoManifest(
        graft.ops.Multimodal.videoAssets(t(s, dir, "documents"),
          baseSamples = 256))
      val perAsset = manifest
        .groupBy(col("asset_id"))
        .agg(
          countDistinct(col("track_id")).as("n_tracks"),
          min(col("codec")).as("codec"),
          min(col("timescale")).as("timescale"),
          count(lit(1)).as("n_samples"),
          sum(col("sample_bytes")).as("total_bytes"),
          sum(col("sample_ticks")).as("total_ticks"),
          sum(col("signature")).as("sig_sum"),
          sort_array(collect_list(struct(col("sample_idx"), col("signature"))))
            .as("chain"))
        .withColumn("chain_hash", sha2(concat_ws(",", expr(
          """transform(chain, x -> concat(cast(x.sample_idx as string),
            |':', cast(x.signature as string)))""".stripMargin)), 256))
        .drop("chain")
      perAsset.groupBy(col("chain_hash"))
        .agg(min(col("asset_id")).as("group_id"),
          count(lit(1)).as("n_assets"),
          first(col("n_tracks")).as("n_tracks"),
          first(col("codec")).as("codec"),
          first(col("timescale")).as("timescale"),
          first(col("n_samples")).as("n_samples"),
          first(col("total_bytes")).as("total_bytes"),
          first(col("total_ticks")).as("total_ticks"),
          first(col("sig_sum")).as("sig_sum"))
        .drop("chain_hash")
        .orderBy(col("group_id"))
    }),

    // Beyond-reference: MODEL-BASED quality scoring (the FineWeb-Edu /
    // DCLM slot) — hashed-token multinomial Naive Bayes distilled from
    // the Gopher rule pack: rules label the id%5==0 train split, the
    // classifier fits distributively (O(dim) count tables, integer-
    // micronat likelihoods), and held-out docs score in one broadcast-
    // join pass. Report = held-out confusion matrix with exact integer
    // margin sums; every float rounds identically on both engines
    // (floor(x*1e6+0.5)), so scores are order-free integer sums.
    "q200_nb_quality_classifier" -> ((s, dir) =>
      graft.ops.Classify.nbQualityHashed(
        t(s, dir, "documents"), "doc_id", "text")),

    // Beyond-reference: BATCH PERCEPTRON quality classifier — the
    // quantized linear-model slot next to q200's NB, exactly replayable
    // because every quantity is an integer sum (no learning-rate float,
    // no transcendental): three batch rounds, each one map-side-
    // combinable aggregate over the train split, weights broadcast back.
    // Integer margins make results independent of partitioning and
    // addition order; the oracle unrolls the three rounds in SQL.
    "q202_perceptron_quality" -> ((s, dir) =>
      graft.ops.Classify.perceptronQualityHashed(
        t(s, dir, "documents"), "doc_id", "text")),

    // Beyond-reference: STREAMING video-mirror admission — the q198
    // first-arrival state machine with the ISO-BMFF container signature
    // as the bucket: assets are encoded and PARSED in-stream (stateless
    // mapPartitions, the real-container shape; 256+ samples per
    // container), each container enters one bucket keyed by the sha-256
    // of its ordered sample-signature chain — a CONSTANT-WIDTH state-
    // store key at any sample count (the raw chain would grow the state
    // key multi-KB on real containers) — and an asset is admitted iff
    // it is the bucket's first arrival — the crawl-frontier screen that
    // drops a re-uploaded video before its frames are ever stored, no
    // codec involved. Version order = doc_id order in this fixture, so
    // the oracle replays admission as min-doc_id per content key.
    "q203_stream_video_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q203_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val buckets = graft.ops.Multimodal.videoSignatures(
        graft.ops.Multimodal.videoAssets(src.select(col("doc_id")),
          baseSamples = 256))
        .select(col("asset_id").as("doc_id"), col("chain_hash").as("bucket"))
        .as[(Long, String)]
      val verdicts = buckets
        .groupByKey(_._2)
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (_, groupRows, state) =>
            graft.ops.Incremental.admitFirstArrival(groupRows.map(_._1).toArray, state)
        }
        .toDF("doc_id", "admitted")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("admitted"))
        .agg(count(lit(1)).as("n_assets"), min(col("doc_id")).as("min_id"))
    }),

    // Beyond-reference: DSIR importance-resampling data selection (Xie
    // et al. 2023) — score every raw doc by the integer-micronat
    // log-ratio of its hashed-token features under the target-domain
    // (lang='de') vs raw distributions, keep the top 10% of raw docs.
    // One hash scan (target flag rides the explode), O(dim) broadcast
    // model, rank-threshold selection (exact distributed rank, keep
    // rank <= K) — never a single-partition window, no Int-capped
    // limit(), driver cost flat in K.
    "q204_dsir_selection" -> ((s, dir) =>
      graft.ops.Sampling.dsirSelect(
        t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "de")),

    // Beyond-reference: HTML boilerplate extraction (trafilatura-style
    // deterministic tag walk) — a crawl corpus starts from HTML, and the
    // quality pack wants the article text, not the chrome. Every doc
    // becomes a synthetic page (link-dense nav/footer/ads chrome around
    // 8-word content paragraphs, every 5th paragraph link-wrapped — the
    // q199 generator pattern), the extractor keeps blocks with >= 5
    // words and link density <= 1/3, and the per-language report rolls
    // up extraction-rate metrics plus a content-length quality gate
    // (>= 40 extracted words) over the extracted text. The oracle
    // recomputes expected extraction from the generator formula alone —
    // if the parser miscounted a block, misattributed a linked word, or
    // leaked chrome into content, the word sums would not match. Plan:
    // one stateless parse pass per page (O(bytes), no shuffle until the
    // 5-group rollup).
    // Beyond-reference: BOILERPLATE-INVARIANT CRAWL DEDUP — the reason
    // extraction runs BEFORE dedup: the same article re-hosted under
    // different site chrome (every 7th doc gets a mirror page with
    // different nav/footer/ads and sloppier whitespace) is invisible to
    // page-level dedup but collapses at the extracted-content level.
    // Extraction → group by content → per-language dedup report. The
    // oracle reconstructs each doc's kept-word content from the
    // generator formula and groups the same way — a single leaked
    // chrome word or whitespace-normalization drift splits a mirror
    // from its original and breaks the counts; rep_sum pins that the
    // representative is always the ORIGINAL (asset ids are parity-coded
    // 2·doc_id / 2·doc_id+1 — injective at any corpus scale, original =
    // group min by parity). The fixture
    // also contains NATURAL collisions (distinct texts whose kept
    // subsets coincide — 16 at sf0.01), so the grouping is exercised
    // beyond the planted mirrors. Plan: one parse pass, one
    // content-hash groupBy, one 5-group rollup.
    "q207_crawl_mirror_dedup" -> ((s, dir) => {
      val ex = graft.ops.Html.extractPages(
        graft.ops.Html.pagesWithMirrors(t(s, dir, "documents")))
      ex.groupBy(col("lang"), sha2(col("content"), 256).as("ck"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("n_copies")).as("n_pages"),
          sum(col("n_copies") - 1).as("n_dups"),
          sum(col("rep_id")).as("rep_sum"))
        .orderBy(col("lang"))
    }),

    // Beyond-reference: in-document LINE dedup (the RefinedWeb line-wise
    // correction stage) — crawled pages repeat nav/cookie/footer lines
    // INSIDE one document; keeping only each line's first occurrence is
    // row-local (no shuffle at any scale). Deterministic line fixture:
    // each doc's words chunk into 6-word lines, and docs with >= 2 lines
    // append a repeat of line 0 (the planted duplicate; natural
    // intra-doc chunk collisions dedup too). Per-language report of
    // lines in/kept and characters removed; the oracle replays the
    // chunking formula and the keep-first rule.
    "q211_line_dedup" -> ((s, dir) => {
      val T = graft.ops.TextOps
      val docs = t(s, dir, "documents")
      val toks = filter(split(col("text"), "\\s+"), w => w =!= "")
      // Zero-token docs are FILTERED (r14 advisory): the oracle's
      // per-line unnest drops them entirely, so they must contribute no
      // rows here either (wordChunkLines' own empty-array guard alone
      // would still leave a 1-line "" page behind).
      val lined = docs.select(col("doc_id"), col("lang"), toks.as("__ts"))
        .filter(size(col("__ts")) > 0)
        .withColumn("__chunks", T.wordChunkLines(col("__ts"), 6))
        .withColumn("__lines", when(size(col("__chunks")) >= 2,
          concat(col("__chunks"), array(element_at(col("__chunks"), 1))))
          .otherwise(col("__chunks")))
        .withColumn("page", array_join(col("__lines"), "\n"))
      lined
        .withColumn("deduped", T.dedupLines(col("page")))
        .select(col("lang"),
          size(split(col("page"), "\n")).cast("long").as("n_in"),
          size(split(col("deduped"), "\n")).cast("long").as("n_kept"),
          (length(col("page")) - length(col("deduped"))).cast("long")
            .as("chars_removed"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_in")).as("lines_in"),
          sum(col("n_kept")).as("lines_kept"),
          sum(col("chars_removed")).as("chars_removed"))
        .orderBy(col("lang"))
    }),

    // Beyond-reference: Gopher REPETITION rule family (Rae et al. 2021,
    // Table A1 — the rules the q138 pack omits): per-doc fraction of
    // characters inside the most frequent {2,3,4}-gram and inside all
    // duplicated {5..10}-grams, quantized to integer microunits so both
    // engines agree bit-for-bit, rolled up per language with the
    // paper-threshold kept verdict. One exploded (doc, n, gram) scan
    // for all nine n values, map-side-combinable counts, no joins.
    "q210_gopher_repetition" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextOps.gopherRepetitionReport(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("top2_micro")).as("top2_sum"),
          sum(col("top3_micro")).as("top3_sum"),
          sum(col("top4_micro")).as("top4_sum"),
          sum(col("dup5_micro")).as("dup5_sum"),
          sum(col("dup6_micro")).as("dup6_sum"),
          sum(col("dup7_micro")).as("dup7_sum"),
          sum(col("dup8_micro")).as("dup8_sum"),
          sum(col("dup9_micro")).as("dup9_sum"),
          sum(col("dup10_micro")).as("dup10_sum"))
        .orderBy(col("lang"))
    }),

    // Beyond-reference: INCREMENTALLY MAINTAINED source-overlap sketch —
    // q206's per-source MinHash signatures kept up to date over the
    // change STREAM instead of rescanned per append: minima are monotone
    // under union, so per-source state is exactly 32 longs, each
    // micro-batch folds its shingle hashes in with elementwise min, and
    // a running snapshot is emitted per trigger (append-mode legal —
    // the final signature is the elementwise min over all snapshots, so
    // late assembly needs no "last row wins"). The final pairwise matrix
    // must HASH-MATCH the batch q206 estimate — the oracle itself proves
    // incremental == from-scratch, the q201 pattern. At 100 TB: O(delta)
    // shingle work per append, #sources × 32 longs of state, vs a full
    // corpus rescan per refresh.
    "q209_stream_source_sketch" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q209_sink"
      s.catalog.dropTempView(sink)
      val K = 32
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val hashes = src.select(col("source"),
        explode(graft.ops.Dedup.shingles(col("text"), 3)).as("__sh"))
        .select(col("source"),
          graft.ops.Dedup.portableH(col("__sh"), 1).as("h1"),
          graft.ops.Dedup.portableH(col("__sh"), 13).as("h2"))
        .as[(String, Long, Long)]
      val snapshots = hashes
        .groupByKey(_._1)
        .flatMapGroupsWithState[Array[Long], (String, Seq[Long])](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (source, rows, state) =>
            val mins = state.getOption.getOrElse(Array.fill(K)(Long.MaxValue))
            rows.foreach { case (_, h1, h2) =>
              var j = 0
              while (j < K) {
                val h = h1 + j.toLong * h2
                if (h < mins(j)) mins(j) = h
                j += 1
              }
            }
            state.update(mins)
            Iterator.single((source, mins.toSeq))
        }
        .toDF("source", "mins")
      val q = snapshots.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      val sigs = s.table(sink).groupBy(col("source"))
        .agg(min(col("mins")(0)).as("h0"),
          (1 until K).map(j => min(col("mins")(j)).as(s"h$j")): _*)
      val a = sigs.select(col("source").as("source_a") +:
        (0 until K).map(j => col(s"h$j").as(s"__a$j")): _*)
      val b = sigs.select(col("source").as("source_b") +:
        (0 until K).map(j => col(s"h$j").as(s"__b$j")): _*)
      a.join(broadcast(b), col("source_a") < col("source_b"))
        .withColumn("n_agree", (0 until K)
          .map(j => when(col(s"__a$j") === col(s"__b$j"), 1L).otherwise(0L))
          .reduce(_ + _))
        .select(col("source_a"), col("source_b"), col("n_agree"),
          round(col("n_agree").cast("double") / K, 6).as("est_jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Beyond-reference: STREAMING CRAWL-FRONTIER content dedup — pages
    // arrive as a versioned stream, each is EXTRACTED in-flight
    // (stateless mapPartitions, the q205 tag walk), and a page is
    // admitted iff its extracted-content hash is the bucket's first
    // arrival (the q198/q203 first-arrival state machine; 64-char
    // constant-width state key). This is the screen that drops a
    // re-crawled article before it is ever stored — boilerplate-
    // invariant, so a re-host with different chrome still dedups, which
    // URL- or page-hash-level admission cannot do. Version order =
    // doc_id order in the fixture, so the oracle replays admission as
    // min-doc_id per reconstructed-content group (including the
    // fixture's natural content collisions).
    "q208_stream_content_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q208_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val buckets = graft.ops.Html.extractPages(
        graft.ops.Html.pages(src.select(col("doc_id"), col("lang"), col("text"))))
        .select(col("doc_id"), sha2(col("content"), 256).as("bucket"))
        .as[(Long, String)]
      val verdicts = buckets
        .groupByKey(_._2)
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (_, groupRows, state) =>
            graft.ops.Incremental.admitFirstArrival(groupRows.map(_._1).toArray, state)
        }
        .toDF("doc_id", "admitted")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("admitted"))
        .agg(count(lit(1)).as("n_pages"), min(col("doc_id")).as("min_id"),
          sum(col("doc_id")).as("id_sum"))
    }),

    // Beyond-reference: URL CANONICALIZATION report (r14 verdict task —
    // the crawl stage BEFORE q205-q208's fetched HTML). The generator-
    // formula fixture synthesizes a messy URL per doc (mixed-case
    // scheme/host, www. label, default ports, dot segments, duplicate
    // slashes, %7E escapes, unsorted+tracking query params, fragments;
    // every 10th already canonical, pinning idempotence); the engine
    // RUNS the RFC 3986 §6 canonicalizer kernel on it, while the oracle
    // replays the expected canonical string from the formula — a hash
    // match proves the parser lands exactly on the spec'd form. Plan:
    // one row-local codegen pass + one per-host rollup.
    "q212_url_canonicalize" -> ((s, dir) => {
      val U = graft.ops.Urls
      val raw = U.noisyUrl(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"),
          U.canonicalizeUrl(raw).as("canon"))
        .groupBy(U.canonicalHost(col("canon")).as("host"))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("raw") =!= col("canon"), 1L).otherwise(0L))
            .as("n_changed"),
          sum(length(col("raw")) - length(col("canon"))).cast("long")
            .as("chars_removed"),
          count_distinct(col("canon")).as("n_distinct"))
        .orderBy(col("host"))
    }),

    // Beyond-reference: canonical-URL FRONTIER dedup + per-host crawl
    // budget — ids congruent mod 250 are re-fetches of one logical URL
    // under different noise, so the frontier must collapse them; the
    // per-host rollup is what a polite fetcher schedules from. Shuffle
    // carries one canonical string + a long per row; two map-side-
    // combinable aggregations, no joins.
    "q213_url_frontier_budget" -> ((s, dir) => {
      val U = graft.ops.Urls
      U.frontierBudget(
        t(s, dir, "documents").select(col("doc_id"),
          U.noisyUrl(col("doc_id")).as("url")),
        "doc_id", "url")
        .orderBy(col("host"))
    }),

    // Beyond-reference: STREAMING URL-frontier admission — the q208
    // first-arrival state machine keyed by CANONICAL URL: requests
    // canonicalize in-stream and a fetch is admitted iff its canonical
    // URL's bucket state was empty (late re-fetches are duplicates).
    // Version order = doc_id order in the fixture, so the oracle
    // replays admission as min-id per canonical formula group.
    "q214_stream_url_frontier" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q214_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val U = graft.ops.Urls
      val buckets = src
        .select(col("doc_id").cast("long"),
          U.canonicalizeUrl(U.noisyUrl(col("doc_id"))).as("bucket"))
        .as[(Long, String)]
      val verdicts = buckets
        .groupByKey(_._2)
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (_, groupRows, state) =>
            graft.ops.Incremental.admitFirstArrival(groupRows.map(_._1).toArray, state)
        }
        .toDF("doc_id", "admitted")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("admitted"))
        .agg(count(lit(1)).as("n_requests"), min(col("doc_id")).as("min_id"),
          sum(col("doc_id")).as("id_sum"))
    }),

    // Beyond-reference: HTML LINK EXTRACTION → RFC 3986 resolution →
    // canonicalization → HOST LINK GRAPH — the crawl-discovery stage
    // (q212-q214 dedup the frontier; this builds it). One stateless
    // parse per page (the same tolerant tokenizer as q205 — script-
    // string traps never leak), then resolution+canonicalization as ONE
    // codegen stage, then a (src_host, dst_host) rollup shuffling two
    // short host strings per link. The fixture plants the whole
    // reference-resolution grid (root/absolute/protocol-relative/
    // dot-segment/entity-encoded); the oracle replays every resolved
    // canonical target from the id formula.
    "q215_link_graph" -> ((s, dir) => {
      val U = graft.ops.Urls
      val links = graft.ops.Html.extractLinks(
        graft.ops.Html.linkPages(t(s, dir, "documents")))
      links.select(col("doc_id"),
          U.canonicalHost(col("base_url")).as("src_host"),
          U.canonicalizeUrl(U.resolveUrl(col("base_url"), col("href")))
            .as("target"))
        .groupBy(col("src_host"),
          U.canonicalHost(col("target")).as("dst_host"))
        .agg(count(lit(1)).as("n_links"),
          count_distinct(col("target")).as("n_targets"),
          min(col("doc_id")).as("min_doc"))
        .orderBy(col("src_host"), col("dst_host"))
    }),

    // Beyond-reference: HOST-LEVEL PAGERANK over the extracted link
    // graph — q215's edges weighted by link count, 3 damped iterations
    // (the q76 machinery over the crawl graph: which hosts does the
    // corpus point at). Host-count-sized state; the oracle unrolls the
    // same three iterations over the formula-derived edge counts.
    "q216_host_rank" -> ((s, dir) => {
      val U = graft.ops.Urls
      val links = graft.ops.Html.extractLinks(
        graft.ops.Html.linkPages(t(s, dir, "documents")))
      val pairs = links.select(
          U.canonicalHost(col("base_url")).as("src"),
          U.canonicalHost(U.canonicalizeUrl(
            U.resolveUrl(col("base_url"), col("href")))).as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      val edges = pairs.withColumn("p",
        col("n").cast("double") / sum(col("n")).over(w))
        .select(col("src"), col("dst"), col("p"))
      graft.ops.Analytics.pageRank(edges, damping = 0.85, iterations = 3)
        .select(col("node").as("host"), round(col("rank"), 6).as("rank"))
        .orderBy(col("host"))
    }),

    // Beyond-reference: ROBOTS.TXT POLICY EVALUATION (RFC 9309) — the
    // politeness gate between link discovery (q215) and fetching.
    // robots.txt is per-HOST state: policies parse ONCE on a host-count
    // dim table (group selection by longest UA prefix past a block-all
    // decoy group, longest-match precedence, * wildcards, $ anchors,
    // crawl-delay) and BROADCAST onto the URL stream; the per-URL work
    // is one codegen match call — no corpus-sized shuffle beyond the
    // per-host rollup it feeds anyway. The oracle replays every verdict
    // from the (host, doc_id) formula.
    "q217_robots_policy" -> ((s, dir) =>
      graft.ops.Robots.fixturePolicyVerdicts(t(s, dir, "documents"))
        .groupBy(col("host"))
        .agg(sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(col("allowed"), 0L).otherwise(1L)).as("n_blocked"),
          max(col("crawl_delay")).cast("long").as("delay_s"))
        .withColumn("backlog_s", col("n_allowed") * col("delay_s"))
        .orderBy(col("host"))),

    // Beyond-reference: POLITENESS FETCH SCHEDULING — the stage after
    // the robots gate: per-host fetch spans ((n-1)·crawl_delay, fetches
    // serialized per host) packed onto K workers by sorted round-robin
    // (the distributed LPT approximation: global load rank via the
    // range-partitioned withGroupRank — no single-partition window at
    // any host count — then worker = (rank-1) % K). Per-worker backlog
    // report; the oracle replays the rank and assignment exactly.
    "q218_fetch_schedule" -> ((s, dir) => {
      val perHost = graft.ops.Robots
        .fixturePolicyVerdicts(t(s, dir, "documents"))
        .filter(col("allowed"))
        .groupBy(col("host"), col("crawl_delay"))
        .agg(count(lit(1)).as("n_fetches"))
        .withColumn("span_s", (col("n_fetches") - 1) * col("crawl_delay"))
      graft.ops.Packing.assignWorkers(perHost, "span_s", "host", k = 4)
        .groupBy(col("worker"))
        .agg(count(lit(1)).as("n_hosts"),
          sum(col("n_fetches")).as("n_fetches"),
          sum(col("span_s")).cast("long").as("backlog_s"),
          max(col("span_s")).cast("long").as("max_span_s"))
        .orderBy(col("worker"))
    }),

    // Beyond-reference: ROBOTS AVAILABILITY SEMANTICS (RFC 9309 §2.3.1)
    // — what governs access when the robots.txt FETCH ITSELF fails, the
    // layer crawlers get wrong most often: 4xx ("unavailable") means
    // MAY access everything (a 404 robots.txt is NOT a disallow), 5xx
    // ("unreachable") means MUST assume complete disallow, and a cache
    // past the 24 h TTL (§2.4) still applies while the refetch is due.
    // The fixture gives host4 a 404, host5 a 503, host6 a 30 h-old
    // cache; effective per-URL verdicts compose the availability class
    // OVER the q217 parsed-policy verdicts. The oracle replays the
    // class from the host formula and overrides the q217 verdict grid
    // accordingly.
    "q235_robots_availability" -> ((s, dir) => {
      val R = graft.ops.Robots
      val verdicts = R.fixturePolicyVerdicts(t(s, dir, "documents"))
      val h = regexp_extract(col("host"), "^host(\\d+)\\.", 1).cast("long")
      val status = when(h === 4, lit(404)).when(h === 5, lit(503))
        .otherwise(lit(200))
      val age = when(h === 6, lit(30)).otherwise(lit(1))
      val cls = R.accessVerdict(status, age)
      val eff = when(cls === "disallow_all", lit(false))
        .when(cls === "allow_all", lit(true))
        .otherwise(col("allowed"))
      verdicts.withColumn("verdict_class", cls)
        .withColumn("eff", eff)
        .groupBy(col("host"), col("verdict_class"))
        .agg(sum(when(col("eff"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(col("eff"), 0L).otherwise(1L)).as("n_blocked"))
        .orderBy(col("host"))
    }),

    // Beyond-reference: SITEMAP INGESTION (sitemaps.org protocol) — the
    // discovery channel robots.txt advertises: tolerant XML parse of
    // per-doc urlset/sitemapindex fixtures (one stateless parse per
    // file), loc canonicalization through the shared kernel, and the
    // DISCOVERY DELTA — one shuffled left-anti join of canonical sitemap
    // URLs against the q215 link frontier (both sides corpus-scale at
    // 100 TB, so no broadcast assumption) — rolled up per host with
    // lastmod/changefreq/priority mass. The oracle replays every entry
    // from the doc-id formula and recomputes the anti-join in SQL.
    "q219_sitemap_discovery" -> ((s, dir) =>
      graft.ops.Sitemaps.fixtureDiscoveryReport(t(s, dir, "documents"))),

    // Beyond-reference: RECRAWL SCHEDULING — per-URL change-rate
    // estimation from the fetch history (Cho & Garcia-Molina 2003
    // bias-corrected Poisson estimator, integer-microunit quantized so
    // sums replay bit-for-bit), bucketed into a hot/warm/cold revisit
    // census per host. Two map-side-combinable hash aggregations (the
    // raw per-check log reduces to per-URL pairs, then the host
    // rollup) — no joins at any corpus size.
    "q220_recrawl_schedule" -> ((s, dir) =>
      graft.ops.Crawl.recrawlReport(
        graft.ops.Crawl.fixtureFetchHistory(t(s, dir, "documents")),
        "host", "doc_id", "n", "x").orderBy(col("host"))),

    // Beyond-reference: CRAWL-TRAP DETECTION — per-host URL-space vs
    // content-space explosion: canonicalize fetched URLs (synonyms
    // collapse first), then count distinct canonical URLs against
    // distinct content fingerprints; the fixture plants a calendar
    // trap on host3 (unique URL per fetch, 3 contents) that must flag
    // while every other host stays at ratio 1. Two hash aggregations,
    // shuffle key = one canonical string then one host string.
    "q221_trap_detection" -> ((s, dir) =>
      graft.ops.Crawl.trapReport(
        graft.ops.Crawl.fixtureFetchLog(t(s, dir, "documents")),
        "url", "content").orderBy(col("host"))),

    // Beyond-reference: BUDGET-CAPPED STREAMING FRONTIER ADMISSION —
    // q214's first-arrival admission with q228's domain granularity and
    // a HARD BUDGET: URLs stream in, canonicalize, and each registrable
    // domain admits at most K=5 distinct canonical URLs (first-arrival
    // order); duplicates of ADMITTED urls report as dups, everything
    // else is over-budget. Per-domain state is BOUNDED BY THE BUDGET
    // (the admitted set alone, <= K strings) — unlike plain
    // first-arrival dedup whose state grows with distinct keys, the cap
    // makes state O(domains x K) at any corpus size. Version order =
    // doc order in the fixture, so the oracle replays admission as a
    // first-occurrence rank within each domain.
    "q229_stream_domain_admission" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q229_sink"
      s.catalog.dropTempView(sink)
      val U = graft.ops.Urls
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1").load()
      val canon = graft.ops.Urls.canonicalizeUrl(concat(lit("https://"),
        U.fixtureHostCol(col("doc_id").cast("long")), lit("/p/"),
        pmod(col("doc_id").cast("long"), lit(31L))))
      val reqs = src.select(
          U.registrableDomain(U.canonicalHost(canon)).as("domain"),
          canon.as("url"), col("doc_id").cast("long").as("doc_id"))
        .as[(String, String, Long)]
      val verdicts = reqs.groupByKey(_._1)
        .flatMapGroupsWithState[Set[String], (String, String)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          graft.ops.Incremental.budgetAdmit(budget = 5))
        .toDF("domain", "verdict")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("domain"))
        .agg(count(when(col("verdict") === "admitted", 1)).as("n_admitted"),
          count(when(col("verdict") === "duplicate", 1)).as("n_dup"),
          count(when(col("verdict") === "over_budget", 1)).as("n_rejected"))
        .orderBy(col("domain"))
    }),

    // Beyond-reference: TTL'd BUDGET-CAPPED DOMAIN ADMISSION — q229's
    // admission with the knob an ENDLESS crawl needs: per-domain state
    // evicted after `ttl` of event-time idleness (the q185
    // EventTimeTimeout pattern applied to the admission family). The
    // rule is SESSION-scoped — a domain admits at most K=5 distinct
    // urls per session, a session ending when the domain idles past
    // the TTL; an in-band gap check makes eviction semantically free,
    // so state is bounded by domains ACTIVE within one TTL window
    // (× K strings), not lifetime domain cardinality — the posture
    // q229's NoTimeout cannot offer on an unbounded domain stream.
    // After a reset a previously-admitted URL re-admits: per-domain
    // n_admitted exceeding K is the visible proof. The oracle replays
    // every verdict via lag-gap sessionization + first-arrival ranks.
    "q231_stream_admission_ttl" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q231_sink"
      s.catalog.dropTempView(sink)
      val ttlMs = 100000L
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1").load()
      val d = col("doc_id").cast("long")
      val reqs = src.select(
          // domain active in 40-doc blocks, idle 160 s between blocks —
          // longer than the 100 s TTL, so every block is a new session
          concat(lit("d"), pmod(floor(d / lit(40.0)).cast("long"), lit(5L)),
            lit(".example.com")).as("domain"),
          concat(lit("/p/"), pmod(d, lit(17L))).as("url"),
          d.as("doc_id"),
          // +1 day base: epoch-0 event time would be dropped as late
          // against the INITIAL watermark (0) — the q185 convention
          timestamp_millis(d * 1000L + 86400000L).as("ts"))
        .withWatermark("ts", s"${ttlMs / 1000} seconds")
        .as[(String, String, Long, java.sql.Timestamp)]
      val verdicts = reqs.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Set[String]), (String, String)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())(
          graft.ops.Incremental.ttlBudgetAdmit(ttlMs, budget = 5))
        .toDF("domain", "verdict")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("domain"))
        .agg(count(when(col("verdict") === "admitted", 1)).as("n_admitted"),
          count(when(col("verdict") === "duplicate", 1)).as("n_dup"),
          count(when(col("verdict") === "over_budget", 1)).as("n_rejected"))
        .orderBy(col("domain"))
    }),

    // Beyond-reference: REDIRECT-CHAIN RESOLUTION — the frontier-hygiene
    // stage the canonical-URL dedup can't cover: HTTP 3xx chains folded
    // onto their landing URL by POINTER DOUBLING over the url-space
    // redirect map (the CC machinery's shape: O(log maxHops) self-joins
    // of the map, never of the fetch log, which joins the settled map
    // once). Hop cap 8; cycles and over-cap chains report unresolved —
    // the bounded-follow policy production crawlers apply. The fixture
    // plants chains of length 0-3, a 3-cycle, and a tail INTO the
    // cycle; the oracle replays the walk with a hop-capped recursive
    // CTE and must land on identical per-host resolution censuses.
    "q232_redirect_chains" -> ((s, dir) =>
      graft.ops.Crawl.fixtureRedirectReport(t(s, dir, "documents"))),

    // Beyond-reference: rel=CANONICAL FOLDING — the OTHER half of crawl
    // identity hygiene (q232 folds 3xx chains; this folds the
    // duplicate-content identities pages DECLARE): the one-pass HTML
    // scanner additionally captures <link rel="canonical"> (rel is a
    // WHATWG token list, matched case-insensitively; a stylesheet decoy
    // and script/comment bodies must not leak), the target runs through
    // the canonicalizer kernel (case/port/tracking noise planted), and
    // mirror assets fold onto their original's identity — composed with
    // the q207 mirror corpus: mirrors WITH a canonical link collapse
    // onto the original URL, mirrors without keep their own. One
    // stateless parse per page + one rollup; the oracle replays every
    // identity from the asset-id formula.
    "q233_canonical_fold" -> ((s, dir) => {
      import s.implicits._
      val pages = graft.ops.Html.pagesWithMirrors(t(s, dir, "documents"))
      val parsed = pages.select(col("doc_id").cast("long").as("asset_id"),
          col("html"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (a, html) =>
          (a, graft.ops.Html.canonicalLinkOf(html).orNull)
        }).toDF("asset_id", "canon_href")
      val id = col("asset_id")
      val docId = floor(id / lit(2.0)).cast("long")
      val ownUrl = when(pmod(id, lit(2L)) === 0,
          concat(lit("https://host"), pmod(docId, lit(7L)),
            lit(".example.com/a/"), docId))
        .otherwise(concat(lit("https://m"), pmod(docId, lit(5L)),
          lit(".mirror.net/x/"), docId))
      val identity = coalesce(
        graft.ops.Urls.canonicalizeUrl(col("canon_href")), ownUrl)
      parsed.select(identity.as("identity"),
          col("canon_href").isNotNull.as("via_canonical"))
        .groupBy(graft.ops.Urls.canonicalHost(col("identity")).as("host"))
        .agg(count(lit(1)).as("n_assets"),
          sum(when(col("via_canonical"), 1L).otherwise(0L))
            .as("n_via_canonical"),
          count_distinct(col("identity")).as("n_identities"))
        .withColumn("n_folded", col("n_assets") - col("n_identities"))
        .orderBy(col("host"))
    }),

    // Beyond-reference: END-TO-END CRAWL PIPELINE (the q51 curation-
    // pipeline pattern applied to the whole crawl pass): discovery
    // (link extraction → resolve → canonicalize) → frontier dedup →
    // robots gate (size-gated policy join) → per-host budget (rank
    // window, partitioned BY HOST — never a global sort) → fetch triage
    // (real sniff over page bytes) → boilerplate extraction → content
    // dedup (hash fold, mirrors collapse). One funnel row per stage
    // pins every cross-operator schema contract; a regression in ANY
    // stage moves a census number. Only per-stage AGGREGATES reach the
    // driver (7 constant-size rows — the stages themselves are
    // distributed); the oracle replays every count from the generator
    // formulas (the q215/q217 verdict grid + the q207 content
    // reconstruction).
    "q234_crawl_pipeline" -> ((s, dir) => {
      import s.implicits._
      val U = graft.ops.Urls
      val R = graft.ops.Robots
      val docs = t(s, dir, "documents")
      // URL half: discovered anchors → distinct frontier → robots →
      // per-host budget K=4
      val links = graft.ops.Html.extractLinks(graft.ops.Html.linkPages(docs))
        .select(U.canonicalizeUrl(
          U.resolveUrl(col("base_url"), col("href"))).as("url"))
        .withColumn("host", U.canonicalHost(col("url")))
      val r0 = links.agg(count(lit(1)), count_distinct(col("url"))).head()
      val frontier = links.select(col("host"), col("url")).distinct()
      val r1 = frontier.agg(count(lit(1)), count_distinct(col("host"))).head()
      val gated = R.policyVerdicts(
        frontier.withColumn("path", R.canonicalPath(col("url"))),
        R.compilePolicies(R.fixturePolicyDim(s), "host", "txt",
          "graftcrawler/1.0"))
      val allowed = gated.filter(col("allowed")).select(col("host"), col("url"))
      val r2 = allowed.agg(count(lit(1)), count_distinct(col("host"))).head()
      val budgeted = allowed.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("host"))
            .orderBy(col("url"))))
        .filter(col("rk") <= 4)
      val r3 = budgeted.agg(count(lit(1)), count_distinct(col("host"))).head()
      // content half: fetched pages (docs + mirrors) → sniff → extract →
      // hash dedup
      val sniffed = graft.ops.Html.pagesWithMirrors(docs)
        .select(col("doc_id").cast("long"), col("lang"), col("html"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (a, lang, html) =>
          val (kind, charset, _) = graft.ops.Sniff.sniff(
            html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          (a, lang, html, kind, charset)
        }).toDF("doc_id", "lang", "html", "kind", "charset")
      val htmlPages = sniffed.filter(col("kind") === "html")
      val r4 = htmlPages.agg(count(lit(1)),
        count_distinct(concat_ws("/", col("kind"), col("charset")))).head()
      val ex = graft.ops.Html.extractPages(htmlPages)
        .filter(col("content_words") > 0).persist()
      val r5 = ex.agg(count(lit(1)), sum(col("content_words"))).head()
      val grp = ex.groupBy(sha2(col("content"), 256).as("ck"))
        .agg(count(lit(1)).as("n"))
      val r6 = grp.agg(count(lit(1)), sum(col("n") - 1)).head()
      ex.unpersist()
      Seq(
        (0L, "discovered", r0.getLong(0), r0.getLong(1)),
        (1L, "frontier", r1.getLong(0), r1.getLong(1)),
        (2L, "allowed", r2.getLong(0), r2.getLong(1)),
        (3L, "budgeted", r3.getLong(0), r3.getLong(1)),
        (4L, "fetched", r4.getLong(0), r4.getLong(1)),
        (5L, "extracted", r5.getLong(0), r5.getLong(1)),
        (6L, "deduped", r6.getLong(0), r6.getLong(1)))
        .toDF("stage_idx", "stage", "n_items", "n_units")
    }),

    // Beyond-reference: DOMAIN-GRANULAR CRAWL BUDGET — the q213 budget
    // rollup at eTLD+1 instead of host: fetch requests over the PSL
    // host fixture canonicalize (kernel), group by REGISTRABLE DOMAIN
    // (kernel), and report the request/URL/host census a crawler
    // allocates per-site budgets from — a.blog.co.uk and b.blog.co.uk
    // share one budget while u1.github.io and u2.github.io do not.
    // Row-local kernels + one rollup; the oracle replays every domain
    // from the host formula.
    "q228_domain_budget" -> ((s, dir) => {
      val U = graft.ops.Urls
      val reqs = U.fixtureHosts(t(s, dir, "documents"))
        .select(U.canonicalizeUrl(concat(lit("https://"), col("host"),
          lit("/p/"), pmod(col("doc_id").cast("long"), lit(31L)))).as("c"))
      reqs.select(U.registrableDomain(U.canonicalHost(col("c"))).as("domain"),
          U.canonicalHost(col("c")).as("h"), col("c"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_requests"),
          count_distinct(col("c")).as("n_urls"),
          count_distinct(col("h")).as("n_hosts"))
        .orderBy(col("domain"))
    }),

    // Beyond-reference: CONTENT-TYPE AUDIT — the q225 WARC walk and the
    // q226 sniffer COMPOSED: response bodies are sliced byte-exact out
    // of the container, sniffed, and the DECLARED Content-Type header
    // is cross-tabbed against the sniffed kind — a server claiming
    // text/html for gzip bytes is the classic pathology this audit
    // catches before the decode stage wastes work on it. One stateless
    // parse+sniff per record; the census shuffles two short verdict
    // strings. The oracle replays the joint (d%4 declared, d%6 body)
    // distribution.
    "q227_content_type_audit" -> ((s, dir) => {
      import s.implicits._
      val resp = graft.ops.Warc.parseResponseBodies(
        graft.ops.Warc.fixtureTriageWarcs(t(s, dir, "documents")),
        "doc_id", "warc")
      resp.select(col("content_type"), col("body"))
        .as[(String, Array[Byte])]
        .mapPartitions(_.map { case (ct, b) =>
          (ct, graft.ops.Sniff.sniff(b)._1)
        }).toDF("declared", "sniffed")
        .groupBy(col("declared"), col("sniffed"))
        .agg(count(lit(1)).as("n_records"))
        .withColumn("mismatch",
          when(col("declared") === "text/html", col("sniffed") =!= "html")
            .otherwise(col("sniffed") === "html"))
        .orderBy(col("declared"), col("sniffed"))
    }),

    // Beyond-reference: FETCH TRIAGE — content-type + charset sniffing
    // over raw fetched bytes (the WHATWG recipe's stable core): binary
    // magic (gzip/pdf/png) before BOMs before the ASCII-level <meta
    // charset> scan before a strict UTF-8 validity scan with the
    // windows-1252 web fallback; decode with the verdict and classify
    // html vs text. One stateless sniff per doc at the codec boundary;
    // the census shuffles two short verdict strings. The oracle
    // replays every verdict and decoded char count from the variant
    // formula.
    "q226_fetch_triage" -> ((s, dir) =>
      graft.ops.Sniff.fixtureCensus(t(s, dir, "documents"))),

    // Beyond-reference: WARC RECORD PARSING (ISO 28500) — the container
    // every large crawl ships in: byte-walking record framing
    // (Content-Length counts OCTETS — the fixture plants a two-byte é
    // so a char-counting reader desynchronizes and LOSES the following
    // request record), case-insensitive header fields, HTTP payload
    // status/body split, unframeable records skipped by magic scan.
    // One stateless parse per file (the codec-boundary pattern), then
    // a per-host census. The oracle replays every record from the
    // doc-id formula — responses, requests, 404s, body octets,
    // distinct URIs, latest capture instant.
    "q225_warc_census" -> ((s, dir) =>
      graft.ops.Warc.fixtureCensus(t(s, dir, "documents"))),

    // Beyond-reference: GZIP-MEMBER WARC FRAMING — the `warc.gz` layout
    // real Common Crawl shards ship in: one gzip member PER RECORD,
    // members concatenated. The engine detects the 1f 8b magic,
    // inflates member-by-member (JDK member walk; truncated/corrupt
    // tails keep the inflated prefix — tolerant-crawler posture), and
    // runs the IDENTICAL q225 census over the inflated bytes — the
    // oracle is q225's verbatim, so the inflation layer is hash-pinned
    // end to end. Still one stateless walk per file at the codec
    // boundary; compression adds zero shuffles.
    "q230_warc_gz_census" -> ((s, dir) =>
      graft.ops.Warc.fixtureGzCensus(t(s, dir, "documents"))),

    // Beyond-reference: STREAMING RECRAWL SCHEDULER — q220's change-rate
    // estimator maintained INCREMENTALLY over the fetch stream: each
    // arriving page is one check of its URL (url = doc_id % 50, so every
    // URL's checks span all four stream versions), per-URL state is two
    // longs (checks, changes) folded via flatMapGroupsWithState, and the
    // post-drain schedule is the SAME recrawlReport kernel over the
    // final counters. The oracle replays the batch computation — a hash
    // match IS the incremental == from-scratch proof (the q209 pattern).
    // At 100 TB: O(delta) fold per trigger, 16 bytes of state per URL,
    // vs re-scanning the whole fetch history per schedule refresh.
    "q223_stream_recrawl" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q223_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1").load()
      val checks = src.select(
          pmod(col("doc_id").cast("long"), lit(50L)).as("url"),
          (pmod(col("doc_id").cast("long") * 13, lit(7L)) <
            pmod(pmod(col("doc_id").cast("long"), lit(50L)), lit(3L)) + 1)
            .as("changed"))
        .as[(Long, Boolean)]
      val snapshots = checks.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (url, rows, state) =>
            var (n, x) = state.getOption.getOrElse((0L, 0L))
            rows.foreach { case (_, ch) => n += 1; if (ch) x += 1 }
            state.update((n, x))
            Iterator.single((url, n, x))
        }.toDF("url", "n", "x")
      val q = snapshots.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      // counters are monotone: the final per-URL state is the snapshot
      // with the largest n (append-mode legal — no "last row wins")
      val finalState = s.table(sink).groupBy(col("url"))
        .agg(max(struct(col("n"), col("x"))).as("st"))
        .select(col("url"), col("st.n").as("n"), col("st.x").as("x"))
        .withColumn("host",
          concat(lit("host"), pmod(col("url"), lit(7L)), lit(".example.com")))
      graft.ops.Crawl.recrawlReport(finalState, "host", "url", "n", "x")
        .orderBy(col("host"))
    }),

    // Beyond-reference: REGISTRABLE-DOMAIN EXTRACTION — the
    // publicsuffix.org algorithm (normal/wildcard/exception rules over
    // an embedded list subset) as a codegen kernel: crawl budgets and
    // link rollups want eTLD+1 granularity, where a.blog.co.uk and
    // b.blog.co.uk are ONE site but x.github.io and y.github.io are
    // two. Per-suffix census over a host fixture exercising every rule
    // class; row-local kernel, one short-string rollup shuffle.
    "q224_registrable_domain" -> ((s, dir) => {
      val U = graft.ops.Urls
      U.fixtureHosts(t(s, dir, "documents"))
        .select(lower(col("host")).as("h"),
          U.publicSuffix(col("host")).as("public_suffix"),
          U.registrableDomain(col("host")).as("reg"))
        .groupBy(col("public_suffix"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("h")).as("n_hosts"),
          count_distinct(col("reg")).as("n_domains"))
        .orderBy(col("public_suffix"))
    }),

    // Beyond-reference: ANCHOR-TEXT AGGREGATION — the classic target-
    // side relevance signal (what the web calls the page it links to):
    // the q215 scanner additionally captures the text between each
    // outermost <a href> and its close tag (same one-pass stateless
    // parse, entity-decoded, whitespace-collapsed), rolled up per
    // canonical destination host — anchor count, distinct surface
    // forms, word mass. Shuffle = one short host string + one anchor
    // text per link; the oracle replays every (target, text) pair from
    // the id formula.
    "q222_anchor_text" -> ((s, dir) => {
      val U = graft.ops.Urls
      graft.ops.Html.extractAnchors(
          graft.ops.Html.linkPages(t(s, dir, "documents")))
        .select(
          U.canonicalHost(U.canonicalizeUrl(
            U.resolveUrl(col("base_url"), col("href")))).as("dst_host"),
          trim(col("anchor_text")).as("a"))
        .groupBy(col("dst_host"))
        .agg(count(lit(1)).as("n_anchors"),
          count_distinct(col("a")).as("n_texts"),
          sum(when(length(col("a")) === 0, 0L)
            .otherwise(size(split(col("a"), "\\s+")).cast("long")))
            .as("word_mass"))
        .orderBy(col("dst_host"))
    }),

    // Beyond-reference: SOURCE-OVERLAP MATRIX — "which dumps/crawl
    // snapshots overlap, and by how much" answered with ONE corpus scan:
    // per-source MinHash signatures (min distributes over union, so the
    // per-source min IS the union set's signature) self-joined at
    // #sources rows for the Broder estimate, next to the exact Jaccard
    // from per-shingle source sets (pair expansion bounded by sources²
    // per shingle — never corpus-quadratic). The estimator's error is
    // visible in the report; the oracle replays both halves through the
    // portable md5 double-hash family.
    "q206_source_overlap" -> ((s, dir) =>
      graft.ops.Dedup.sourceOverlap(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source_a"), col("source_b"))),

    "q205_html_boilerplate" -> ((s, dir) => {
      val extracted = graft.ops.Html.extractPages(
        graft.ops.Html.pages(t(s, dir, "documents")))
      extracted.groupBy(col("lang")).agg(
        count(lit(1)).as("n_pages"),
        sum(col("content_words")).as("content_words"),
        sum(col("total_words")).as("total_words"),
        sum(col("n_content_blocks").cast("long")).as("content_blocks"),
        sum(col("n_blocks").cast("long")).as("blocks"),
        sum(when(col("content_words") >= 40, 1L).otherwise(0L))
          .as("n_quality_pass"))
        .orderBy(col("lang"))
    }),

    // Beyond-reference: INCREMENTAL datacard maintenance over the change
    // feed — the 100 TB posture for q192's attrition report: recomputing
    // a datacard over the full corpus per append is O(corpus) per run,
    // while folding each versioned append's delta through the stage
    // gates (per-doc verdicts are append-local) and the incremental
    // near-dup admission (q94's batch-vs-seen cascade) is O(delta).
    // The query runs BOTH paths and emits them side by side; the oracle
    // computes the from-scratch card once, so a hash match IS the
    // incremental == from-scratch assertion. Equality argument for the
    // dedup stage: version order aligns with doc_id order in the
    // fixture, so "matches any earlier-seen gate-passing doc (or a
    // smaller-id doc in the same batch)" and "matches any smaller-id
    // gate-passing doc" are the same rule; both sides dedup against
    // SEEN docs (not admitted-only), making the rule chain-free.
    "q201_incremental_datacard" -> ((s, dir) => {
      import s.implicits._
      val T = graft.ops.TextOps
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_cdf")
      val g = graft.log.GraftCDF.tableChanges(s, path, 0)
        .filter(col("_change_type") === "insert")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("_commit_version").cast("long").as("v"),
          T.tokenCount(col("text")).cast("long").as("tok0"),
          (T.langId(col("text")) =!= "und").as("p2"),
          (T.qualityScore(col("text")) >= 0.5 &&
            T.uniqueTokenRatio(col("text")) >= 0.4).as("p3"))
        // widen BEFORE the checkpoint: the CDF scan is a handful of
        // partitions, so (a) the langid/quality kernels above would
        // otherwise serialize in its tasks and (b) every per-version
        // filter downstream would trip Par.widen's gate and re-shuffle
        // the growing corpus once per iteration; checkpointing wide
        // makes all of those no-ops (one exchange total).
        .transform(graft.ops.Par.widen)
        .transform(graft.ops.Par.pin)

      def stageRow(df: DataFrame): Array[Long] = {
        val r = df.agg(
          count(lit(1)), coalesce(sum(col("tok0")), lit(0L)),
          count(when(col("p2"), 1)),
          coalesce(sum(when(col("p2"), col("tok0"))), lit(0L)),
          count(when(col("p2") && col("p3"), 1)),
          coalesce(sum(when(col("p2") && col("p3"), col("tok0"))), lit(0L)))
          .first()
        Array(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
      }
      def survivorRow(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          coalesce(sum(col("tok0")), lit(0L))).first()
        (r.getLong(0), r.getLong(1))
      }

      // --- incremental fold over versions (version-scale driver loop).
      // The per-version stage stats are additive over the disjoint
      // version batches, so ONE grouped aggregate over the checkpointed
      // CDF frame yields every version's row (and the version list) in a
      // single job, folded driver-side — replaces the former
      // distinct-collect plus one six-column aggregate job per version
      // (guide §1.2: cut driver-loop jobs). The dedup admission below
      // remains the genuine per-version sequential fold.
      val perVersion = g.groupBy(col("v")).agg(
        count(lit(1)), coalesce(sum(col("tok0")), lit(0L)),
        count(when(col("p2"), 1)),
        coalesce(sum(when(col("p2"), col("tok0"))), lit(0L)),
        count(when(col("p2") && col("p3"), 1)),
        coalesce(sum(when(col("p2") && col("p3"), col("tok0"))), lit(0L)))
        .collect().sortBy(_.getLong(0))
      val versions = perVersion.map(_.getLong(0))
      val acc = Array.fill(6)(0L)
      perVersion.foreach { r =>
        (0 until 6).foreach(i => acc(i) += r.getLong(i + 1))
      }
      var admN = 0L; var admT = 0L
      // `seen` after version v is exactly the passing docs of versions
      // ≤ v — a filter over the ALREADY-checkpointed `g`, not a growing
      // unionByName + localCheckpoint chain (same rows, no per-version
      // re-materialization job, no quadratic checkpoint bytes).
      def passUpTo(vMax: Long) = g
        .filter(col("v") <= vMax && col("p2") && col("p3"))
        .select(col("doc_id"), col("text"), col("tok0"))
      versions.zipWithIndex.foreach { case (v, i) =>
        val bPass = g.filter(col("v") === v && col("p2") && col("p3"))
          .select(col("doc_id"), col("text"), col("tok0"))
        val seen =
          if (i == 0) bPass.limit(0) else passUpTo(versions(i - 1))
        // the version's cascade pins are released as soon as its
        // survivor row is collected; `g` stays pinned for the next one
        val (an, at) = graft.ops.Par.scoped(survivorRow(
          graft.ops.Dedup.incrementalDedup(
            seen, bPass, "doc_id", "text", threshold = 0.6)))
        admN += an; admT += at
      }

      // --- from-scratch over the full corpus, smaller-id-wins
      val fr = stageRow(g)
      val fPass = g.filter(col("p2") && col("p3"))
        .select(col("doc_id"), col("text"), col("tok0"))
      val pairs = graft.ops.Dedup.nearDuplicatesExact(fPass, "doc_id", "text",
        threshold = 0.6, includeMinHashCandidates = false)
      val surv = fPass.join(
        pairs.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      val (fn, ft) = survivorRow(surv)
      graft.ops.Dedup.releasePersisted()

      Seq(
        (0L, "input", acc(0), acc(1), fr(0), fr(1)),
        (1L, "langid", acc(2), acc(3), fr(2), fr(3)),
        (2L, "quality", acc(4), acc(5), fr(4), fr(5)),
        (3L, "near_dup", admN, admT, fn, ft))
        .toDF("stage_idx", "stage", "n_docs_incr", "n_tokens_incr",
          "n_docs_full", "n_tokens_full")
    }),

    // Beyond-reference: TTL'd STREAMING LSH admission — q152 with the
    // knob production streams cannot run without: BOUNDED state. The
    // admission rule is "admit iff the bucket is unseen OR last seen
    // more than ttl of event time ago"; under that rule, evicting state
    // idle past the TTL is SEMANTICALLY FREE (a post-TTL arrival is
    // admitted whether or not the entry still exists), so the state
    // store is physically bounded to buckets active within one TTL
    // window — done with an event-time watermark + EventTimeTimeout,
    // with decisions exactly replayable as a per-bucket lag window (the
    // oracle). Event time = doc_id seconds; ttl = 100 s.
    "q185_stream_lsh_ttl" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q185_sink"
      s.catalog.dropTempView(sink)
      val ttlMs = 100000L
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val buckets = graft.ops.Dedup.streamBandBuckets(src, "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("band").cast("int").as("band"), col("bh"),
          // +1 day base: epoch-0 event time would be dropped as late
          // against the INITIAL watermark (0); gaps are unaffected
          timestamp_millis(col("doc_id").cast("long") * 1000L + 86400000L)
            .as("ts"))
        // delay = one TTL (derived from ttlMs so the two can't drift):
        // admission decisions compare event-time gaps in ttlAdmit itself
        // (state absence ⇒ admit, same verdict a post-TTL arrival gets;
        // state is monotone so a late arrival can't regress it), so
        // delaying eviction by a TTL never changes a verdict — but it
        // makes the pipeline robust to ingestion order deviating from
        // doc_id order by up to one TTL across micro-batches, where a
        // 0-second watermark would silently drop below-watermark rows.
        // State bound becomes two TTL windows.
        .withWatermark("ts", s"${ttlMs / 1000} seconds")
        .as[(Long, Int, String, java.sql.Timestamp)]
      val verdicts = buckets
        .groupByKey(r => (r._2, r._3))
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())(
          graft.ops.Dedup.ttlAdmit(ttlMs))
        .toDF("doc_id", "fresh_in_bucket")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("doc_id"))
        .agg(min(col("fresh_in_bucket")).as("admitted"),
          count(when(col("fresh_in_bucket"), 1)).as("n_fresh"))
    }),

    // Beyond-reference: REAL audio resample — RIFF/WAVE PCM decoded via
    // the JDK sampled-audio stack, decimated by 2 (explicit frame
    // sampling, the audio twin of q135's nearest-neighbor resize),
    // re-encoded, and re-decoded for the mean-amplitude witness the
    // oracle recomputes from the deterministic sample generator.
    "q153_audio_resample" -> ((s, dir) => {
      import s.implicits._
      val assets = graft.ops.Multimodal.toAssets(t(s, dir, "documents"))
      graft.ops.Multimodal.resampleAssets(assets, stride = 2)
        .filter(col("meta.format") === "wav")
        .map(a => (a.asset_id, a.meta.height.toLong,
          graft.ops.Multimodal.meanAmplitude(a.payload)))
        .toDF("asset_id", "n_frames", "m")
        .select(col("asset_id"), col("n_frames"),
          round(col("m"), 4).as("mean_amp"))
    }),

    // Beyond-reference: INCREMENTAL ANN-index maintenance from a Change
    // Data Feed — a CDF-enabled embeddings table is appended to and
    // row-level-deleted; the IVF cell index refreshes from the changes
    // alone (net-effect fold per id, nearest-centroid assignment of the
    // survivors), O(changes) never O(corpus). The deleted set includes
    // rows APPENDED in the range (insert-then-delete nets to absent),
    // which the oracle's final-state assignment confirms.
    "q156_incremental_ann_index" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_ivf_cdf"
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val centroids = t(s, dir, "embeddings").filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("centroid"))
      graft.log.TableBuilder.create(s,
        emb.filter(col("vec_id") % 3 =!= 2).repartition(2), path,
        name = "scratch_ivf_cdf",
        configuration = Map("enableChangeDataFeed" -> "true"))
      graft.log.TableBuilder.append(s,
        emb.filter(col("vec_id") % 3 === 2).repartition(2), path,
        timestamp = 1000L)
      graft.log.TableBuilder.deleteWhere(s, path, col("vec_id") % 7 === 0,
        timestamp = 2000L)
      graft.log.GraftLog.invalidateListing(path)
      val base = s.read.format("graft").option("path", path)
        .option("versionAsOf", "0").load()
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val index0 = graft.ops.Similarity.assignCells(base, centroids)
        .select(col("c_id"), col("cell"))
      val changes = graft.log.GraftCDF.tableChanges(s, path, 1)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
          col("_change_type"), col("_commit_version"))
      graft.ops.Incremental.maintainIvfIndex(index0, changes, centroids)
        .select(col("c_id"), col("cell").cast("int").as("cell"))
    }),

    // Beyond-reference: deterministic NEGATIVE-EDGE sampling for
    // link-prediction training — content-addressed draws into the
    // ranked vertex list, self/real-edge rejection, first-2 survivors
    // per vertex; distributed rank + equi-joins, no RNG state.
    "q159_negative_edges" -> ((s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.negativeEdgeSamples(edges, perNode = 2, draws = 8)
    }),

    // Beyond-reference: the per-source CORPUS DATACARD — the one-page
    // artifact a dataset release ships: docs, token mass, quality mean,
    // near-dup exposure, dominant language, all from the already-proven
    // column expressions + the exact dedup cascade in one pass family.
    "q161_corpus_datacard" -> ((s, dir) => {
      val docs = graft.ops.Par.widen(t(s, dir, "documents"))
      val prof = docs.select(col("doc_id"), col("source"),
        graft.ops.TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
        graft.ops.TextOps.qualityScore(col("text")).as("q"),
        graft.ops.TextOps.langId(col("text")).as("lang"))
      val pairs = graft.ops.Dedup.nearDuplicatesExact(
        docs, "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
      val dupDocs = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id"))).distinct()
        .withColumn("__dup", lit(1))
      val langTop = prof.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("source"))
        .agg(min(struct((-col("__c")).as("nc"), col("lang").as("l"))).as("__b"))
        .select(col("source"), col("__b.l").as("top_lang"))
      prof.join(dupDocs, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          round(avg(col("q")), 4).as("avg_quality"),
          count(col("__dup")).as("n_neardup_docs"))
        .withColumn("dup_rate",
          round(col("n_neardup_docs").cast("double") / col("n_docs"), 6))
        .join(langTop, Seq("source"))
    }),

    // Beyond-reference: VERSION-GATED dedup admission — the batch is a
    // later version range of the MANAGED table itself: time travel
    // reads the standing corpus (v0), the appended versions dedup
    // against it bipartitely (never corpus×corpus), the shape of a
    // continuously-ingesting pipeline gating its own appends.
    "q160_version_dedup_gate" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val share = graft.log.SharedFixtures.SHARE
      val corpus = s.read.format("graft")
        .option("table", s"$share.documents_versioned")
        .option("versionAsOf", "0").load()
        .select(col("doc_id"), col("text"))
      val latest = s.read.format("graft")
        .option("table", s"$share.documents_versioned").load()
        .select(col("doc_id"), col("text"))
      val batch = latest.join(corpus.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      graft.ops.Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
        threshold = 0.7).select(col("doc_id"))
    }),

    // Beyond-reference: SPLIT-LEAKAGE audit — near-dup pairs that cross
    // a deterministic train/val split (the eval-contamination failure
    // mode dedup-within-split misses); one summary row with the leaked
    // val-doc rate. Pairs come from the provably-complete exact
    // cascade; the split rule is replayed by the oracle.
    "q157_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.nearDuplicatesExact(
        docs, "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
      val isVal = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) >= 8
      val cross = pairs.filter(isVal(col("id_a")) =!= isVal(col("id_b")))
      val leakedVal = cross.select(
        when(isVal(col("id_a")), col("id_a")).otherwise(col("id_b")).as("v"))
        .distinct()
      val counts = docs.agg(
        count(when(!isVal(col("doc_id")), 1)).as("n_train"),
        count(when(isVal(col("doc_id")), 1)).as("n_val"))
      counts.crossJoin(broadcast(cross.agg(count(lit(1)).as("n_cross_pairs"))))
        .crossJoin(broadcast(leakedVal.agg(count(lit(1)).as("n_val_leaked"))))
        .withColumn("leak_rate",
          round(col("n_val_leaked").cast("double") / col("n_val"), 6))
    }),

    // Beyond-reference: embedding-space centroid-drift matrix — pairwise
    // L2 between per-label centroids from floor-quantized integer sums
    // (exact, partition-order independent); labels·dim cells of state,
    // corpus-size independent.
    "q158_centroid_drift" -> ((s, dir) => {
      graft.ops.Similarity.centroidDrift(
        t(s, dir, "embeddings"), "embedding", "label")
    }),

    // Beyond-reference: hard-negative mining for contrastive training —
    // per query the 3 most-similar vectors with a DIFFERENT label;
    // broadcast-queries scan, label filter before the top-k cut.
    "q154_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val corpus = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"), col("label").as("c_label"))
      graft.ops.Similarity.hardNegatives(queries, corpus, k = 3)
    }),

    // Beyond-reference: MOJIBAKE repair (the ftfy-core digraph table as
    // a codegen replace chain) — corruption planted deterministically on
    // every 5th doc (UTF-8-as-Latin-1 of á/é), repaired by the FULL
    // chain, and checked exact against the intended accented text.
    // Beyond-reference: UniMax language-sampling allocation (Chung et
    // al. 2023) — water-fill a token budget (half the corpus) across
    // languages with a 2-epoch cap, the fairness-first alternative to
    // q56/q115's temperature mixes. Closed-form window-function
    // water-filling over the tiny group table; the only corpus-wide work
    // is one map-side-combinable token-count agg.
    "q167_unimax_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val total = docs.agg(
        sum(graft.ops.TextOps.tokenCount(col("text")).cast("double")))
        .first().getDouble(0)
      graft.ops.Sampling.unimaxAllocation(
        docs, Seq("lang"), graft.ops.TextOps.tokenCount(col("text")),
        budget = 0.5 * total, maxEpochs = 2.0)
    }),

    // Beyond-reference: INVERSE CLOZE TASK pair construction (Lee et al.
    // ACL 2019, the standard self-supervised retrieval-pretraining data
    // generator): per doc, one content-addressed 20-token window becomes
    // the query and the remaining windows the context — deterministic
    // (md5 window pick), pure row-local array ops, output IS the
    // training-pair stream. Docs with fewer than 2 windows are skipped.
    "q188_ict_pairs" -> ((s, dir) => {
      val ws = graft.ops.Dedup.tokenWindows(20)(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), ws.as("ws"))
        .filter(size(col("ws")) >= 2)
        .withColumn("qidx", pmod(
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long"),
          size(col("ws")).cast("long")))
        .select(col("doc_id"), col("qidx"),
          element_at(col("ws"), (col("qidx") + 1).cast("int")).as("q"),
          graft.ops.TextOps.tokenCount(array_join(
            filter(col("ws"), (_, i) => i =!= col("qidx").cast("int")), " "))
            .cast("long").as("ctx_tokens"))
    }),

    // Beyond-reference: PERCEPTUAL-HASH IMAGE NEAR-DUP — the
    // mirror/recompression screen for the image side of a crawl: REAL
    // ImageIO decode → integer dHash (4×16-bit LSH bands) + integer-DCT
    // pHash per asset, exact-hash collapse by groupBy (no pairs on the
    // mirrored-image hot case), then banded LSH + Hamming ≤ 6 verify
    // over the distinct-hash REPRESENTATIVES only. The oracle recomputes
    // both hashes in SQL from the deterministic pixel generator (the
    // codecs are lossless, so decoded pixels == generator output) and
    // replays the identical cascade.
    "q189_image_phash_dedup" -> ((s, dir) => {
      val assets = graft.ops.Multimodal.toAssets(t(s, dir, "documents"))
      graft.ops.Multimodal.imageNearDupCanon(
        graft.ops.Multimodal.perceptualHashes(assets), maxHamming = 6)
        .select(col("asset_id"), col("rep_id"), col("canon_id"),
          col("n_exact"), col("phash").cast("long").as("phash"))
    }),

    // Beyond-reference: UNIGRAM-LM TOKENIZER INDUCTION (Kudo 2018,
    // hard-EM) — the OTHER tokenizer family production LLMs ship next to
    // BPE (q123): seed vocabulary from freq-weighted substring counts,
    // then two Viterbi-E / count-M rounds with quantized integer
    // log-probs, each round ONE codegen segmentation scan over the
    // distinct-word table. The oracle replays both rounds as per-word
    // integer DP list-folds in SQL.
    "q190_unigram_fit" -> ((s, dir) => {
      graft.ops.TextOps.unigramFit(t(s, dir, "documents"), "text",
        seedExtra = 40, maxPieceLen = 3, emRounds = 2, maxWordLen = 30)
    }),

    // Beyond-reference: interpolated KNESER–NEY trigram LM quality
    // report — the LM family CCNet/KenLM filters actually use (q121's
    // add-k bigram is the strawman baseline, reported alongside as the
    // uplift): absolute discount 0.75, continuation counts for the
    // lower orders, exactly normalized. Corpus-side work is one trigram
    // explode + vocabulary-scale count tables joined back by token key.
    "q191_kn_trigram" -> ((s, dir) => {
      graft.ops.TextOps.knTrigramReport(t(s, dir, "documents"), "source", "text")
    }),

    // Beyond-reference: END-TO-END CURATION DATACARD — the FineWeb/CCNet
    // chain composed from this round's full operator set as ONE query
    // with per-stage attrition rows: sanitize (mojibake repair + NFC,
    // over the q164/q169-style deterministic plant since the fixture is
    // clean ASCII) → marker lang-ID gate → quality + repetition gate →
    // paragraph-level near-dup with reassembly → doc-level 3-gram
    // near-dup (keep-first) → contamination canary screen → UniMax
    // language mix → 512-token sequence packing. Stage frames are
    // pinned once so the cascades run once, not per
    // attrition row; rows 0-6 count surviving docs/tokens, row 7 the
    // allocated token budget, row 8 the packed bins/tokens. Doubles as
    // the composition regression test over the whole operator family.
    "q192_curation_datacard" -> ((s, dir) => {
      val T = graft.ops.TextOps
      val De = graft.ops.Dedup
      val m4 = pmod(col("doc_id"), lit(4))
      val corrupted = when(pmod(col("doc_id"), lit(5)) === 0,
        expr("replace(replace(text, 'a', 'Ã¡'), 'e', 'Ã©')"))
        .otherwise(col("text"))
      val planted = concat(corrupted,
        when(m4 === 0, lit("é")).when(m4 === 1, lit("Å"))
          .when(m4 === 2, lit("Ω")).otherwise(lit("")))
      val text1 = T.nfcNormalize(T.fixMojibake(planted))
      // Stage frames are PINNED, not persisted: the cascade plans carry
      // lambda/native expressions whose canonicalized forms defeat
      // CacheManager's lookup (measured: a persisted s6 re-ran its whole
      // lineage on EVERY downstream aggregate, ~2.6 s each at sf0.1),
      // while a pin truncates the lineage into a LogicalRDD that every
      // consumer reads directly — each stage computes exactly once. Each
      // cascade's own pins and code arrays are released as soon as the
      // stage built on it is pinned (Par.pinScoped).
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          T.tokenCount(col("text")).cast("long").as("tok0"), text1.as("text1"))
        .withColumn("tok1", T.tokenCount(col("text1")).cast("long"))
        .withColumn("p2", T.langId(col("text1")) =!= "und")
        .withColumn("p3", T.qualityScore(col("text1")) >= 0.5 &&
          T.uniqueTokenRatio(col("text1")) >= 0.4)
        // widen BEFORE the checkpoint (same rationale as q201: the
        // mojibake/NFC/langid/quality kernels parallelize and every
        // downstream cascade's Par.widen gate then no-ops).
        .transform(graft.ops.Par.widen)
        .transform(graft.ops.Par.pin)
      val s3 = base.filter(col("p2") && col("p3"))
      val s4 = graft.ops.Par.pinScoped {
        val pd = De.paragraphDedup(s3.select(col("doc_id"), col("text1")),
          "doc_id", "text1", threshold = 0.7,
          paragraphs = De.tokenWindows(20))
        s3.join(pd.filter(col("n_kept") > 0)
            .select(col("doc_id"), col("text_kept").as("text2")), "doc_id")
          .withColumn("tok2", T.tokenCount(col("text2")).cast("long"))
      }
      val s5 = graft.ops.Par.pinScoped {
        val pairs = De.nearDuplicatesExact(
          s4.select(col("doc_id"), col("text2")), "doc_id", "text2",
          threshold = 0.6, includeMinHashCandidates = false)
        s4.join(pairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      }
      val canaries = Seq("hash join", "fast data", "data data")
      val s6 = graft.ops.Par.pin(s5.filter(aggregate(
        T.ahoCounts(col("text2"), canaries), lit(0L), (a, x) => a + x) === 0L))
      // EAGER stage aggregates into a local 9-row frame: a lazy
      // 9-branch union would hand Catalyst the full multi-cascade
      // lineage NINE times over — at sf0.1 the analysis/optimization of
      // that tree alone cost ~45 s (55.8 s total vs ~13 s for the
      // stage computations; the plan string OOMs a 1 GB driver just
      // printing). Each stage is one aggregate over a persisted frame;
      // rows 0-3 share one conditional-aggregation pass over `base`.
      // The datacard is an attrition REPORT — 9 rows — so a local
      // result frame is its natural shape (the q190 model-artifact
      // pattern), and the timed work is identical.
      val r03 = base.agg(
        count(lit(1)), coalesce(sum(col("tok0")), lit(0L)),
        coalesce(sum(col("tok1")), lit(0L)),
        count(when(col("p2"), 1)),
        coalesce(sum(when(col("p2"), col("tok1"))), lit(0L)),
        count(when(col("p2") && col("p3"), 1)),
        coalesce(sum(when(col("p2") && col("p3"), col("tok1"))), lit(0L)))
        .first()
      def stageOf(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          coalesce(sum(col("tok2")), lit(0L))).first()
        (r.getLong(0), r.getLong(1))
      }
      val (d4, t4) = stageOf(s4)
      val (d5, t5) = stageOf(s5)
      val (d6, t6) = stageOf(s6)
      val um = graft.ops.Sampling.unimaxAllocation(
        s6, Seq("lang"), col("tok2"), budget = 0.5 * t6, maxEpochs = 2.0)
      val t7 = um.agg(coalesce(round(sum(col("alloc_tokens")), 0), lit(0.0))
        .cast("long")).first().getLong(0)
      val p8 = graft.ops.Packing.packSequences(
        s6.select(col("source"), col("doc_id"), col("tok2")),
        "source", "doc_id", "tok2", seqLen = 512L)
        .agg(count(lit(1)), coalesce(sum(col("seq_tokens")), lit(0L))).first()
      import s.implicits._
      Seq(
        (0L, "input", r03.getLong(0), r03.getLong(1)),
        (1L, "sanitize", r03.getLong(0), r03.getLong(2)),
        (2L, "langid", r03.getLong(3), r03.getLong(4)),
        (3L, "quality", r03.getLong(5), r03.getLong(6)),
        (4L, "paragraph_dedup", d4, t4),
        (5L, "near_dup", d5, t5),
        (6L, "decontaminate", d6, t6),
        (7L, "unimax_mix", d6, t7),
        (8L, "pack", p8.getLong(0), p8.getLong(1)))
        .toDF("stage_idx", "stage", "n_docs", "n_tokens")
    }),

    // Beyond-reference: WINNOWING-OVERLAP pair detection (the MOSS
    // matching rule, Schleimer et al. SIGMOD'03): documents sharing ≥
    // half the smaller side's distinct winnowing fingerprints, with a
    // df-cap boilerplate cut before matching. Unlike whole-document
    // Jaccard, winnowing guarantees any shared run of ≥ k+w−1 chars
    // leaves a shared fingerprint — LOCALIZED overlap, the
    // plagiarism/citation-contamination screen.
    "q195_winnowing_overlap" -> ((s, dir) => {
      graft.ops.TextOps.winnowingOverlap(
        t(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4, minOverlap = 0.5, dfCap = 64L)
    }),

    // Beyond-reference: TOKENIZER BAKE-OFF — the fit→apply composition
    // that closes the tokenizer story: q190's induced unigram vocabulary
    // (its shipped quantized log-probs ARE the encode model) against the
    // fixed BPE demo table, per-language fertility (subword tokens per
    // word) over the SAME capped word stream. The number a vocabulary
    // budget decision is made on. Encode = one codegen Viterbi scan /
    // one sentinel replace-chain over the distinct (lang, word) table.
    "q197_tokenizer_bakeoff" -> ((s, dir) => {
      val T = graft.ops.TextOps
      val docs = t(s, dir, "documents")
      val model = T.unigramFit(docs, "text").collect()
        .map(r => (r.getString(0), r.getLong(2))).toSeq.sortBy(_._1)
      val wl = docs
        .select(col("lang"),
          explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "" && length(col("w")) <= 30)
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("freq"))
      val uniSeg = org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.UnigramSegment(
          org.apache.spark.sql.GraftSqlBridge.expression(col("w")),
          model, maxPieceLen = 3))
      wl
        .withColumn("uni", size(uniSeg).cast("long"))
        .withColumn("bpe",
          size(T.bpeEncodeTokens(col("w"), T.DemoMerges)).cast("long"))
        .groupBy(col("lang"))
        .agg(sum(col("freq")).as("n_words"),
          sum(col("freq") * col("bpe")).as("bpe_tokens"),
          sum(col("freq") * col("uni")).as("uni_tokens"))
        .withColumn("bpe_fertility",
          round(col("bpe_tokens").cast("double") / col("n_words"), 6))
        .withColumn("uni_fertility",
          round(col("uni_tokens").cast("double") / col("n_words"), 6))
    }),

    // Beyond-reference: per-document KN PERPLEXITY BUCKETS — the CCNet
    // head/middle/tail split applied with q191's interpolated
    // Kneser–Ney model keyed per document: per-doc mean KN log-prob,
    // then exact corpus terciles by (kn_ll desc, doc_id) ntile — head =
    // most language-model-typical third. The corpus-wide ntile window
    // is the corpus-statistic CCNet's split inherently is; at 100 TB
    // the boundaries would come from the distributed-quantile op and
    // the bucket from two broadcast comparisons.
    "q196_kn_ppl_buckets" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perDoc = graft.ops.TextOps.knTrigramScores(
        t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("src").cast("long").as("doc_id"))
        .agg(sum(col("cnt")).as("n_trigrams"),
          round(sum(col("cnt") * col("kn_lp")) / sum(col("cnt")), 4).as("kn_ll"))
      perDoc.withColumn("bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          ntile(3).over(Window.orderBy(col("kn_ll").desc, col("doc_id")))))
    }),

    // Beyond-reference: CROSS-MODAL dedup confirmation — the crawl-page
    // rule "a text near-dup pair is a TRUE mirror when the pages' images
    // perceptually agree": q27's exact text cascade produces the
    // candidate pairs, q189's perceptual canon attributes each side's
    // image, and the verdict column separates image-confirmed mirrors
    // from text-coincidence pairs and text-only pairs (a side without an
    // image asset). Two broadcast-scale attribution joins on top of the
    // cascades — the q187 composition pattern across modalities.
    "q194_multimodal_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.nearDuplicatesExact(
        docs, "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
      val canon = graft.ops.Multimodal.imageNearDupCanon(
        graft.ops.Multimodal.perceptualHashes(
          graft.ops.Multimodal.toAssets(docs)), maxHamming = 6)
        .select(col("asset_id"), col("canon_id"))
      pairs
        .join(canon.select(col("asset_id").as("id_a"),
          col("canon_id").as("canon_a")), Seq("id_a"), "left")
        .join(canon.select(col("asset_id").as("id_b"),
          col("canon_id").as("canon_b")), Seq("id_b"), "left")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"),
          when(col("canon_a").isNull || col("canon_b").isNull, "text_only")
            .when(col("canon_a") === col("canon_b"), "confirmed")
            .otherwise("contradicted").as("verdict"))
    }),

    // Beyond-reference: AUDIO perceptual near-dup — q189's cascade for
    // the sound side: real JDK sampled-audio PCM decode → 8-frame
    // integer energy profile, gain-invariant adjacent-difference bits +
    // 4-bit coarse energies as the bucket keys, exact-profile collapse
    // first, Chebyshev-distance verify over representatives. The oracle
    // recomputes the profile from the deterministic sample generator
    // (lossless codec ⇒ decoded samples == generator output).
    "q193_audio_phash_dedup" -> ((s, dir) => {
      val assets = graft.ops.Multimodal.toAssets(t(s, dir, "documents"))
      graft.ops.Multimodal.audioNearDupCanon(
        graft.ops.Multimodal.audioFingerprints(assets), maxDelta = 4096L)
    }),

    // Beyond-reference: cross-source DUPLICATION MATRIX — near-dup pairs
    // attributed to their (source, source) cell: which sources copy from
    // which (mirror detection, licensing-leak attribution, the
    // provenance table a crawl-dedup postmortem starts from). The exact
    // cascade runs once; attribution is two broadcast-sized id→source
    // joins.
    "q187_source_copy_matrix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.nearDuplicatesExact(
        docs, "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")),
          "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")),
          "id_b")
        .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
          greatest(col("src_a"), col("src_b")).as("source_y"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("jaccard")), 6).as("avg_jaccard"))
    }),

    // Beyond-reference: DEDUP RECALL report — the headline number of a
    // probabilistic dedup system: the q93 MinHash-LSH cascade's pair
    // recall against the EXACT ground truth (the complete PPJoin
    // cascade, q27) on the same feature space and threshold. Precision
    // is 1 by construction (LSH candidates are exact-verified), so the
    // missing mass is candidate-generation misses — the 1-(1-J^r)^b
    // curve, measured. One row.
    "q186_lsh_recall" -> ((s, dir) => {
      // Both cascades run over the SAME shingle space, so the feature
      // dictionary / coded arrays / verifier are built ONCE and shared
      // (the separate nearDuplicatesExact + nearDuplicatesLshPortable
      // calls each built their own — double dictionary aggregation,
      // double per-doc collect+sort; guide §1.2 "don't compute things
      // you throw away"). Same candidate sets, same exact verification,
      // bit-identical report.
      val docs = t(s, dir, "documents")
      val De = graft.ops.Dedup
      val threshold = 0.7
      val sets = graft.ops.Par.pin(
        graft.ops.Par.widen(docs).select(col("doc_id").as("id"),
          array_distinct(De.shingles(col("text"), 3)).as("fset")))
      val (exploded, dict) = De.featureTables(sets)
      val codes = De.codedSetsFromFeatures(exploded, dict)
      val (index, probe) = De.prefixTables(codes, threshold)
      val exact = De.codedVerifyFromCodes(
        De.prefixJoin(index, probe, threshold), codes, threshold)
        .select(col("id_a"), col("id_b"))
      val lshCands = De.portableBandCandidates(
        De.portableSignatures(sets, 32), 32, 8)
      val lsh = De.codedVerifyFromCodes(lshCands, codes, threshold)
        .select(col("id_a"), col("id_b"), lit(1L).as("__hit"))
      exact.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_lsh_pairs"),
          (count(lit(1)) - coalesce(sum(col("__hit")), lit(0L))).as("n_missed"),
          round(coalesce(sum(col("__hit")), lit(0L)).cast("double") /
            count(lit(1)), 6).as("recall"))
    }),

    // Beyond-reference: CLUSTER KEYWORDS (the BERTopic recipe, Grootendorst
    // 2022 — the datamap/topic-labeling step after semantic clustering):
    // q120's deterministic k-means assigns docs to cells via the linked
    // embedding ids, then per-cluster c-TF-IDF (tf(t,c) · ln(1 + A/f(t)),
    // A = avg tokens per class) names each cluster with its top-5 terms.
    // Vocabulary-scale aggs + the window over a (cluster, vocab)-sized
    // frame; the corpus is touched once per Lloyd pass + once to tokenize.
    "q184_cluster_keywords" -> ((s, dir) => {
      val assign = graft.ops.KMeans.assign(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 4, iterations = 2)
      val toks = t(s, dir, "documents")
        .join(assign.withColumnRenamed("vec_id", "doc_id"), "doc_id")
        .select(col("cluster"),
          explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val ctf = toks.groupBy(col("cluster"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val corpusF = toks.groupBy(col("tok")).agg(count(lit(1)).as("f"))
      val avgA = toks.agg((count(lit(1)).cast("double") / 4.0).as("__A"))
      ctf.join(corpusF, "tok").crossJoin(broadcast(avgA))
        .withColumn("score",
          round(col("tf") * log(lit(1.0) + col("__A") / col("f")), 6))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("cluster"))
            .orderBy(col("score").desc, col("tok"))))
        .filter(col("rank") <= 5)
        .select(col("cluster"), col("rank").cast("long").as("rank"),
          col("tok"), col("score"))
    }),

    // Beyond-reference: SHARD INTEGRITY MANIFEST — per epoch-shuffle
    // shard, the row/token counts and an ORDER-INDEPENDENT modular
    // content digest (sum of per-doc portable hashes mod p): a training
    // loader verifies each shard it reads against the manifest whatever
    // order workers consume rows in; any engine reproduces the digests.
    "q183_shard_manifest" -> ((s, dir) => {
      val p = 1000000007L
      val sh = graft.ops.Sampling.epochShuffle(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", seed = "epoch1", numShards = 8)
      sh.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.ops.TextOps.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          pmod(sum(pmod(graft.ops.Sketches.portableHash60(
            concat(col("doc_id").cast("string"), lit(":"), col("text"))),
            lit(p))), lit(p)).as("digest"))
    }),

    // Beyond-reference: stride-scheduled source INTERLEAVING (start-time
    // fair queuing) — the training-order construction where every source
    // is consumed evenly across the epoch; by lang here so the head of
    // the order provably alternates in corpus proportion. First 60
    // positions of the global order.
    "q182_stride_interleave" -> ((s, dir) => {
      graft.ops.Sampling.interleaveByStride(
          t(s, dir, "documents").select(col("lang"), col("doc_id")),
          "lang", "doc_id")
        .orderBy(col("stride_key"), col("lang"), col("doc_id"))
        .limit(60)
        .select(row_number().over(Window.orderBy(
            col("stride_key"), col("lang"), col("doc_id"))).cast("long")
            .as("position"),
          col("lang"), col("doc_id"), round(col("stride_key"), 8).as("k"))
    }),

    // Beyond-reference: event-time LATENESS audit — the measurement a
    // streaming watermark is tuned on: with arrival order = ingest id,
    // how far behind the running event-time high-water mark do late rows
    // arrive, per event type? One per-type window over arrival order
    // (sub-partition by ingest chunk at 100 TB), exact percentiles of
    // the lateness distribution.
    "q181_lateness_audit" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .withColumn("__t", expr("unix_micros(ts)"))
        .withColumn("__hwm", max(col("__t")).over(w))
        .withColumn("__late_s",
          when(col("__hwm") > col("__t"),
            (col("__hwm") - col("__t")).cast("double") / 1000000.0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("__late_s")).as("n_late"),
          round(percentile(col("__late_s"), lit(0.5)), 6).as("p50_late_s"),
          round(percentile(col("__late_s"), lit(0.9)), 6).as("p90_late_s"),
          round(max(col("__late_s")), 6).as("max_late_s"))
    }),

    // Beyond-reference: MinHash estimator CALIBRATION — signed error of
    // the signature-agreement Jaccard estimate vs the exact coded-set
    // Jaccard over the LSH candidates, 0.1-bucketed; the measurement a
    // (bands, rows) choice rests on. Portable md5 double-hash family so
    // DuckDB replays every coordinate bit-for-bit. The report makes the
    // family's KNOWN defect visible: double-hashed coordinates are
    // correlated (a pair sharing the globally-minimizing shingle agrees
    // on EVERY h1+j·h2), so low-Jaccard candidates show large positive
    // error — they are verified away by the exact pass, at candidate-
    // volume cost; the production seededHash family doesn't correlate.
    "q180_lsh_calibration" -> ((s, dir) => {
      graft.ops.Dedup.lshCalibration(
        t(s, dir, "documents"), "doc_id", "text")
    }),

    // Beyond-reference: INTERVAL-OVERLAP JOIN — variable-length activity
    // windows (10..92 min, scaled by event value) per user, pairs whose
    // windows overlap, via bucketized equi-join with algebraic dedup
    // (kept in the bucket of the overlap's left edge). Spark would plan
    // the raw predicate as a per-key cross product; this shuffles on
    // (user, hour-bucket). Per-user overlapping-pair counts.
    "q179_interval_overlap" -> ((s, dir) => {
      val iv = events(s, dir).select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("s0"), col("value"))
        .withColumn("e0", col("s0") +
          floor((lit(600.0) + col("value") * 10.0) * 1000000.0).cast("long"))
      val a = iv.select(col("user_id"), col("event_id").as("a_id"),
        col("s0").as("a_s"), col("e0").as("a_e"))
      val b = iv.select(col("user_id"), col("event_id").as("b_id"),
        col("s0").as("b_s"), col("e0").as("b_e"))
      graft.ops.IntervalJoin.overlapJoin(a, b, Seq("user_id"),
          "a_s", "a_e", "b_s", "b_e", bucketWidth = 3600L * 1000000L)
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // Beyond-reference: per-group TOP-K as a bounded-heap mergeable
    // aggregate. Spark 4's WindowGroupLimit already prunes the window
    // idiom's shuffle to k rows per (partition, group) — but it still
    // fully SORTS every input partition AND every reduce group
    // (O(n log n) twice); the heap aggregate replaces both sorts with
    // O(n log k) sift in constant memory. Top-5 longest docs per source;
    // the oracle is the window spelling.
    "q178_topk_agg" -> ((s, dir) => {
      graft.ops.Sketches.topKPerGroup(
        t(s, dir, "documents"), Seq("source"), "n_chars", "doc_id", k = 5)
    }),

    // Beyond-reference: EPOCH EXPANSION — q167's UniMax allocation
    // realized as an actual oversampled training stream: floor(epochs)
    // full copies per doc plus a content-addressed fractional share
    // (budget 1.2x corpus, 3-epoch cap, so small languages hit the cap
    // and large ones land fractional). Per-language realized-vs-target
    // epochs; zero RNG state, engine-reproducible.
    "q177_epoch_expand" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val total = docs.agg(
        sum(graft.ops.TextOps.tokenCount(col("text")).cast("double")))
        .first().getDouble(0)
      val alloc = graft.ops.Sampling.unimaxAllocation(
        docs, Seq("lang"), graft.ops.TextOps.tokenCount(col("text")),
        budget = 1.2 * total, maxEpochs = 3.0)
        .select(col("lang"), col("epochs"))
      val expanded = graft.ops.Sampling.epochExpand(
        docs.join(broadcast(alloc), "lang"), "doc_id", col("epochs"))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
        .join(expanded.groupBy(col("lang")).agg(count(lit(1)).as("n_out")),
          Seq("lang"), "left")
        .join(broadcast(alloc), "lang")
        .select(col("lang"), col("n_in"), coalesce(col("n_out"), lit(0L)).as("n_out"),
          col("epochs").as("target_epochs"),
          round(coalesce(col("n_out"), lit(0L)).cast("double") / col("n_in"), 6)
            .as("realized_epochs"))
    }),

    // Beyond-reference: SQ8 codec QUALITY report — per-dimension code
    // mass (integer-exact across engines) and reconstruction MSE of the
    // q111 scalar quantizer; the fidelity report a team reads before
    // switching the serving index to 4x-smaller codes. One posexplode +
    // per-dim agg; bounds are the same 2·dim literal broadcast q111 uses.
    "q175_sq8_error" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      val (lo, span) = graft.ops.Similarity.sqBounds(emb, "v")
      val loL = lit(lo)
      val spanL = lit(span)
      emb.select(posexplode(col("v").cast("array<double>")).as(Seq("pos", "x")))
        .withColumn("__lo", element_at(loL, col("pos") + 1))
        .withColumn("__span", element_at(spanL, col("pos") + 1))
        .withColumn("code", least(greatest(
          round((col("x") - col("__lo")) / col("__span") * 255.0),
          lit(0.0)), lit(255.0)).cast("long"))
        .withColumn("rec",
          col("__lo") + col("code").cast("double") * col("__span") / 255.0)
        .groupBy(col("pos"))
        .agg(sum(col("code")).as("code_sum"),
          round(avg((col("x") - col("rec")) * (col("x") - col("rec"))), 12)
            .as("mse"))
    }),

    // Beyond-reference: Matryoshka truncation audit — per-query cosine
    // top-1 agreement between the full 64-dim embedding and its 16-dim
    // prefix; the go/no-go number for serving truncated vectors.
    "q176_matryoshka_top1" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 30)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.truncationAgreement(q, c, dims = 16)
    }),

    // Beyond-reference: vocabulary COVERAGE curve — fraction of corpus
    // token mass covered by the top-k types, the number tokenizer vocab
    // sizes are chosen on. One token-count agg, one vocabulary-scale
    // rank window, k-fanout via a tiny cross join; corpus never
    // re-scanned per k.
    "q173_vocab_coverage" -> ((s, dir) => {
      import s.implicits._
      val ks = Seq(1, 2, 5, 10, 20)
      val freqs = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      val ranked = freqs.withColumn("rank",
        row_number().over(Window.orderBy(col("f").desc, col("tok"))))
      val tot = freqs.agg(sum(col("f")).as("__tot"))
      ranked.crossJoin(broadcast(tot))
        .crossJoin(broadcast(
          ks.toDF("k")))
        .groupBy(col("k"))
        .agg(sum(when(col("rank") <= col("k"), 1L).otherwise(0L)).as("n_types"),
          round(sum(when(col("rank") <= col("k"), col("f")).otherwise(0L))
            .cast("double") / first(col("__tot")), 6).as("coverage"))
    }),

    // Beyond-reference: per-source distribution drift — KL divergence of
    // each source's token distribution from the corpus distribution
    // (add-one smoothing over the shared vocabulary; summed over the
    // source's OBSERVED types — absent-type mass is 1/(st+V) per type,
    // negligible and omitted identically by the oracle), the
    // domain-shift / contamination screen run before mixing a new source
    // in. Two vocabulary-scale aggs + one bucket equi-join.
    "q174_source_kl" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val vocabN = toks.select(countDistinct(col("tok")).as("__v"))
      val corpus = toks.groupBy(col("tok")).agg(count(lit(1)).as("cf"))
      val corpusTot = corpus.agg(sum(col("cf")).as("__ct"))
      val bySrc = toks.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("sf"))
      val srcTot = bySrc.groupBy(col("source")).agg(sum(col("sf")).as("st"))
      bySrc.join(srcTot, "source")
        .join(corpus, "tok")
        .crossJoin(broadcast(vocabN))
        .crossJoin(broadcast(corpusTot))
        .withColumn("__ps", (col("sf") + 1).cast("double") /
          (col("st") + col("__v")))
        .withColumn("__pc", (col("cf") + 1).cast("double") /
          (col("__ct") + col("__v")))
        .groupBy(col("source"))
        .agg(sum(col("sf")).as("n_tokens"),
          round(sum(col("__ps") * log(col("__ps") / col("__pc"))), 6)
            .as("kl_nats"))
    }),

    // Beyond-reference: blocklist/canary screen via native Aho–Corasick —
    // all terms counted in ONE text pass per doc (a 10^5-term blocklist
    // at 100 TB cannot afford per-term scans or a regex alternation).
    // Per-term hit totals and affected-doc counts; terms chosen with no
    // self-border, so the oracle's non-overlapping replace-count equals
    // the automaton's all-occurrence count.
    "q172_blocklist_screen" -> ((s, dir) => {
      val terms = Seq("slow", "big data", "error", "merge", "stream agg")
      t(s, dir, "documents")
        .select(posexplode(
          graft.ops.TextOps.ahoCounts(col("text"), terms)).as(Seq("i", "c")))
        .select(element_at(
          array(terms.map(lit): _*), col("i") + 1).as("term"), col("c"))
        .groupBy(col("term"))
        .agg(count(when(col("c") > 0, 1)).as("n_docs"),
          sum(col("c")).as("n_hits"))
    }),

    // Beyond-reference: tokenizer FERTILITY report (the multilingual-
    // tokenizer health metric: subword tokens per word, chars per token,
    // per language) — q129's sentinel replace-chain BPE encoder applied
    // per doc, reduced to three map-side-combinable sums per language.
    // High-fertility languages burn context window; this is the number
    // vocabulary allocation decisions are made on.
    "q170_tokenizer_fertility" -> ((s, dir) => {
      val words = filter(split(lower(col("text")), "\\s+"), w => w =!= "")
      t(s, dir, "documents")
        .select(col("lang"),
          size(words).cast("long").as("__w"),
          aggregate(words, lit(0L), (acc, w) => acc + length(w)).as("__c"),
          size(graft.ops.TextOps.bpeEncodeTokens(
            col("text"), graft.ops.TextOps.DemoMerges)).cast("long").as("__t"))
        .groupBy(col("lang"))
        .agg(sum(col("__w")).as("n_words"),
          sum(col("__t")).as("n_tokens"),
          round(sum(col("__t")).cast("double") / sum(col("__w")), 6)
            .as("fertility"),
          round(sum(col("__c")).cast("double") / sum(col("__t")), 6)
            .as("chars_per_token"))
    }),

    // Beyond-reference: Unicode NFC sanitation audit — canonical
    // composition (UAX #15) as a native codegen expression with an
    // allocation-free already-normalized fast path. The fixture is pure
    // ASCII, so (q164-style) deterministic decomposed suffixes are
    // appended in-query: combining acute, combining ring, and the OHM
    // SIGN singleton; the oracle replays through DuckDB's own
    // nfc_normalize. Per-source changed-doc counts and code-point delta.
    "q169_nfc_audit" -> ((s, dir) => {
      val m = pmod(col("doc_id"), lit(4))
      val suffix = when(m === 0, lit("e\u0301"))   // e + COMBINING ACUTE
        .when(m === 1, lit("A\u030A"))   // A + COMBINING RING
        .when(m === 2, lit("\u2126"))     // OHM SIGN (NFC singleton)
        .otherwise(lit(""))
      val raw = concat(col("text"), suffix)
      t(s, dir, "documents")
        .select(col("source"), raw.as("r"),
          graft.ops.TextOps.nfcNormalize(raw).as("n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("n") =!= col("r"), 1)).as("n_changed"),
          sum((length(col("r")) - length(col("n"))).cast("long")).as("cp_delta"))
    }),

    "q164_mojibake_repair" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isCorrupt = pmod(col("doc_id"), lit(5)) === 0
      val corrupted = when(isCorrupt,
        expr("replace(replace(text, 'a', 'Ã¡'), 'e', 'Ã©')"))
        .otherwise(col("text"))
      val target = when(isCorrupt,
        expr("replace(replace(text, 'a', 'á'), 'e', 'é')"))
        .otherwise(col("text"))
      docs.select(col("source"), corrupted.as("c"),
          graft.ops.TextOps.fixMojibake(corrupted).as("f"), target.as("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("f") =!= col("c"), 1)).as("n_repaired"),
          count(when(col("f") === col("t"), 1)).as("n_exact"))
    }),

    // Beyond-reference: PARAGRAPH-level near-dup with document
    // reassembly (RefinedWeb/CCNet sub-document dedup) — 20-token
    // windows as paragraph units (the fixture is single-line), the
    // exact coded-sets cascade at paragraph granularity, first-arrival
    // keep, per-doc kept mask + rebuilt text. DuckDB replays the
    // segmentation and the all-pairs Jaccard drop rule exactly.
    "q165_paragraph_dedup" -> ((s, dir) => {
      graft.ops.Dedup.paragraphDedup(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.7,
        paragraphs = graft.ops.Dedup.tokenWindows(20))
    }),

    // Beyond-reference: char-n-gram naive-Bayes LANGUAGE ID (the
    // fastText/langid.py recipe with a deterministic replayable model):
    // fit on the first 20 docs per language, integer-quantized add-one
    // log-likelihoods over a top-200 trigram vocabulary, classify the
    // rest, per-language test/pred/correct counts. NOTE: the fixture's
    // lang labels are synthetic and uncorrelated with its (uniformly
    // English-ish) text, so near-chance accuracy here is a property of
    // the data, not the classifier — OpsSpec pins real separability on
    // a corpus whose classes actually differ.
    "q166_langid" -> ((s, dir) => {
      graft.ops.Classify.charNgramLangId(
        t(s, dir, "documents"), "doc_id", "text", "lang",
        n = 3, vocabSize = 200, trainPerClass = 20)
    }),

    // Beyond-reference: ANN recall report — per-query recall@10 of the
    // deterministic fixed-centroid IVF (nprobe=2 of 4 cells) against
    // brute force; the number that justifies the probe fraction.
    "q163_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val centroids = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("centroid"))
      val approx = graft.ops.Similarity.ivfTopKWithCentroids(
        queries, corpus, centroids, k = 10, nprobe = 2)
      val exact = graft.ops.Similarity.bruteForceTopK(queries, corpus, 10)
      graft.ops.Similarity.recallReport(approx, exact)
    }),

    // Beyond-reference: retrieval-quality metrics — per-query MRR and
    // NDCG@10 with label relevance over the cosine top-k; the standing
    // evaluation loop for the ANN/retrieval family.
    "q162_retrieval_metrics" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val corpus = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"), col("label").as("c_label"))
      graft.ops.Similarity.retrievalMetrics(queries, corpus, k = 10)
    }),

    // Beyond-reference: kNN label audit (Confident-Learning-style
    // mislabel screen) — majority label among the 5 nearest neighbors,
    // suspect where the neighborhood disagrees with the stored label.
    "q155_knn_label_audit" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val corpus = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"), col("label").as("c_label"))
      graft.ops.Similarity.knnLabelAudit(queries, corpus, k = 5)
    }),

    // Beyond-reference: MMR diversified retrieval (Carbonell 1998) —
    // greedy λ·rel − (1−λ)·max-sim over the top-8 pool, k=3 picks per
    // query; every greedy round is one aggregate + bounded joins.
    "q151_mmr_retrieval" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      graft.ops.Similarity.mmrTopK(queries, corpus,
        poolSize = 8, k = 3, lambda = 0.7)
    }),

    // Beyond-reference: cross-source QUANTILE NORMALIZATION of quality
    // scores — each doc's score maps to the pooled distribution's value
    // at its within-source rank fraction (rank machinery from
    // ops.Quantiles: range-partition + broadcast offsets, no
    // low-cardinality window); reports per-source calibration shift.
    "q144_quantile_norm" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          round(graft.ops.TextOps.qualityScore(col("text")), 6).as("score"))
      val ws = graft.ops.Quantiles
        .withGroupRank(scored, Seq("source"), Seq("score", "doc_id"))
        .withColumnRenamed("__rn", "r").withColumnRenamed("__n", "n")
      val pooled = graft.ops.Quantiles
        .withGroupRank(scored.withColumn("__g", lit(1)), Seq("__g"),
          Seq("score", "doc_id"))
        .select(col("score").as("gscore"), col("__rn").as("gr"))
      val nTot = scored.agg(count(lit(1)).as("pool_total"))
      ws.crossJoin(broadcast(nTot))
        .withColumn("idx", expr("(r * pool_total + n - 1) div n"))
        .join(pooled, col("idx") === col("gr"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("score")), 4).as("raw_mean"),
          round(avg(col("gscore")), 4).as("norm_mean"),
          round(max(abs(col("score") - col("gscore"))), 4).as("max_shift"))
    }),

    // Beyond-reference: token burstiness — chi-square of each top
    // token's source distribution vs the corpus source shares; the
    // template/jargon-marker diagnostic. Full top-N x sources grid is
    // broadcast-scale; zero cells contribute their expectation.
    "q142_token_burstiness" -> ((s, dir) => {
      graft.ops.TextOps.tokenBurstiness(
        t(s, dir, "documents"), "source", "text", topN = 50, topK = 15)
    }),

    // Beyond-reference: time-decayed engagement — sum of value halved
    // per elapsed half-life window (integer div, exact powers of two,
    // no transcendental drift); top-10 users by recency-weighted score.
    "q143_decayed_engagement" -> ((s, dir) => {
      graft.ops.Analytics.decayedEngagement(
        events(s, dir), "user_id", "ts", "value", halfLifeDays = 7)
        .orderBy(col("score").desc, col("user_id"))
        .limit(10)
    }),

    // Beyond-reference: local clustering coefficients — 2T(v)/(d(d-1))
    // over the interaction graph, reusing the degree-oriented triangle
    // machinery; top-10 by (clustering, degree, id).
    "q140_clustering_coeff" -> ((s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.clusteringCoefficients(edges)
        .orderBy(col("clustering").desc, col("degree").desc, col("user_id"))
        .limit(10)
        .select(col("user_id"), col("degree"), col("n_triangles"), col("clustering"))
    }),

    // Beyond-reference: pairwise source-vocabulary Jaccard — the
    // mixture-redundancy diagnostic; distinct (source, token) pass +
    // token bucket join (fan-out <= sources^2 per token) + broadcast
    // sizes. Top-15 most-overlapping source pairs.
    "q141_vocab_overlap" -> ((s, dir) => {
      graft.ops.TextOps.sourceVocabOverlap(
        t(s, dir, "documents"), "source", "text")
        .orderBy(col("jaccard").desc, col("src_a"), col("src_b"))
        .limit(15)
    }),

    // Beyond-reference: k-core peeling over the interaction graph —
    // three fixed rounds of degree-< k vertex removal (one degree
    // count + two semi-joins per round, nothing collected); top-10
    // surviving users by (core degree, id).
    "q139_kcore" -> ((s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.kCoreMembers(edges, k = 3, rounds = 3)
        .orderBy(col("core_degree").desc, col("user_id"))
        .limit(10)
    }),

    // Beyond-reference: the Gopher quality-rule pack (Rae et al. 2021
    // §A1.1) — word-count/mean-length windows, symbol ratios,
    // bullet/ellipsis line fractions, alphabetic-word fraction,
    // stop-word presence; one codegen scan with per-rule attribution,
    // aggregated to per-rule pass counts.
    "q138_gopher_filter" -> ((s, dir) => {
      val f = graft.ops.TextOps.gopherFilter(t(s, dir, "documents"), "doc_id", "text")
      f.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pass_word_count"), 1L).otherwise(0L)).as("n_word_count"),
        sum(when(col("pass_mean_word_len"), 1L).otherwise(0L)).as("n_mean_word_len"),
        sum(when(col("pass_hash_ratio"), 1L).otherwise(0L)).as("n_hash_ratio"),
        sum(when(col("pass_ellipsis_ratio"), 1L).otherwise(0L)).as("n_ellipsis_ratio"),
        sum(when(col("pass_bullet_lines"), 1L).otherwise(0L)).as("n_bullet_lines"),
        sum(when(col("pass_ellipsis_lines"), 1L).otherwise(0L)).as("n_ellipsis_lines"),
        sum(when(col("pass_alpha_words"), 1L).otherwise(0L)).as("n_alpha_words"),
        sum(when(col("pass_stop_words"), 1L).otherwise(0L)).as("n_stop_words"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
    }),

    // Beyond-reference: greedy k-center coreset (Gonzalez 1985) — the
    // deterministic diversity-selection step (2-approx covering
    // radius): seed at the smallest id, then repeatedly take the point
    // farthest (round-8 squared L2, ties to lower id) from its nearest
    // selected center. Each round is one codegen min-over-centers scan
    // + one argmax aggregate; the driver holds only k vectors.
    "q137_kcenter_coreset" -> ((s, dir) => {
      graft.ops.KMeans.kCenters(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 6)
        .select(col("rank"), col("id").as("vec_id"), col("sel_dist"))
    }),

    // Beyond-reference: Adamic–Adar link prediction over the interaction
    // graph — candidate (non-adjacent) pairs scored by sum 1/ln(deg) of
    // their common neighbors, hub centers (deg > 128) excluded from wedge
    // generation (their quadratic wedge sets carry near-constant signal).
    // Top-20 predicted links; the training-data companion to q159's
    // negative edges.
    "q168_adamic_adar" -> ((s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.adamicAdar(edges, maxHubDegree = 128, minCommon = 2)
        .orderBy(col("aa_score").desc, col("u"), col("v"))
        .limit(20)
    }),

    // Beyond-reference: triangle counting over the temporal interaction
    // graph — degree-oriented wedge join (Suri & Vassilvitskii WWW'11):
    // every edge orients from its (degree, id)-smaller endpoint, wedges
    // form only at sources (out-degree O(sqrt(E)) regardless of hubs),
    // one closing equi-join, map-side corner count. Top-10 users by
    // triangle participation.
    "q136_triangle_count" -> ((s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.triangleCounts(edges)
        .orderBy(col("n_triangles").desc, col("user_id"))
        .limit(10)
    }),

    // Beyond-reference: NEIGHBORHOOD FUNCTION (ANF / HyperANF family) —
    // N(h) = how many (v, w) pairs sit within h hops, the quantity
    // behind effective-diameter and reachability profiling of the
    // interaction graph. Exact iterative frontier expansion below the
    // node gate (this fixture: 150 nodes); above it the SAME operator
    // switches to HyperBall — one 64-register HLL per node max-merged
    // along edges per hop, O(nodes × 64 B) state at any graph size
    // (accuracy pinned by OpsSpec on a gate-lifted fixture; the sketch
    // path is estimate-valued, so the oracle covers the exact path).
    // The oracle replays the BFS with a hop-capped recursive CTE over
    // the same lag-derived edges as q136.
    "q236_neighborhood_function" -> ((s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.neighborhoodFunction(edges, maxHops = 4)
        .orderBy(col("hop"))
    }),

    // Beyond-reference: APPEND-MODE WATERMARKED WINDOWED AGGREGATION —
    // the streaming-agg output mode not yet in the corpus: hourly
    // tumbling counts emitted ONLY when the watermark passes the window
    // end (each window finalized exactly once — the mode a downstream
    // exactly-once sink wants). Commit-order replay keeps event time
    // monotone, so the drained sink holds precisely the windows whose
    // end ≤ final watermark (max event time − delay); the oracle
    // replays that cutoff arithmetically. Tail windows inside the
    // delay horizon are correctly ABSENT — the honest semantics, not a
    // full-drain equivalence.
    "q252_stream_window_append" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q252_sink"
      s.catalog.dropTempView(sink)
      val src = normTs(s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "8").load())
      val agg = src.withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").cast("long").as("bucket_start"),
          col("event_type"), col("n_events"))
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).orderBy(col("bucket_start"), col("event_type"))
    }),

    // Beyond-reference: BOUNDED-HOP CHEAPEST PATHS — min-plus
    // (Bellman–Ford) relaxation from 10 seed users over the weighted
    // directed interaction graph, 3 rounds: per-round equi-join +
    // min-merge with the CC/ANF lineage discipline, parallel edges
    // pre-reduced to their cheapest weight. Exact integer costs; the
    // oracle enumerates every ≤3-hop walk and must land on the same
    // minima.
    "q251_shortest_paths" -> ((s, dir) => {
      val ev = events(s, dir)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val edges = ev
        .withColumn("__prev", lag(col("user_id"), 1).over(w))
        .filter(col("__prev").isNotNull && col("__prev") =!= col("user_id"))
        .select(col("__prev").as("src"), col("user_id").as("dst"),
          (lit(1L) + pmod(col("event_id"), lit(7L))).as("w"))
      val seeds = s.range(10).select(col("id").as("seed"))
      val dist = graft.ops.Analytics.boundedShortestPaths(edges, seeds, maxHops = 3)
      val census = dist.filter(col("node") =!= col("seed"))
        .groupBy(col("seed"))
        .agg(count(lit(1)).as("n_reached"), sum(col("cost")).as("cost_sum"),
          max(col("cost")).as("cost_max"))
      seeds.join(census, Seq("seed"), "left")
        .select(col("seed"),
          coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          coalesce(col("cost_sum"), lit(0L)).as("cost_sum"),
          coalesce(col("cost_max"), lit(0L)).as("cost_max"))
        .orderBy(col("seed"))
    }),

    // Beyond-reference: STREAM-STATIC BROADCAST JOIN — the remaining
    // streaming join mode (q237 covers stream-stream): the event
    // stream enriched against the static customer dimension with a
    // broadcast hash join INSIDE the micro-batch plan (no state store
    // at all — the dimension rides the broadcast, the right posture
    // when one side is a bounded dim at any stream length). Full drain
    // equals the batch join.
    "q250_stream_static_join" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q250_sink"
      s.catalog.dropTempView(sink)
      val cust = t(s, dir, "customer")
        .select((col("c_custkey") - 1).as("user_id"), col("c_mktsegment"))
      val src = s.readStream.format("graft").option("path", path)
        .option("maxFilesPerTrigger", "8").load()
      val joined = src.select(col("user_id"), col("value"))
        .join(broadcast(cust), Seq("user_id"))
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("value_sum"))
        .orderBy(col("c_mktsegment"))
    }),

    // Beyond-reference: TEMPORAL REACHABILITY — time-respecting BFS
    // (edge times never decrease along a path) from 10 seed users over
    // the directed temporal interaction graph, 3 hops: the influence/
    // contagion primitive a static BFS answers WRONGLY. Min-arrival
    // relaxation (provably sound+complete for this semantics — an
    // earlier arrival admits a superset of onward edges) keeps one row
    // per (seed, node); per-round equi-join + min-merge with the
    // CC/ANF lineage discipline. The census sums exact earliest
    // arrivals in micros.
    "q249_temporal_reach" -> ((s, dir) => {
      val edges = graft.ops.Analytics.temporalEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      val seeds = s.range(10).select(col("id").as("seed"))
      val dist = graft.ops.Analytics.temporalReachability(edges, seeds, maxHops = 3)
      val census = dist.filter(col("node") =!= col("seed"))
        .groupBy(col("seed"))
        .agg(count(lit(1)).as("n_reached"), sum(col("t")).as("arrival_sum_us"))
      seeds.join(census, Seq("seed"), "left")
        .select(col("seed"),
          coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          coalesce(col("arrival_sum_us"), lit(0L)).as("arrival_sum_us"))
        .orderBy(col("seed"))
    }),

    // Beyond-reference: EFFECTIVE DIAMETER from the q236 neighborhood
    // function — the smallest hop reaching ≥ 90% of the maximal
    // reachable-pair mass, decided in pure integers (10·N(h) ≥ 9·N(max),
    // no float ceil ambiguity). The ANF/HyperBall machinery does the
    // work; this is the one-row reachability summary a graph datacard
    // reports.
    "q246_effective_diameter" -> ((s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      val nf = graft.ops.Analytics.neighborhoodFunction(edges, maxHops = 4)
      val maxRow = nf.agg(max(col("n_pairs")).as("n_pairs_max"))
      nf.crossJoin(broadcast(maxRow))
        .filter(col("n_pairs") * 10 >= col("n_pairs_max") * 9)
        .groupBy(col("n_pairs_max"))
        .agg(min(col("hop")).cast("long").as("hop_eff"))
        .select(col("hop_eff"), col("n_pairs_max"))
    }),

    // Beyond-reference: DIRECTIONAL AS-OF JOIN (the pandas merge_asof
    // direction surface) — NEAREST-purchase attribution per click,
    // ties to backward: two one-shuffle running-last walks (time asc /
    // time desc, right before left at equal stamps) + a row-local
    // closer-side pick on integral micros. Census per user over the
    // matched distances.
    "q247_asof_nearest" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
          col("event_id").as("cid"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
          col("event_id").as("pid"))
        .groupBy(col("user_id"), col("p_us"))
        .agg(min(col("pid")).as("pid")) // deterministic under µs ties
      val nearest = graft.ops.AsofJoin.asofJoinDirected(
        clicks, purch, Seq("user_id"), "c_us", "p_us", Seq("pid"), "nearest")
      nearest.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_clicks"),
          sum(when(col("pid").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(abs(col("c_us") - col("__asof_t"))).as("sum_abs_dt_us"),
          countDistinct(col("pid")).cast("long").as("n_distinct_purch"))
        .orderBy(col("user_id"))
    }),

    // Beyond-reference: STREAM-STREAM WATERMARKED INTERVAL JOIN — the
    // one core Structured Streaming operator shape the streaming family
    // lacked: click→purchase attribution where BOTH sides are streams
    // (two independent graft sources over the versioned events table),
    // each watermarked, joined on user equality + an event-time range
    // ([cts, cts+30min]) so Spark can bound BOTH state stores and
    // evict matched-out rows as the min-watermark advances. Append-mode
    // pairs land in the sink; the census is a batch aggregate over it.
    // The watermark delay is set beyond the fixture's 30-day horizon so
    // this bounded replay drain is EXACTLY the batch join (no late
    // drops — micro-batch file order within a version is not
    // time-ordered); the production eviction/late-drop semantics are
    // pinned deterministically in StreamStreamJoinSpec with
    // one-file-per-commit fixtures.
    "q237_stream_stream_join" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q237_sink"
      s.catalog.dropTempView(sink)
      def side(tpe: String) = normTs(
        s.readStream.format("graft").option("path", path)
          .option("maxFilesPerTrigger", "8").load())
        .filter(col("event_type") === tpe)
      val clicks = side("click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("cid"))
        .withWatermark("cts", "35 days")
      val purchases = side("purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"),
          col("event_id").as("pid"), col("value"))
        .withWatermark("pts", "35 days")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
      val q = joined
        .select(col("user_id"), col("cid"), col("pid"), col("value"))
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("cid")).cast("long").as("n_clicks_attr"),
          countDistinct(col("pid")).cast("long").as("n_purch_attr"),
          round(sum(col("value")), 2).as("value_sum"))
    }),

    // Beyond-reference: SCORER EVALUATION — tie-aware ROC-AUC
    // (Mann–Whitney U) of each of the first 8 embedding dimensions as a
    // ranker for the binary label (cluster id < 5). The per-dim walk is
    // one corpus aggregate to (dim, score) cells + one higher-order fold
    // over the per-dim sorted cell array (bounded by the quantization
    // grid, never corpus rows) — no global window, no collect. U2 is an
    // exact integer so the ranking quality is bit-replayable.
    "q238_scorer_auc" -> ((s, dir) => {
      val pts = t(s, dir, "embeddings")
        .select(posexplode(slice(col("embedding"), 1, 8)).as(Seq("dim", "__v")),
          (col("label") < 5).as("__pos"))
        .select(col("dim").cast("long").as("dim"),
          graft.ops.Eval.micro(col("__v")).as("__q"), col("__pos"))
      graft.ops.Eval.aucByGroup(pts, "dim", "__q", "__pos")
        .orderBy(col("dim"))
    }),

    // Beyond-reference: AVERAGE PRECISION (PR-AUC) — q238's companion
    // ranking metric, same cell machinery with a descending-score fold;
    // tie blocks contribute block-end precision, each term floored to
    // integer picounits before summing so the accumulation is exact in
    // any engine and any order.
    "q243_scorer_ap" -> ((s, dir) => {
      val pts = t(s, dir, "embeddings")
        .select(posexplode(slice(col("embedding"), 1, 8)).as(Seq("dim", "__v")),
          (col("label") < 5).as("__pos"))
        .select(col("dim").cast("long").as("dim"),
          graft.ops.Eval.micro(col("__v")).as("__q"), col("__pos"))
      graft.ops.Eval.avgPrecisionByGroup(pts, "dim", "__q", "__pos")
        .orderBy(col("dim"))
    }),

    // Beyond-reference: LINEAR PROBE feature screening — univariate
    // least-squares fit of the cluster label on each of the first 8
    // embedding dimensions from five exact integer sums (one map-side-
    // combinable aggregate; the closed form is a single pinned IEEE
    // expression both engines replay identically). The r² column ranks
    // dimensions by explanatory power — the cheap-first probe a
    // curation pipeline runs before training anything.
    "q239_linear_probe" -> ((s, dir) => {
      val pts = t(s, dir, "embeddings")
        .select(posexplode(slice(col("embedding"), 1, 8)).as(Seq("dim", "__v")),
          col("label").cast("long").as("__y"))
        .select(col("dim").cast("long").as("dim"),
          graft.ops.Eval.micro(col("__v")).as("__x"), col("__y"))
      graft.ops.Eval.linearProbeByGroup(pts, "dim", "__x", "__y")
        .orderBy(col("dim"))
    }),

    // Beyond-reference: SPEARMAN RANK CORRELATION between the first 4
    // embedding dimensions (signal-redundancy audit over quality
    // features). Global ranks come from the range-partitioned
    // rank machinery (no single-partition window), ties broken by
    // vec_id so ranks are a permutation and Σd² is an exact integer.
    "q240_spearman_dims" -> ((s, dir) => {
      val pts = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 4)).as(Seq("dim", "__v")))
        .select(col("dim").cast("long").as("dim"), col("vec_id"),
          graft.ops.Eval.micro(col("__v")).as("__q"))
      graft.ops.Eval.spearmanPairs(pts, "dim", "vec_id", "__q")
        .select(col("series_a").as("dim_a"), col("series_b").as("dim_b"),
          col("n"), col("sum_d2"), col("spearman"))
        .orderBy(col("dim_a"), col("dim_b"))
    }),

    // Beyond-reference: PARETO SKYLINE data selection — the documents
    // (here: vectors) not dominated on two maximized axes, the
    // multi-objective cut ("no other candidate is at least as good on
    // both quality signals and better on one"). Distributed as a
    // cell-reduction + range-partitioned prefix-MAX scan (the
    // withGroupRank offsets pattern) — no single-partition window, no
    // driver collect; the dominance test collapses to one strict
    // compare against the running maximum.
    "q242_pareto_skyline" -> ((s, dir) => {
      val pts = t(s, dir, "embeddings").select(col("vec_id"),
        graft.ops.Eval.micro(element_at(col("embedding"), 1)).as("x"),
        graft.ops.Eval.micro(element_at(col("embedding"), 2)).as("y"))
      graft.ops.Skyline.skyline2D(pts, "vec_id", "x", "y")
        .orderBy(col("vec_id"))
    }),

    // Beyond-reference: STREAMING AUC — the q238 ranking metric
    // maintained INCREMENTALLY over the document stream: per-language
    // state is the score-cell histogram (bounded by the scorer's
    // 64-bucket grid, never the stream length); each trigger re-emits
    // the running integer (n_pos, n_neg, 2U) and the drained emission
    // hash-matches the batch walk the oracle replays — the
    // incremental==from-scratch proof, applied to model evaluation.
    "q244_stream_auc" -> ((s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q244_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1").load()
      val scored = src.select(col("lang"),
          least(lit(63L), expr("n_chars div 10")).as("score"),
          (pmod(col("doc_id"), lit(3)) === 0).as("pos"))
        .as[(String, Long, Boolean)]
      val running = scored.groupByKey(_._1)
        .mapGroupsWithState[Map[Long, (Long, Long)], (String, Long, Long, Long)](
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          graft.ops.Incremental.runningAuc)
        .toDF("lang", "n_pos", "n_neg", "u2")
      val q = running.writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("lang"))
        .agg(max_by(struct(col("n_pos"), col("n_neg"), col("u2")),
          col("n_pos") + col("n_neg")).as("f"))
        .select(col("lang"), col("f.n_pos").as("n_pos"),
          col("f.n_neg").as("n_neg"), col("f.u2").as("u2"))
        .withColumn("auc", round(col("u2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6))
        .orderBy(col("lang"))
    }),

    // Beyond-reference: PSI FEATURE DRIFT between corpus VERSIONS —
    // the monitoring gate a pipeline runs before admitting a new crawl
    // batch: Population Stability Index of the document-length
    // distribution, version 0 of the shared versioned table (time
    // travel) vs its latest snapshot. Two corpus aggregates to 8 bins,
    // a static bin spine, one broadcast totals row; each bin term is
    // floored to picounits so the PSI total is an exact integer sum.
    "q245_feature_drift" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val tbl = s"${graft.log.SharedFixtures.SHARE}.documents_versioned"
      def binned(df: DataFrame) = df.select(
        least(lit(7L), expr("n_chars div 75")).as("bin"))
      val base = binned(s.read.format("graft").option("table", tbl)
        .option("versionAsOf", "0").load())
      val cur = binned(s.read.format("graft").option("table", tbl).load())
      graft.ops.Eval.populationStability(base, cur, "bin", 8)
        .orderBy(col("bin"))
    }),

    // Beyond-reference: STREAMING DRIFT MONITOR — q245's PSI kept
    // current by a STREAMING aggregation: Spark's state store maintains
    // the 8-bin current-side histogram (complete-mode counts, 8 rows of
    // state at any corpus size) while the baseline stays the
    // time-travel version-0 read; the drained histogram feeds the same
    // PSI core and hash-matches q245's batch oracle VERBATIM — the
    // monitoring posture where only the tiny histogram, never the
    // corpus, survives between triggers.
    "q248_stream_drift" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val tbl = s"${graft.log.SharedFixtures.SHARE}.documents_versioned"
      val path = graft.log.GraftCatalog.location(tbl)
      val sink = "graft_q248_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1").load()
      val counts = src
        .select(least(lit(7L), expr("n_chars div 75")).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
      val q = counts.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      val baseCounts = s.read.format("graft").option("table", tbl)
        .option("versionAsOf", "0").load()
        .select(least(lit(7L), expr("n_chars div 75")).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_base"))
      val cells = s.table(sink).join(baseCounts, Seq("bin"), "full")
        .select(col("bin"), coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      graft.ops.Eval.psiFromCells(cells, 8).orderBy(col("bin"))
    }),

    // Beyond-reference: χ² FEATURE SELECTION — the tokens most
    // associated with the language label (the vocabulary-selection step
    // before training a text classifier). One tokenize-explode into a
    // vocabulary-scale pivoted aggregate + ONE broadcast class-total
    // row; the χ² terms are summed in one pinned order (per-class
    // columns, not a GROUP BY over classes) so the double math is
    // bit-replayable; ranking key is floor(1e6·χ²) with token
    // tiebreak.
    "q241_chi2_feature_select" -> ((s, dir) =>
      graft.ops.Classify.chiSquareTokens(t(s, dir, "documents"),
        "text", "lang", Seq("de", "en", "es", "fr", "zh"), topK = 20)),

    // Beyond-reference: Zipf power-law fit over the token frequency
    // distribution — OLS on (ln rank, ln freq) of the top-100 tokens;
    // one token-count pass, vocabulary-scale top cut, 5-sum aggregate.
    "q134_zipf_fit" -> ((s, dir) => {
      graft.ops.TextOps.zipfFit(t(s, dir, "documents"), "text", topN = 100)
    }),

    // Beyond-reference: TF-IDF nearest-centroid domain classification
    // (the fastText-classifier slot with a deterministic replayable
    // model): top-50 df vocabulary, smoothed idf, L2-normalized seed
    // centroids (first 10 docs per source), sparse cosine scoring via
    // a broadcast token join, per-doc argmax with ties to the smaller
    // label. Reports per-source assignment/accuracy counts.
    "q133_domain_classify" -> ((s, dir) => {
      graft.ops.Classify.tfidfNearestCentroid(
        t(s, dir, "documents"), "doc_id", "text", "source",
        vocabSize = 50, seedPerClass = 10)
    }),

    // Beyond-reference: character-entropy quality signal (bits/char,
    // the compressibility proxy of the Gopher family) — a row-local
    // sorted-run fold inside codegen (no explode/shuffle; the oracle
    // replays via the equivalent per-char groupBy).
    "q132_char_entropy" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(graft.ops.TextOps.charEntropy(col("text")), 4).as("entropy"))
    }),

    // Beyond-reference: BPE ENCODE (tokenizer apply, the runtime
    // companion to q123's fit) — a fixed merge table applied as a chain
    // of sentinel-delimited literal replaces, provably the left-to-right
    // non-overlapping merge pass (OpsSpec) and one whole-stage-codegen
    // scan: no shuffle until the vocabulary-scale count. Top tokens by
    // corpus frequency.
    "q129_bpe_encode" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(graft.ops.TextOps.bpeEncodeTokens(
          col("text"), graft.ops.TextOps.DemoMerges)).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(15)
    }),

    // Beyond-reference: n-gram novelty — fraction of each doc's distinct
    // char 5-grams that no other doc contains (df=1 over the same
    // feature space the exact dedup cascade uses). The memorization-risk
    // signal next to dedup rates; one explode + df groupBy + bucket join.
    "q122_ngram_novelty" -> ((s, dir) => {
      graft.ops.TextOps.ngramNovelty(t(s, dir, "documents"), "doc_id", "text")
    }),

    // Beyond-reference: corpus-trained bigram LM quality score (the
    // CCNet/KenLM perplexity-filter family) — smoothed transition
    // probabilities from map-side-combinable pair counts, scored back
    // through bucket equi-joins; the oracle replays counts, smoothing,
    // and the per-doc mean exactly.
    "q121_lm_quality" -> ((s, dir) => {
      graft.ops.TextOps.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
    }),

    // Beyond-reference: deterministic Lloyd k-means over the embedding
    // corpus — the semantic-clustering step curation pipelines cut
    // cluster quotas on. Seeded by the first k vectors, argmin ties to
    // the lower cell, centroid coordinates quantized after each update —
    // so the oracle replays both iterations and the per-cluster summary
    // exactly.
    "q120_kmeans_curation" -> ((s, dir) => {
      graft.ops.KMeans.summary(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 4, iterations = 2)
        .select(col("cluster"), col("n"), col("mean_dist"))
    }),

    // §2.1 S4/S8 over REST in the DELTA dialect: the parquet /changes
    // refuses a DV-history table, the client renegotiates and derives
    // row-level changes CLIENT-side from the raw served actions — DV
    // merged-bitmap diffs per version (v1 deletes region-2 rows; v2
    // extends the SAME files' DVs so only regionkey>2 rows are new
    // deletes), same classifier as the local GraftCDF.
    "q118_remote_dv_cdf" -> ((s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      s.read.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", s"${graft.log.SharedFixtures.SHARE}.nation_dv_cdf")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .load()
        .select(col("n_nationkey"), col("n_name"),
          col(graft.log.GraftCDF.CHANGE_TYPE).as("change_type"),
          col(graft.log.GraftCDF.COMMIT_VERSION).as("commit_version"))
    }),

    "q116_sql_dv_delete" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftSparkCatalog].getName)
      val share = graft.log.SharedFixtures.SHARE
      val scratch = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_sqldv"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      graft.log.GraftLog.invalidateListing(scratch)
      graft.log.GraftCatalog.unregister(s"$share.scratch_sqldv")
      s.sql(s"""CREATE TABLE graft.$share.scratch_sqldv
                LOCATION '$scratch'
                TBLPROPERTIES('delta.enableDeletionVectors'='true') AS
                SELECT o_orderkey, o_custkey, o_totalprice AS price
                FROM graft.$share.orders""")
      s.sql(s"DELETE FROM graft.$share.scratch_sqldv WHERE o_orderkey <= 1500")
      s.sql(s"DELETE FROM graft.$share.scratch_sqldv WHERE o_custkey >= 1200")
      s.sql(s"""SELECT count(*) AS n_rows,
                CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
                  AS price_cents,
                CAST(min(o_orderkey) AS BIGINT) AS min_key
                FROM graft.$share.scratch_sqldv""")
    }),

    // Beyond-reference layout: OPTIMIZE ZORDER BY (l_partkey, l_suppkey)
    // — equi-depth quantile bins per column (native codegen binary-search
    // expression) interleave into a Morton key; repartitionByRange on the
    // key clusters files so min/max stats prune on BOTH columns. The
    // filter below then skips most files at the graft scan's stats gate;
    // the result is byte-identical to the oracle's plain filter.
    "q91_zorder_scan" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_zorder"
      val src = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))
      graft.log.TableBuilder.create(s, src.repartition(8), path, name = "scratch_zorder")
      graft.log.TableBuilder.zorder(s, path, Seq("l_partkey", "l_suppkey"), numFiles = 8)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .filter(col("l_partkey") < 200 && col("l_suppkey") < 50)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice")), 0).as("sum_price"))
    }),

    // Beyond-reference writer: exactly-once STREAMING SINK — the shared
    // lineitem table streams (snapshot-then-tail, 4 files/trigger) into a
    // fresh graft table; every micro-batch commits its files together
    // with a txn watermark action, so a replayed epoch after restart is a
    // no-op. The oracle aggregates the original lineitem: any dropped or
    // doubled batch flips the hash.
    "q90_stream_sink" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val src = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.lineitem")
      val scratch = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_sink"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      graft.log.GraftLog.invalidateListing(s"$scratch/data")
      val q = s.readStream.format("graft").option("path", src)
        .option("maxFilesPerTrigger", "4").load()
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .writeStream.format("graft")
        .option("path", s"$scratch/data")
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.read.format("graft").option("path", s"$scratch/data").load()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice")), 0).as("sum_price"))
    }),

    // Beyond-reference writer: MERGE INTO (upsert with all three clauses).
    // Affected-file pruning means only files containing matched keys are
    // rewritten; the source is broadcast by Catalyst at this size, so the
    // merge plan has no target-side shuffle. The oracle expresses the
    // merged state directly: keys < 2000 untouched, matched keys [2000,
    // 3000) deleted when divisible by 7 else doubled, source-only keys
    // [3000, 4000) inserted doubled.
    "q89_merge_upsert" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_merge"
      val target = t(s, dir, "orders").filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      graft.log.TableBuilder.create(s, target.repartition(4), path, name = "scratch_merge")
      val src = t(s, dir, "orders")
        .filter(col("o_orderkey") >= 2000 && col("o_orderkey") < 4000)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("price"))
      graft.log.Merge.merge(s, path, src, "t.o_orderkey = s.o_orderkey",
        whenMatchedUpdate = Some(Map("price" -> "s.price")),
        whenMatchedDeleteIf = Some("s.o_orderkey % 7 = 0"),
        whenNotMatchedInsert = Some(Map(
          "o_orderkey" -> "s.o_orderkey", "price" -> "s.price")))
      s.read.format("graft").option("path", path).load()
        .select(col("o_orderkey"), round(col("price"), 2).as("price"))
    }),

    // Delta interop, WRITE direction: part_delta was created by graft's
    // own writer with deltaFormat=true — both commits are genuine Delta
    // transactions (commitInfo + Delta action JSON) that any Delta
    // reader could replay; here graft reads its own Delta output back
    // through the sharing layer.
    "q85_delta_native_write" -> ((s, dir) => {
      sharedTable(s, dir, "part_delta")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          // exact integer cents: a double sum's addition order can flip
          // round-at-0 on a .5 boundary between engines
          sum(round(col("p_retailprice") * 100).cast("long")).as("retail_cents"))
    }),

    // Beyond-reference writer: RESTORE TABLE TO VERSION AS OF — the
    // scratch table takes an append (v1) and a delete (v2), restores to
    // v0 with ONE metadata-only forward commit (no data files read or
    // written — O(active files) at any table size), and the scan must
    // equal the v0 input exactly. History survives: the same log still
    // time-travels to the deleted state.
    "q97_restore_scan" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_restore"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.log.GraftLog.invalidateListing(path)
      val src = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      graft.log.TableBuilder.create(s, src.repartition(2), path, name = "scratch_restore")
      graft.log.TableBuilder.append(s,
        src.withColumn("s_suppkey", col("s_suppkey") + 1000000L), path, timestamp = 1000L)
      graft.log.TableBuilder.deleteWhere(s, path, col("s_nationkey") < 10, timestamp = 2000L)
      graft.log.Restore.restore(s, path, 0L, timestamp = 3000L)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(round(col("s_acctbal") * 100).cast("long")).as("bal_cents"))
    }),

    // Beyond-reference writer: SHALLOW CLONE — a new table whose log
    // references the source lineitem files by absolute URI (zero data
    // bytes copied; delta PROTOCOL absolute add.path encoding). The scan
    // of the CLONE must equal the source; stats-based skipping and
    // column pruning work unchanged because the add actions carry the
    // source's stats.
    "q98_shallow_clone_scan" -> ((s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val src = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.lineitem")
      val clone = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_clone"
      val fs = new org.apache.hadoop.fs.Path(clone)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(clone), true)
      graft.log.GraftLog.invalidateListing(clone)
      graft.log.Restore.cloneShallow(s, src, clone)
      s.read.format("graft").option("path", clone).load()
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
    }),

    // Beyond-reference writer: CHECK constraints — the scratch table
    // carries delta.constraints gates; a violating append throws INSIDE
    // the write pipeline (single-pass assert, no second validation scan)
    // and commits NOTHING, so the final scan equals create + the one
    // valid append. The oracle replays exactly those rows.
    "q99_check_constraints" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_check"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.log.GraftLog.invalidateListing(path)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      graft.log.TableBuilder.create(s, cust.filter(col("c_custkey") % 2 === 0)
        .repartition(2), path, name = "scratch_check",
        configuration = Map("delta.constraints.key_pos" -> "c_custkey >= 0"))
      graft.log.TableBuilder.append(s, cust.filter(col("c_custkey") % 2 === 1),
        path, timestamp = 1000L)
      // violating batch: must throw and leave the table untouched
      val bad = cust.limit(5).withColumn("c_custkey", col("c_custkey") * -1L - 1L)
      val rejected =
        try { graft.log.TableBuilder.append(s, bad, path, timestamp = 2000L); false }
        catch { case e: Exception =>
          graft.log.GraftLog.invalidateListing(path)
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains("key_pos"))
        }
      require(rejected, "constraint violation was not rejected")
      s.read.format("graft").option("path", path).load()
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
    }),

    // Beyond-reference: C4-style rule filter with per-rule ATTRIBUTION —
    // the number every curation run reports: how many docs each rule
    // kills, plus the surviving count. Pure codegen flags, one aggregate.
    "q107_c4_filter" -> ((s, dir) => {
      val flagged = graft.ops.TextOps.c4Filter(
        t(s, dir, "documents"), "doc_id", "text")
      val ruleNames = graft.ops.TextOps.c4Rules(col("text")).map(_._1)
      val aggs = Seq(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept")) ++
        ruleNames.map(r =>
          sum(when(!col(s"pass_$r"), 1L).otherwise(0L)).as(s"fail_$r"))
      flagged.agg(aggs.head, aggs.tail: _*)
    }),

    // Beyond-reference writer: column DEFAULT values (delta
    // `allowColumnDefaults`) — ADD COLUMN ... DEFAULT backfills existing
    // rows at read time (EXISTS_DEFAULT, frozen) and fills partial
    // appends at write time (CURRENT_DEFAULT, mutable via SET DEFAULT);
    // the oracle replays all four row generations from `orders`.
    "q108_column_defaults" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_defaults"
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.log.TableBuilder.create(s, src.repartition(4), path,
        name = "scratch_defaults", deltaFormat = true)
      graft.log.TableBuilder.addColumns(s, path,
        Seq(("priority_class", org.apache.spark.sql.types.StringType),
          ("risk", org.apache.spark.sql.types.IntegerType)),
        defaults = Map("priority_class" -> "'standard'", "risk" -> "3"))
      // partial append: both new columns fill from their current defaults
      graft.log.TableBuilder.append(s,
        src.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 30000000L), path)
      // explicit values win over defaults
      graft.log.TableBuilder.append(s,
        src.filter(col("o_orderkey") % 11 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 60000000L)
          .withColumn("priority_class", lit("high"))
          .withColumn("risk", (col("o_orderkey") % 5).cast("int")), path)
      // SET DEFAULT changes future partial appends only — earlier rows
      // keep the value they were written (or backfilled) under
      graft.log.TableBuilder.setColumnDefault(s, path, "risk", Some("9"))
      graft.log.TableBuilder.append(s,
        src.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 90000000L), path)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .groupBy(col("priority_class"), col("risk"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 0).cast("long").as("sum_price"))
    }),

    // Beyond-reference writer: VARIANT end-to-end — document metadata
    // packed into a VARIANT column (Spark 4.1 first-class parquet type),
    // written natively (the commit stamps the `variantType` reader+writer
    // feature gate), read back through the graft reader, and queried with
    // typed `variant_get` extraction. Extraction inverts construction, so
    // the relational oracle sees straight through the variant plumbing.
    "q109_variant_extract" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_variant"
      val src = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("parse_json(to_json(struct(lang, source, n_chars)))").as("meta"))
      graft.log.TableBuilder.create(s, src.repartition(4), path,
        name = "scratch_variant", deltaFormat = true)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .select(
          expr("variant_get(meta, '$.lang', 'string')").as("lang"),
          expr("variant_get(meta, '$.source', 'string')").as("source"),
          expr("variant_get(meta, '$.n_chars', 'long')").as("nc"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("total_chars"))
    }),

    // Beyond-reference: temperature-based source mixing (mT5 alpha
    // rebalancing) — per-source quota round(budget * n^alpha / Z), each
    // source keeps its quota of smallest content-addressed draws. The
    // oracle replays quota arithmetic and the draw ordering exactly.
    "q115_temperature_mix" -> ((s, dir) => {
      val kept = graft.ops.Sampling.temperatureMix(
        t(s, dir, "documents"), col("doc_id"), col("source"),
        alpha = 0.5, budget = 300L)
      kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
    }),

    // Beyond-reference writer: INCREMENTAL clustered OPTIMIZE end-to-end —
    // create clustered (first OPTIMIZE forms a tagged cube), append
    // out-of-layout rows, OPTIMIZE again (only the new files recluster
    // into a second cube; the first cube's files are untouched). Layout
    // rewrites are content-invariant, so any cube bookkeeping error
    // (lost file, double-rewritten cube) flips the aggregate.
    "q113_incremental_cluster" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_inccluster"
      val src = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice")).cast("long").as("price"))
      graft.log.TableBuilder.create(s, src.repartition(4), path,
        name = "scratch_inccluster", clusterBy = Seq("o_custkey", "price"))
      graft.log.Clustering.cluster(s, path, numFiles = 4)
      graft.log.TableBuilder.append(s,
        src.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 30000000L),
        path, timestamp = 1000L)
      graft.log.Clustering.cluster(s, path) // incremental: append-only recluster
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        // range filter over both clustering dims exercises the stats the
        // cube layout produced
        .filter(col("price") >= 50000L && col("o_custkey") >= 100L)
        .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("sum_price"),
          countDistinct(col("o_custkey")).as("n_custs"))
    }),

    // Beyond-reference writer: type widening — quantities written as INT,
    // the column widened to BIGINT in a metadata-only commit (typeWidening
    // feature gate, delta.typeChanges history), then a wide append joins
    // the narrow files transparently. Any mis-upcast file or wrong-type
    // stats pruning flips the aggregate.
    "q110_type_widening" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_widen"
      val src = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          floor(col("l_quantity")).cast("int").as("qty"))
      graft.log.TableBuilder.create(s, src.repartition(4), path,
        name = "scratch_widen", deltaFormat = true)
      graft.log.TableBuilder.widenColumnType(s, path, "qty",
        org.apache.spark.sql.types.LongType)
      graft.log.TableBuilder.append(s,
        src.withColumn("l_orderkey", col("l_orderkey") + 30000000L)
          .withColumn("qty", (col("qty") + 100).cast("long")), path,
        timestamp = 1000L)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        // the filter exercises stats skipping over narrow-written min/max
        // parsed under the wide declared type
        .filter(col("qty") >= 1L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
    }),

    // Beyond-reference writer: replaceWhere — the R-region of the scratch
    // table is atomically replaced with quantity-shifted rows in ONE
    // commit; any smuggled out-of-region row, lost survivor, or doubled
    // region flips the aggregate hash.
    "q106_replace_where" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_replace"
      val src = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity"))
      graft.log.TableBuilder.create(s, src.repartition(4), path,
        name = "scratch_replace")
      val newR = src.filter(col("l_returnflag") === "R")
        .withColumn("l_quantity", col("l_quantity") + 100)
      graft.log.TableBuilder.replaceWhere(s, newR, path,
        col("l_returnflag") === "R")
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
    }),

    // Beyond-reference: deterministic EPOCH SHUFFLE — seed-keyed md5
    // permutation into shards (shard = key bucket, position = in-shard
    // key rank): every epoch is a different but exactly reproducible
    // permutation on any engine/cluster size; DuckDB replays it verbatim.
    "q105_epoch_shuffle" -> ((s, dir) => {
      graft.ops.Sampling.epochShuffle(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        seed = "epoch1", numShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // Beyond-reference: EXACT substring dedup (Lee et al. ACL'22
    // ExactSubstr, relational form) — every char inside a ≥50-char
    // substring occurring more than once in the corpus is removed except
    // the globally first occurrence. Fixed-width md5 L-gram occurrences
    // + one per-doc interval-merge fold; the DuckDB oracle recomputes
    // the exact same removal set per character.
    "q104_exact_substring_dedup" -> ((s, dir) => {
      graft.ops.Dedup.exactSubstringDedup(
        t(s, dir, "documents"), "doc_id", "text", minLen = 50)
    }),

    // Beyond-reference writer: GENERATED + IDENTITY columns (delta
    // "Generated Columns"/"Identity Columns"). Scratch table whose
    // `id` is IDENTITY(start 1000, step 2) and `bal_cents` is GENERATED
    // AS cast(round(c_acctbal*100) as bigint). The create seeds 10 rows
    // with explicit ids; the append omits BOTH columns — identity values
    // allocate above the stats-synced watermark (single sorted partition
    // ⇒ deterministic), the generated column computes in-pipeline. The
    // oracle replays the whole allocation as 1000 + 2*rank.
    "q103_generated_identity" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_genid"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.log.GraftLog.invalidateListing(path)
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
      val genExpr = "CAST(round(c_acctbal * 100) AS BIGINT)"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(graft.log.GeneratedColumns.ID_START, 1000L)
            .putLong(graft.log.GeneratedColumns.ID_STEP, 2L).build()),
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_acctbal",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("bal_cents",
          org.apache.spark.sql.types.LongType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(graft.log.GeneratedColumns.GEN_KEY, genExpr).build())))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("c_custkey"))
      val seed = cust.filter(col("c_custkey") <= 10)
        .withColumn("id", (lit(998L) + lit(2L) * row_number().over(w)).cast("long"))
        .withColumn("bal_cents", expr(genExpr))
        .select("id", "c_custkey", "c_acctbal", "bal_cents")
      graft.log.TableBuilder.create(s,
        s.createDataFrame(seed.coalesce(1).rdd, schema), path, name = "scratch_genid")
      graft.log.TableBuilder.append(s,
        cust.filter(col("c_custkey") > 10).orderBy(col("c_custkey")).coalesce(1),
        path)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .select(col("id"), col("c_custkey"), col("bal_cents"))
    }),

    // Beyond-reference writer: CLUSTERED TABLE (liquid-clustering
    // semantics) — clusterBy columns declared in the delta.clustering
    // domain at create; plain OPTIMIZE reclusters along a HILBERT curve
    // (quantile bins → Skilling transpose index → repartitionByRange),
    // whose adjacent-cells property prunes at least as well as Morton
    // (asserted in ClusteringSpec). The scan after recluster must equal
    // the plain aggregate — any row lost/duplicated by the rewrite or a
    // wrong curve mapping flips the hash.
    "q102_clustered_scan" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_cluster"
      val src = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))
      graft.log.TableBuilder.create(s, src.repartition(8), path,
        name = "scratch_cluster", clusterBy = Seq("l_partkey", "l_suppkey"))
      graft.log.Clustering.cluster(s, path, numFiles = 8)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .filter(col("l_partkey") < 200 && col("l_suppkey") < 50)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice")), 0).as("sum_price"))
    }),

    // Beyond-reference writer: ROW TRACKING (delta "Row Tracking") —
    // durable per-row ids. Scratch table from orders sorted into ONE
    // file so the fresh id equals the sort position; a DV delete drops
    // rows WITHOUT disturbing ids (no rewrite); OPTIMIZE then rewrites
    // the file but MATERIALIZES the stable ids into hidden columns. The
    // oracle replays the id assignment as row_number over create order —
    // any id drift across the DV delete or the compaction flips the hash.
    "q101_row_tracking" -> ((s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_rowtrack"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.log.GraftLog.invalidateListing(path)
      val src = t(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
      graft.log.TableBuilder.create(s, src.coalesce(1), path,
        name = "scratch_rowtrack",
        configuration = Map(graft.log.RowTracking.ENABLED_KEY -> "true"))
      graft.log.TableBuilder.deleteWhereDV(s, path, col("o_orderkey") % 7 === 0)
      graft.log.TableBuilder.compact(s, path)
      graft.log.GraftLog.invalidateListing(path)
      graft.log.RowTracking.withRowIds(s, path)
        .select(col("o_orderkey"), col("_row_id"),
          col("_row_commit_version"))
    }),

    // Beyond-reference: DSIR-style importance scoring (Xie et al. 2023) —
    // every doc scored by the mean token log-likelihood ratio under
    // hashed unigram models of the TARGET set (lang='en') vs the whole
    // corpus; top-50 "most target-like" docs. The portable md5 bucket
    // hash lets DuckDB replay the models and scores exactly.
    "q100_importance_resample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Sampling.importanceScore(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text",
        buckets = 1024, k = 50)
        .select(col("id").as("doc_id"), col("score"))
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles. Column names MUST match the Spark results above.
  // ---------------------------------------------------------------------
  /** One hard-EM round of the q190 oracle: per-word integer Viterbi DP
    * as RECURSIVE CTEs — the forward pass carries a 3-deep best-score
    * window (b1=best[pos], b2, b3) plus the backpointer digits as a
    * string, one recursion step per character; the backward pass is a
    * second recursion emitting one (pos, k) jump row per chosen piece.
    * Deliberately lambda-free: DuckDB 1.0's list_reduce mis-evaluates
    * struct reassignment and is non-deterministic under parallel
    * evaluation (observed: identical SQL, different totals per run), so
    * the list-fold spelling of this DP is not trustworthy. `probs` is
    * the incoming piece-logprob CTE, `cnt` the produced count CTE.
    */
  private def unigramDpSql(probs: String, cnt: String): String =
    s"""
 scp_$cnt AS (
   SELECT w, any_value(freq) AS freq, any_value(n) AS n, j,
     max(CASE WHEN k = 1 THEN lp END) AS lp1,
     max(CASE WHEN k = 2 THEN lp END) AS lp2,
     max(CASE WHEN k = 3 THEN lp END) AS lp3
   FROM (
     SELECT s.w, s.freq, s.n, s.j, s.k, coalesce(p.lp, -1000000000000) AS lp
     FROM (
       SELECT w, freq, n, j, k,
         CASE WHEN k <= j THEN substr(w, CAST(j-k+1 AS INT), CAST(k AS INT)) END AS pc
       FROM words, LATERAL unnest(range(1, n+1)) t(j), LATERAL unnest(range(1, 4)) u(k)) s
     LEFT JOIN $probs p ON p.piece = s.pc)
   GROUP BY w, j),
 fw_$cnt AS (
   SELECT w, freq, n, pos, b1, ks FROM (
     WITH RECURSIVE r AS (
       SELECT w, freq, n, CAST(0 AS BIGINT) AS pos,
         CAST(0 AS BIGINT) AS b1, CAST(-4000000000000000 AS BIGINT) AS b2,
         CAST(-4000000000000000 AS BIGINT) AS b3, '' AS ks
       FROM words
       UNION ALL
       SELECT r.w, r.freq, r.n, r.pos + 1,
         greatest(r.b1 + s.lp1,
           CASE WHEN r.pos >= 1 THEN r.b2 + s.lp2 ELSE CAST(-4000000000000000 AS BIGINT) END,
           CASE WHEN r.pos >= 2 THEN r.b3 + s.lp3 ELSE CAST(-4000000000000000 AS BIGINT) END),
         r.b1, r.b2,
         r.ks || CASE
           WHEN r.b1 + s.lp1 = greatest(r.b1 + s.lp1,
             CASE WHEN r.pos >= 1 THEN r.b2 + s.lp2 ELSE CAST(-4000000000000000 AS BIGINT) END,
             CASE WHEN r.pos >= 2 THEN r.b3 + s.lp3 ELSE CAST(-4000000000000000 AS BIGINT) END)
           THEN '1'
           WHEN r.pos >= 1 AND r.b2 + s.lp2 = greatest(r.b1 + s.lp1, r.b2 + s.lp2,
             CASE WHEN r.pos >= 2 THEN r.b3 + s.lp3 ELSE CAST(-4000000000000000 AS BIGINT) END)
           THEN '2' ELSE '3' END
       FROM r JOIN scp_$cnt s ON s.w = r.w AND s.j = r.pos + 1
       WHERE r.pos < r.n)
     SELECT * FROM r) WHERE pos = n),
 bk_$cnt AS (
   SELECT w, freq, pos, k FROM (
     WITH RECURSIVE b AS (
       SELECT w, freq, ks, n AS pos,
         CAST(substr(ks, CAST(n AS INT), 1) AS BIGINT) AS k
       FROM fw_$cnt WHERE n > 0
       UNION ALL
       SELECT w, freq, ks, pos - k,
         CAST(substr(ks, CAST(pos - k AS INT), 1) AS BIGINT)
       FROM b WHERE pos - k > 0)
     SELECT * FROM b)),
 $cnt AS (
   SELECT substr(w, CAST(pos - k + 1 AS INT), CAST(k AS INT)) AS pc,
     CAST(sum(freq) AS BIGINT) AS c
   FROM bk_$cnt GROUP BY 1)"""

  /** q192's mojibake repair as a nested SQL replace chain, emitted from
    * the SAME ordered table the engine applies
    * ([[graft.ops.TextOps.mojibakeMap]]) so the two can never drift.
    * Neither side of any mapping contains an ASCII quote.
    */
  /** Shared oracle CTEs for the hashed-feature quality classifiers
    * (q200 NB, q202 perceptron): gopher labels (the q138 rule replay),
    * the id%5 train split, and token features hashed with the positional
    * codepoint hash mod 1024. Emitted from ONE def so the two oracles
    * cannot drift.
    */
  private def gopherFeatsSql: String =
    """d AS (SELECT doc_id, text,
                      list_filter(string_split_regex(text, '\s+'),
                        w -> w <> '') AS ts,
                      string_split(text, chr(10)) AS ls
                    FROM documents),
         r AS (SELECT doc_id,
           COALESCE(len(ts) >= 50 AND len(ts) <= 100000, FALSE) AS p1,
           COALESCE((CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(ts, w -> CAST(length(w) AS BIGINT))),
               (a, b) -> a + b) AS DOUBLE) / len(ts)) >= 3.0 AND
             (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(ts, w -> CAST(length(w) AS BIGINT))),
               (a, b) -> a + b) AS DOUBLE) / len(ts)) <= 10.0, FALSE) AS p2,
           COALESCE(CAST(length(text) - length(replace(text, '#', ''))
               AS DOUBLE) <= 0.1 * len(ts), FALSE) AS p3,
           COALESCE(CAST(length(text) - length(replace(text, '...', ''))
               AS DOUBLE) / 3.0 <= 0.1 * len(ts), FALSE) AS p4,
           COALESCE(CAST(len(list_filter(ls, l ->
               starts_with(trim(l), '-') OR starts_with(trim(l), '*')))
               AS DOUBLE) <= 0.9 * len(ls), FALSE) AS p5,
           COALESCE(CAST(len(list_filter(ls, l -> ends_with(trim(l), '...')))
               AS DOUBLE) <= 0.3 * len(ls), FALSE) AS p6,
           COALESCE(CAST(len(list_filter(ts, w ->
               regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
               >= 0.8 * len(ts), FALSE) AS p7,
           COALESCE(len(list_filter(ts, w -> list_contains(
               ['the','be','to','of','and','that','have','with'],
               lower(w)))) >= 2, FALSE) AS p8
           FROM d),
         lab AS (SELECT doc_id,
                   (p1 AND p2 AND p3 AND p4 AND p5 AND p6 AND p7 AND p8)
                     AS label,
                   doc_id % 5 = 0 AS is_train
                 FROM r),
         toks AS (SELECT doc_id,
                    unnest(list_filter(string_split_regex(lower(text), '\s+'),
                      w -> w <> '')) AS tok
                  FROM documents),
         fb AS (SELECT doc_id,
                  CAST(list_aggregate(list_transform(
                    range(1, length(tok) + 1),
                    k -> (CAST(unicode(substr(tok, CAST(k AS INT), 1))
                            AS BIGINT) + 1) * k),
                    'sum') % 1024 AS INT) AS b
                FROM toks),
         feats AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt
                   FROM fb GROUP BY 1, 2)"""

  private def mojibakeRepairSql(inner: String): String =
    graft.ops.TextOps.mojibakeMap.foldLeft(inner) { case (s, (bad, good)) =>
      s"replace($s, '$bad', '$good')"
    }

  /** q197's BPE demo-table encode as a sentinel replace chain, emitted
    * from the SAME table the engine applies
    * ([[graft.ops.TextOps.DemoMerges]], the q129 spelling).
    */
  private def bpeDemoChainSql(inner: String): String =
    graft.ops.TextOps.DemoMerges.foldLeft(inner) { case (s, (l, r)) =>
      s"replace($s, chr(1)||'$l'||chr(2)||chr(1)||'$r'||chr(2), chr(1)||'$l$r'||chr(2))"
    }

  /** The q189 oracle's integer-DCT table as a SQL VALUES list — emitted
    * from the SAME constant ([[graft.ops.Multimodal.DctC]]) the engine
    * computes pHash with, so the two sides can never drift.
    */
  private lazy val dctTableSql: String =
    (for (k <- 0 until 8; x <- 0 until 8)
      yield s"($k,$x,${graft.ops.Multimodal.DctC(k)(x)})").mkString(",")

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice), 0) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 0) AS sum_disc_price,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_revenue_filter" ->
      """SELECT round(sum(l_extendedprice * l_discount), 0) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""",
    "q03_star_join_revenue" ->
      """SELECT r_name,
         round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q04_join_priority" ->
      """SELECT o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         GROUP BY o_orderpriority""",
    "q05_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
         FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment""",
    "q06_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
         FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY c_mktsegment""",
    "q07_outer_join_histogram" ->
      """SELECT n_orders, count(*) AS n_customers FROM (
           SELECT c_custkey, count(o_orderkey) AS n_orders
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
         GROUP BY n_orders""",
    "q08_window_topk" ->
      """SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS totalprice, rn FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
           FROM orders) WHERE rn <= 3""",
    "q09_window_running_sum" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cum_spend
         FROM orders""",
    "q10_topk_orders" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q11_set_ops" ->
      """SELECT count(*) AS n, 'union' AS op FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           UNION SELECT c_custkey FROM customer WHERE c_acctbal < 0)
         UNION ALL
         SELECT count(*) AS n, 'intersect' AS op FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal < 0)
         UNION ALL
         SELECT count(*) AS n, 'except' AS op FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal < 0)""",
    "q12_distinct_agg" ->
      """SELECT o_orderstatus, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
         count(*) AS n_orders FROM orders GROUP BY o_orderstatus""",
    "q13_string_funcs" ->
      """SELECT upper(substr(p_brand, 1, 5)) AS brand_prefix,
         CAST(sum(length(p_name)) AS BIGINT) AS total_len, count(*) AS n
         FROM part GROUP BY 1""",
    "q14_date_funcs" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
         CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
         count(*) AS n_orders FROM orders GROUP BY 1, 2""",
    "q15_case_expr" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                     WHEN o_totalprice < 150000 THEN 'mid'
                     ELSE 'high' END AS band,
         count(*) AS n FROM orders GROUP BY 1""",
    "q16_in_between" ->
      """SELECT l_returnflag, count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem
         WHERE l_returnflag IN ('A', 'R') AND l_quantity BETWEEN 10 AND 20
         GROUP BY l_returnflag""",
    "q17_event_time_window" ->
      """SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS bucket_start,
         event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q18_dedup_exact_stats" ->
      """SELECT lang, CAST(count(DISTINCT text) AS BIGINT) AS distinct_docs,
         count(*) AS total_docs FROM documents GROUP BY lang""",
    "q19_token_stats" ->
      """SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         round(avg(n_tokens), 2) AS avg_tokens,
         CAST(max(n_tokens) AS BIGINT) AS max_tokens FROM (
           SELECT lang, len(string_split(text, ' ')) AS n_tokens FROM documents)
         GROUP BY lang""",
    "q20_word_freq_topk" ->
      """SELECT word, cnt FROM (
           SELECT word, count(*) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, word) AS rn
           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           GROUP BY word) WHERE rn <= 20""",
    "q21_share_snapshot_scan" ->
      """SELECT l_returnflag, count(*) AS n,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_quantity >= 30
         GROUP BY l_returnflag""",
    "q22_share_partition_prune" ->
      """SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice), 0) AS total
         FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
         GROUP BY o_orderstatus""",
    "q23_share_limit_pushdown" ->
      """SELECT count(*) AS n FROM (SELECT * FROM lineitem LIMIT 1234)""",
    "q24_share_time_travel" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y, count(*) AS n_orders
         FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
         GROUP BY 1""",
    "q25_dedup_fingerprint" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                        ' +', ' ', 'g'))) AS dedup_key,
         CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS group_size
         FROM documents GROUP BY 1""",
    "q26_text_profile" ->
      """WITH scored AS (
           SELECT
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','fast','data','query'))) AS s_en,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('scan','merge','window'))) AS s_de,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('table','column','line'))) AS s_fr,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('row','group','order'))) AS s_es,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('hash','join','key'))) AS s_zh,
             CAST(length(text) AS DOUBLE) AS n_chars
           FROM documents),
         labeled AS (
           SELECT n_tokens,
             CASE WHEN s_en = gm AND gm > 0 THEN 'en'
                  WHEN s_de = gm AND gm > 0 THEN 'de'
                  WHEN s_fr = gm AND gm > 0 THEN 'fr'
                  WHEN s_es = gm AND gm > 0 THEN 'es'
                  WHEN s_zh = gm AND gm > 0 THEN 'zh'
                  ELSE 'und' END AS pred_lang,
             (0.5 * least(n_chars / 500.0, 1.0) +
              0.5 * (1.0 - least(abs((n_chars - (CAST(n_tokens AS DOUBLE) - 1.0))
                                     / CAST(n_tokens AS DOUBLE) - 5.0) / 5.0, 1.0))) *
             (CASE WHEN n_tokens < 5 THEN 0.5 ELSE 1.0 END) AS quality
           FROM (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm FROM scored))
         SELECT pred_lang, count(*) AS n_docs,
           round(avg(quality), 3) AS avg_quality,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM labeled GROUP BY pred_lang""",
    "q27_minhash_near_dup" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE, 4) AS jaccard
         FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7""",
    "q93_minhash_lsh_near_dup" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         sh AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
           FROM (SELECT doc_id, unnest(fset) AS sh FROM sets)),
         hs AS (
           SELECT doc_id, j, min(h1 + j * h2) AS h
           FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, CAST(j // 4 AS INT) AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bh
           FROM hs GROUP BY doc_id, CAST(j // 4 AS INT)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
         SELECT c.id_a, c.id_b,
           round(len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE, 4) AS jaccard
         FROM cand c
         JOIN sets a ON a.doc_id = c.id_a
         JOIN sets b ON b.doc_id = c.id_b
         WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7""",
    "q94_incremental_dedup" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         corpus AS (SELECT * FROM sets WHERE doc_id % 10 < 8),
         batch AS (SELECT * FROM sets WHERE doc_id % 10 >= 8),
         dup AS (
           SELECT b.doc_id FROM batch b JOIN corpus c ON
             len(list_intersect(b.fset, c.fset))::DOUBLE /
               len(list_distinct(b.fset || c.fset))::DOUBLE >= 0.7
           UNION
           SELECT b.doc_id FROM batch b JOIN batch b2 ON b2.doc_id < b.doc_id AND
             len(list_intersect(b.fset, b2.fset))::DOUBLE /
               len(list_distinct(b2.fset || b.fset))::DOUBLE >= 0.7)
         SELECT doc_id FROM batch
         WHERE doc_id NOT IN (SELECT doc_id FROM dup)""",
    "q28_simhash_near_dup" ->
      """WITH tok AS (
           SELECT doc_id, md5(t) AS h FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
         contrib AS (
           SELECT doc_id, j,
             CASE WHEN strpos('89abcdef', substr(h, CAST(j + 1 AS INT), 1)) > 0
                  THEN 1 ELSE -1 END AS c
           FROM tok CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js),
         sums AS (SELECT doc_id, j, sum(c) AS s FROM contrib GROUP BY doc_id, j),
         sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << CAST(j AS INT) ELSE 0 END)
                     AS BIGINT) AS sh
                 FROM sums GROUP BY doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 3""",
    "q29_cosine_topk" ->
      """SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS sim,
             CAST(row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id)
               AS BIGINT) AS rank
           FROM embeddings q CROSS JOIN embeddings c
           WHERE q.vec_id < 5)
         WHERE rank <= 3""",
    "q30_ann_lsh" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e, embedding AS f
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e, embedding AS f
               FROM embeddings),
         cand AS (
           SELECT q_id, c_id, list_cosine_similarity(q.e, c.e) AS sim
           FROM q CROSS JOIN c
           WHERE ((q.f[1]>0)=(c.f[1]>0) AND (q.f[2]>0)=(c.f[2]>0)
                  AND (q.f[3]>0)=(c.f[3]>0) AND (q.f[4]>0)=(c.f[4]>0))
              OR ((q.f[5]>0)=(c.f[5]>0) AND (q.f[6]>0)=(c.f[6]>0)
                  AND (q.f[7]>0)=(c.f[7]>0) AND (q.f[8]>0)=(c.f[8]>0))
              OR ((q.f[9]>0)=(c.f[9]>0) AND (q.f[10]>0)=(c.f[10]>0)
                  AND (q.f[11]>0)=(c.f[11]>0) AND (q.f[12]>0)=(c.f[12]>0))
              OR ((q.f[13]>0)=(c.f[13]>0) AND (q.f[14]>0)=(c.f[14]>0)
                  AND (q.f[15]>0)=(c.f[15]>0) AND (q.f[16]>0)=(c.f[16]>0)))
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS BIGINT) AS rank
           FROM cand)
         WHERE rank <= 3""",
    "q31_multimodal_features" ->
      """SELECT format, count(*) AS n_assets, CAST(sum(cnt0) AS BIGINT) AS f0_count FROM (
           SELECT CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'wav'
                    ELSE 'mp4' END AS format,
             CASE WHEN doc_id % 4 IN (0, 1) THEN
               len(list_filter(flatten(list_transform(range(0, 8),
                 y -> list_transform(range(0, 8),
                   x -> (doc_id * 31 + x * 7 + y * 13) % 256))),
                 v -> v % 16 = 0))
             WHEN doc_id % 4 = 2 THEN
               len(list_filter(range(0, 64),
                 i -> (doc_id * 31 + i * 7) % 65536 // 4096 = 0))
             ELSE
               len(list_filter(range(1, octet_length(encode(text)) + 1),
                 i -> substr(hex(encode(text)), CAST(2 * i AS INT), 1) = '0'))
             END AS cnt0
           FROM documents)
         GROUP BY format""",
    "q32_embedding_dedup" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e, embedding AS f
                    FROM embeddings)
         SELECT a.id AS id_a, b.id AS id_b,
           round(list_cosine_similarity(a.e, b.e), 3) AS sim
         FROM v a JOIN v b ON a.id < b.id
         WHERE (((a.f[1]>0)=(b.f[1]>0) AND (a.f[2]>0)=(b.f[2]>0)
                 AND (a.f[3]>0)=(b.f[3]>0) AND (a.f[4]>0)=(b.f[4]>0))
             OR ((a.f[5]>0)=(b.f[5]>0) AND (a.f[6]>0)=(b.f[6]>0)
                 AND (a.f[7]>0)=(b.f[7]>0) AND (a.f[8]>0)=(b.f[8]>0))
             OR ((a.f[9]>0)=(b.f[9]>0) AND (a.f[10]>0)=(b.f[10]>0)
                 AND (a.f[11]>0)=(b.f[11]>0) AND (a.f[12]>0)=(b.f[12]>0))
             OR ((a.f[13]>0)=(b.f[13]>0) AND (a.f[14]>0)=(b.f[14]>0)
                 AND (a.f[15]>0)=(b.f[15]>0) AND (a.f[16]>0)=(b.f[16]>0)))
           AND list_cosine_similarity(a.e, b.e) >= 0.45""",
    "q35_ngram_jaccard_dedup" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(list_transform(
             range(0, greatest(length(text) - 5, 0) + 1),
             i -> substr(text, CAST(1 + i AS INT), 5))) AS fset
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE, 4) AS jaccard
         FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.6""",
    "q33_stream_agg" ->
      """SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY event_type""",
    "q39_bpe_token_stats" ->
      """SELECT lang,
         CAST(sum(len(regexp_extract_all(lower(text),
           '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s'']+'))) AS BIGINT) AS total_bpe,
         round(avg(len(regexp_extract_all(lower(text),
           '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s'']+'))), 2) AS avg_bpe,
         CAST(max(len(regexp_extract_all(lower(text),
           '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s'']+'))) AS BIGINT) AS max_bpe
         FROM documents GROUP BY lang""",
    "q40_rolling_fingerprint" ->
      """WITH norm AS (
           SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g')) AS nt
           FROM documents),
         fp AS (
           SELECT doc_id,
             CASE WHEN length(nt) = 0 THEN 0
                  ELSE list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(nt, ''), c -> CAST(ascii(c) AS BIGINT))),
                    (acc, c) -> (acc * 31 + c) % 1000000007)
             END AS fp
           FROM norm)
         SELECT fp, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS group_size
         FROM fp GROUP BY fp""",
    "q36_rest_snapshot_scan" ->
      """SELECT l_linestatus, count(*) AS n,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue
         FROM lineitem
         WHERE l_orderkey < 1000 AND l_discount > 0.05
         GROUP BY l_linestatus""",
    "q41_ann_ivf" ->
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                        CAST(embedding AS DOUBLE[]) AS ce
                      FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         assigned AS (
           SELECT c_id, e, cell FROM (
             SELECT c.c_id, c.e, cent.cell,
               row_number() OVER (PARTITION BY c.c_id
                 ORDER BY list_distance(c.e, cent.ce), cent.cell) AS ar
             FROM c CROSS JOIN cent)
           WHERE ar = 1),
         probes AS (
           SELECT q_id, e, cell FROM (
             SELECT q.q_id, q.e, cent.cell,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_distance(q.e, cent.ce), cent.cell) AS cr
             FROM q CROSS JOIN cent)
           WHERE cr <= 2),
         scored AS (
           SELECT p.q_id, a.c_id, list_cosine_similarity(p.e, a.e) AS sim
           FROM assigned a JOIN probes p ON a.cell = p.cell)
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
               AS BIGINT) AS rank
           FROM scored)
         WHERE rank <= 3""",
    // same quantize -> asymmetric score -> refine cut -> exact rerank
    // cascade; codes are bit-identical (same round/clamp arithmetic on
    // the same float->double casts)
    "q111_sq_ann" ->
      """WITH c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         flat AS (SELECT c_id, unnest(e) AS v, generate_subscripts(e, 1) AS i
                  FROM c),
         dims AS (SELECT i, min(v) AS lo,
                    CASE WHEN max(v) = min(v) THEN 1.0
                         ELSE max(v) - min(v) END AS span
                  FROM flat GROUP BY i),
         recon AS (
           SELECT c_id,
             list(lo + least(greatest(round((v - lo)/span*255.0), 0), 255)
                    * span / 255.0 ORDER BY i) AS r
           FROM flat JOIN dims USING (i) GROUP BY c_id),
         cand AS (
           SELECT q_id, c_id FROM (
             SELECT q.q_id, recon.c_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_cosine_similarity(q.e, recon.r) DESC, recon.c_id)
                 AS ar
             FROM recon CROSS JOIN q)
           WHERE ar <= 12),
         exact AS (
           SELECT cand.q_id, cand.c_id,
             list_cosine_similarity(q.e, c.e) AS sim
           FROM cand JOIN q USING (q_id) JOIN c USING (c_id))
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
               AS BIGINT) AS rank
           FROM exact)
         WHERE rank <= 3""",
    // PCA: quantized mean/cov (sum->4, mean->6, cov->8), power iteration
    // from v0 = 1/sqrt(64) (exactly 0.125) with round-8 matvec + norm
    // per iteration, Rayleigh lambda from the last iteration, round-4
    // projection — every fold in ascending index order, as the engine
    "q131_pca_projection" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         flat AS (SELECT id, generate_subscripts(v, 1) AS i, unnest(v) AS x
                  FROM e),
         mu AS (SELECT i, round(round(sum(x), 4) / count(*), 6) AS m
                FROM flat GROUP BY i),
         mul AS (SELECT list(m ORDER BY i) AS m FROM mu),
         cent AS (SELECT id, i, x - mu.m AS cx FROM flat JOIN mu USING (i)),
         cov AS (SELECT a.i AS i, b.i AS j,
                   round(round(sum(a.cx * b.cx), 4) / count(*), 8) AS c
                 FROM cent a JOIN cent b USING (id) GROUP BY a.i, b.i),
         covl AS (SELECT i, list(c ORDER BY j) AS r FROM cov GROUP BY i),
         covm AS (SELECT list(r ORDER BY i) AS rows FROM covl),
         v0 AS (SELECT list_transform(range(1, 65),
                  i -> round(1.0/sqrt(64.0), 8)) AS v),
         w1 AS (SELECT list_transform(range(1, 65), i ->
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65), j -> rows[i][j] * v[j])),
                    (x, y) -> x + y), 8)) AS w
                FROM covm, v0),
         v1 AS (SELECT list_transform(w, x -> round(x / sqrt(round(
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(w, y -> y*y)), (x2, y2) -> x2 + y2),
                  8)), 8)) AS v
                FROM w1),
         w2 AS (SELECT list_transform(range(1, 65), i ->
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65), j -> rows[i][j] * v[j])),
                    (x, y) -> x + y), 8)) AS w
                FROM covm, v1),
         v2 AS (SELECT list_transform(w, x -> round(x / sqrt(round(
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(w, y -> y*y)), (x2, y2) -> x2 + y2),
                  8)), 8)) AS v
                FROM w2),
         w3 AS (SELECT list_transform(range(1, 65), i ->
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65), j -> rows[i][j] * v[j])),
                    (x, y) -> x + y), 8)) AS w
                FROM covm, v2),
         v3 AS (SELECT list_transform(w, x -> round(x / sqrt(round(
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(w, y -> y*y)), (x2, y2) -> x2 + y2),
                  8)), 8)) AS v
                FROM w3),
         lam AS (SELECT round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65), i -> v2.v[i] * w3.w[i])),
                   (x, y) -> x + y), 6) AS lambda1
                 FROM v2, w3)
         SELECT id AS vec_id,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(range(1, 65), i -> (e.v[i] - mul.m[i]) * v3.v[i])),
             (x, y) -> x + y), 4) AS pc1,
           lambda1
         FROM e, mul, v3, lam
         ORDER BY pc1 DESC, vec_id LIMIT 10""",
    // IVF-PQ: q114's assignment/probing composed with q128's PQ cascade,
    // but trained/encoded on per-cell RESIDUALS (vec - assigned centroid)
    // and scored with a per-(query, probed-cell) residual LUT
    "q130_ivf_pq_ann" ->
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                        CAST(embedding AS DOUBLE[]) AS ce
                      FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         sdim AS (SELECT CAST(unnest(range(4)) AS INT) AS s),
         assigned AS (SELECT c_id, cell FROM (
                        SELECT c.c_id, cent.cell,
                          row_number() OVER (PARTITION BY c.c_id
                            ORDER BY list_distance(c.e, cent.ce), cent.cell) AS ar
                        FROM c CROSS JOIN cent) WHERE ar = 1),
         resid AS (SELECT a.c_id,
                     list_transform(range(1, 65), i -> c.e[i] - cent.ce[i]) AS r
                   FROM assigned a JOIN c USING (c_id)
                     JOIN cent ON a.cell = cent.cell),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY c_id) - 1 AS INT) AS j, r
                   FROM (SELECT c_id, r FROM resid ORDER BY c_id LIMIT 8)),
         sseeds AS (SELECT s, j,
                      list_slice(r, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                    FROM seeds, sdim),
         subs AS (SELECT c_id, s,
                    list_slice(r, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                  FROM resid, sdim),
         d1 AS (SELECT sub.c_id, sub.s, sd.j,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 17),
                      i -> (sub.sv[i]-sd.sv[i])*(sub.sv[i]-sd.sv[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM subs sub JOIN sseeds sd ON sub.s = sd.s),
         a1 AS (SELECT c_id, s, j FROM (
                  SELECT c_id, s, j,
                    row_number() OVER (PARTITION BY c_id, s ORDER BY d, j) AS rn
                  FROM d1) WHERE rn = 1),
         upd AS (SELECT a1.s, a1.j, dim.i,
                   round(round(sum(sub.sv[dim.i]), 4) / count(*), 6) AS mcoord
                 FROM a1 JOIN subs sub ON a1.c_id = sub.c_id AND a1.s = sub.s
                   CROSS JOIN (SELECT CAST(unnest(range(1, 17)) AS INT) AS i) dim
                 GROUP BY a1.s, a1.j, dim.i),
         updl AS (SELECT s, j, list(mcoord ORDER BY i) AS sv
                  FROM upd GROUP BY s, j),
         cb AS (SELECT sd.s, sd.j, COALESCE(u.sv, sd.sv) AS sv
                FROM sseeds sd LEFT JOIN updl u ON sd.s = u.s AND sd.j = u.j),
         encd AS (SELECT sub.c_id, sub.s, cb.j,
                    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 17),
                        i -> (sub.sv[i]-cb.sv[i])*(sub.sv[i]-cb.sv[i]))),
                      (x, y) -> x + y), 8) AS d
                  FROM subs sub JOIN cb ON sub.s = cb.s),
         codes AS (SELECT c_id, s, j FROM (
                     SELECT c_id, s, j,
                       row_number() OVER (PARTITION BY c_id, s ORDER BY d, j) AS rn
                     FROM encd) WHERE rn = 1),
         probes AS (SELECT q_id, cell FROM (
                      SELECT q.q_id, cent.cell,
                        row_number() OVER (PARTITION BY q.q_id
                          ORDER BY list_distance(q.e, cent.ce), cent.cell) AS cr
                      FROM q CROSS JOIN cent) WHERE cr <= 2),
         qresid AS (SELECT p.q_id, p.cell,
                      list_transform(range(1, 65), i -> q.e[i] - cent.ce[i]) AS r
                    FROM probes p JOIN q USING (q_id)
                      JOIN cent ON p.cell = cent.cell),
         qsubs AS (SELECT q_id, cell, s,
                     list_slice(r, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                   FROM qresid, sdim),
         lut AS (SELECT qs.q_id, qs.cell, qs.s, cb.j,
                   round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(range(1, 17),
                       i -> (qs.sv[i]-cb.sv[i])*(qs.sv[i]-cb.sv[i]))),
                     (x, y) -> x + y), 8) AS ld
                 FROM qsubs qs JOIN cb ON qs.s = cb.s),
         adist AS (SELECT l.q_id, cd.c_id,
                     round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list(l.ld ORDER BY l.s)), (x, y) -> x + y), 6) AS ad
                   FROM codes cd JOIN assigned a ON cd.c_id = a.c_id
                     JOIN lut l ON a.cell = l.cell AND cd.s = l.s AND cd.j = l.j
                   GROUP BY l.q_id, cd.c_id),
         cand AS (SELECT q_id, c_id FROM (
                    SELECT q_id, c_id,
                      row_number() OVER (PARTITION BY q_id ORDER BY ad, c_id) AS ar
                    FROM adist) WHERE ar <= 12),
         exact AS (SELECT cand.q_id, cand.c_id,
                     list_cosine_similarity(q.e, c.e) AS sim
                   FROM cand JOIN q USING (q_id) JOIN c USING (c_id))
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
               AS BIGINT) AS rank
           FROM exact)
         WHERE rank <= 3""",
    // PQ: per-subspace one-step Lloyd (seed = first 8 sliced vectors,
    // round-8 argmin ties to lower id, quantized-mean update as q120),
    // encode = per-subspace argmin against the trained codebook, ADC =
    // LUT join + ordered list fold, then the q111-style refine cut and
    // exact cosine rerank
    "q128_pq_ann" ->
      """WITH c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         sdim AS (SELECT CAST(unnest(range(4)) AS INT) AS s),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY c_id) - 1 AS INT) AS j, e
                   FROM (SELECT c_id, e FROM c ORDER BY c_id LIMIT 8)),
         sseeds AS (SELECT s, j,
                      list_slice(e, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                    FROM seeds, sdim),
         subs AS (SELECT c_id, s,
                    list_slice(e, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                  FROM c, sdim),
         d1 AS (SELECT sub.c_id, sub.s, sd.j,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 17),
                      i -> (sub.sv[i]-sd.sv[i])*(sub.sv[i]-sd.sv[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM subs sub JOIN sseeds sd ON sub.s = sd.s),
         a1 AS (SELECT c_id, s, j FROM (
                  SELECT c_id, s, j,
                    row_number() OVER (PARTITION BY c_id, s ORDER BY d, j) AS rn
                  FROM d1) WHERE rn = 1),
         upd AS (SELECT a1.s, a1.j, dim.i,
                   round(round(sum(sub.sv[dim.i]), 4) / count(*), 6) AS mcoord
                 FROM a1 JOIN subs sub ON a1.c_id = sub.c_id AND a1.s = sub.s
                   CROSS JOIN (SELECT CAST(unnest(range(1, 17)) AS INT) AS i) dim
                 GROUP BY a1.s, a1.j, dim.i),
         updl AS (SELECT s, j, list(mcoord ORDER BY i) AS sv
                  FROM upd GROUP BY s, j),
         cb AS (SELECT sd.s, sd.j, COALESCE(u.sv, sd.sv) AS sv
                FROM sseeds sd LEFT JOIN updl u ON sd.s = u.s AND sd.j = u.j),
         encd AS (SELECT sub.c_id, sub.s, cb.j,
                    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 17),
                        i -> (sub.sv[i]-cb.sv[i])*(sub.sv[i]-cb.sv[i]))),
                      (x, y) -> x + y), 8) AS d
                  FROM subs sub JOIN cb ON sub.s = cb.s),
         codes AS (SELECT c_id, s, j FROM (
                     SELECT c_id, s, j,
                       row_number() OVER (PARTITION BY c_id, s ORDER BY d, j) AS rn
                     FROM encd) WHERE rn = 1),
         qsubs AS (SELECT q_id, s,
                     list_slice(e, CAST(s*16+1 AS INT), CAST(s*16+16 AS INT)) AS sv
                   FROM q, sdim),
         lut AS (SELECT qs.q_id, qs.s, cb.j,
                   round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(range(1, 17),
                       i -> (qs.sv[i]-cb.sv[i])*(qs.sv[i]-cb.sv[i]))),
                     (x, y) -> x + y), 8) AS ld
                 FROM qsubs qs JOIN cb ON qs.s = cb.s),
         adist AS (SELECT l.q_id, cd.c_id,
                     round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list(l.ld ORDER BY l.s)), (x, y) -> x + y), 6) AS ad
                   FROM codes cd JOIN lut l ON cd.s = l.s AND cd.j = l.j
                   GROUP BY l.q_id, cd.c_id),
         cand AS (SELECT q_id, c_id FROM (
                    SELECT q_id, c_id,
                      row_number() OVER (PARTITION BY q_id ORDER BY ad, c_id) AS ar
                    FROM adist) WHERE ar <= 12),
         exact AS (SELECT cand.q_id, cand.c_id,
                     list_cosine_similarity(q.e, c.e) AS sim
                   FROM cand JOIN q USING (q_id) JOIN c USING (c_id))
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
               AS BIGINT) AS rank
           FROM exact)
         WHERE rank <= 3""",
    // IVF assignment/probing (as q41) composed with the SQ8 quantize ->
    // approx score -> refine cut -> exact rerank cascade (as q111)
    "q114_ivf_sq_ann" ->
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                        CAST(embedding AS DOUBLE[]) AS ce
                      FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         flat AS (SELECT c_id, unnest(e) AS v, generate_subscripts(e, 1) AS i
                  FROM c),
         dims AS (SELECT i, min(v) AS lo,
                    CASE WHEN max(v) = min(v) THEN 1.0
                         ELSE max(v) - min(v) END AS span
                  FROM flat GROUP BY i),
         recon AS (
           SELECT c_id,
             list(lo + least(greatest(round((v - lo)/span*255.0), 0), 255)
                    * span / 255.0 ORDER BY i) AS r
           FROM flat JOIN dims USING (i) GROUP BY c_id),
         assigned AS (
           SELECT c_id, cell FROM (
             SELECT c.c_id, cent.cell,
               row_number() OVER (PARTITION BY c.c_id
                 ORDER BY list_distance(c.e, cent.ce), cent.cell) AS ar
             FROM c CROSS JOIN cent)
           WHERE ar = 1),
         probes AS (
           SELECT q_id, cell FROM (
             SELECT q.q_id, cent.cell,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_distance(q.e, cent.ce), cent.cell) AS cr
             FROM q CROSS JOIN cent)
           WHERE cr <= 2),
         cand AS (
           SELECT q_id, c_id FROM (
             SELECT p.q_id, a.c_id,
               row_number() OVER (PARTITION BY p.q_id
                 ORDER BY list_cosine_similarity(q.e, recon.r) DESC, a.c_id)
                 AS ar
             FROM assigned a
             JOIN probes p ON a.cell = p.cell
             JOIN q USING (q_id)
             JOIN recon ON recon.c_id = a.c_id)
           WHERE ar <= 12),
         exact AS (
           SELECT cand.q_id, cand.c_id,
             list_cosine_similarity(q.e, c.e) AS sim
           FROM cand JOIN q USING (q_id) JOIN c USING (c_id))
         SELECT q_id, c_id, round(sim, 3) AS sim, rank FROM (
           SELECT q_id, c_id, sim,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
               AS BIGINT) AS rank
           FROM exact)
         WHERE rank <= 3""",
    "q34_share_cdf" -> cdfOracle,
    "q37_cdf_option" -> cdfOracle,
    "q38_cdf_stream" -> cdfOracle,
    "q83_delta_cdf" -> cdfOracle,
    "q81_delta_snapshot_scan" ->
      """SELECT CASE WHEN o_totalprice > 400000 THEN '9-UPDATED'
                ELSE o_orderpriority END AS o_orderpriority,
         count(*) AS n_orders, round(sum(o_totalprice), 0) AS total
         FROM orders
         WHERE o_orderdate < TIMESTAMP '1999-01-01'
           AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')
         GROUP BY 1""",
    "q82_delta_time_travel" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y, count(*) AS n_orders
         FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
         GROUP BY 1""",
    "q85_delta_native_write" ->
      """SELECT p_brand, count(*) AS n_parts,
         CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS retail_cents
         FROM part GROUP BY 1""",
    "q86_equidepth_histogram" ->
      """SELECT rf, bucket, count(*) AS n_rows, min(price) AS lo, max(price) AS hi
         FROM (SELECT l_returnflag AS rf, l_extendedprice AS price,
                      CAST(ntile(8) OVER (PARTITION BY l_returnflag
                        ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT)
                        AS bucket
               FROM lineitem)
         GROUP BY 1, 2""",
    "q87_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1""",
    "q88_stream_custom_state" ->
      """SELECT cnt, count(*) AS n_users FROM
           (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
         GROUP BY 1""",
    "q92_sql_update_merge" ->
      """SELECT o_orderkey, round(CASE
           WHEN o_orderkey >= 250 AND o_orderkey < 750 THEN 0.0
           WHEN o_orderkey < 250 THEN o_totalprice + 1000
           WHEN o_orderkey >= 5000 THEN -1.0
           ELSE o_totalprice END, 2) AS price
         FROM orders
         WHERE o_orderkey < 2000 OR (o_orderkey >= 5000 AND o_orderkey < 5500)""",
    // survivors of both DV deletes
    "q116_sql_dv_delete" ->
      """SELECT count(*) AS n_rows,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents,
         CAST(min(o_orderkey) AS BIGINT) AS min_key
         FROM orders
         WHERE o_orderkey > 1500 AND o_custkey < 1200""",
    "q91_zorder_scan" ->
      """SELECT l_suppkey, count(*) AS n_items,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice), 0) AS sum_price
         FROM lineitem
         WHERE l_partkey < 200 AND l_suppkey < 50
         GROUP BY 1""",
    "q90_stream_sink" ->
      """SELECT l_returnflag, count(*) AS n_items,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice), 0) AS sum_price
         FROM lineitem GROUP BY 1""",
    "q89_merge_upsert" ->
      """SELECT o_orderkey,
         round(CASE WHEN o_orderkey >= 2000 THEN o_totalprice * 2
                    ELSE o_totalprice END, 2) AS price
         FROM orders
         WHERE o_orderkey < 4000
           AND NOT (o_orderkey >= 2000 AND o_orderkey < 3000 AND o_orderkey % 7 = 0)""",
    "q84_delta_rest_scan" ->
      """SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice), 0) AS total
         FROM orders
         WHERE o_orderdate < TIMESTAMP '1999-01-01'
           AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')
           AND o_totalprice > 300000
         GROUP BY 1""",
    "q42_cdf_stream_rest" -> cdfOracle,
    "q45_dv_scan" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation WHERE n_regionkey <> 2""",
    "q47_dv_rest_scan" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation WHERE n_regionkey <> 2""",
    "q117_remote_dv_stream" ->
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n
         FROM nation WHERE n_regionkey <> 2 GROUP BY n_regionkey""",
    "q51_curation_pipeline" ->
      """WITH scored AS (
           SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_uniq,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','fast','data','query'))) AS s_en,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('scan','merge','window'))) AS s_de,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('table','column','line'))) AS s_fr,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('row','group','order'))) AS s_es,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('hash','join','key'))) AS s_zh,
             CAST(length(text) AS DOUBLE) AS n_chars
           FROM documents),
         labeled AS (
           SELECT doc_id, text, n_tokens, n_uniq,
             CASE WHEN s_en = gm AND gm > 0 THEN 'en'
                  WHEN s_de = gm AND gm > 0 THEN 'de'
                  WHEN s_fr = gm AND gm > 0 THEN 'fr'
                  WHEN s_es = gm AND gm > 0 THEN 'es'
                  WHEN s_zh = gm AND gm > 0 THEN 'zh'
                  ELSE 'und' END AS pred_lang,
             (0.5 * least(n_chars / 500.0, 1.0) +
              0.5 * (1.0 - least(abs((n_chars - (CAST(n_tokens AS DOUBLE) - 1.0))
                                     / CAST(n_tokens AS DOUBLE) - 5.0) / 5.0, 1.0))) *
             (CASE WHEN n_tokens < 5 THEN 0.5 ELSE 1.0 END) AS quality
           FROM (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm FROM scored)),
         rep AS (
           SELECT *, doc_id = min(doc_id) OVER (PARTITION BY
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                     ' +', ' ', 'g')))) AS is_rep
           FROM labeled)
         SELECT pred_lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN quality >= 0.5
                          AND n_uniq::DOUBLE / n_tokens::DOUBLE >= 0.4
                          AND pred_lang <> 'und' AND is_rep
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM rep GROUP BY pred_lang""",
    "q52_block_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         blocks AS (
           SELECT doc_id, i AS pos,
             array_to_string(list_slice(t, (i-1)*10+1, i*10), ' ') AS block
           FROM toks, LATERAL (SELECT unnest(range(1,
             CAST(ceil(len(t)/10.0) AS BIGINT)+1)) AS i) u),
         df AS (SELECT block, count(DISTINCT doc_id) AS df FROM blocks GROUP BY 1),
         j AS (SELECT b.doc_id, b.pos, b.block, d.df >= 2 AS boiler
               FROM blocks b JOIN df d USING (block))
         SELECT doc_id, count(*) AS n_blocks,
           CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           md5(string_agg(block, ' ' ORDER BY pos) FILTER (WHERE NOT boiler))
             AS clean_fp
         FROM j GROUP BY doc_id""",
    "q53_pii_redaction" ->
      """WITH aug AS (SELECT doc_id,
           text || ' contact user' || doc_id || '@example.com from 10.0.'
                || (doc_id % 256) || '.7 call 555-01'
                || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t2
         FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t2,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t2,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(t2, '\b555-\d{4}\b')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(t2,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b555-\d{4}\b', '<PHONE>', 'g')) AS redacted_fp
         FROM aug""",
    "q54_semantic_dedup" ->
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                        CAST(embedding AS DOUBLE[]) AS ce
                      FROM embeddings WHERE vec_id < 8),
         v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         assigned AS (
           SELECT id, e, cell FROM (
             SELECT v.id, v.e, cent.cell,
               row_number() OVER (PARTITION BY v.id
                 ORDER BY list_distance(v.e, cent.ce), cent.cell) AS ar
             FROM v CROSS JOIN cent) WHERE ar = 1),
         dup AS (
           SELECT b.id AS id, min(a.id) AS dup_of
           FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
           WHERE list_cosine_similarity(a.e, b.e) >= 0.45
           GROUP BY b.id)
         SELECT s.id AS vec_id, s.cell, d.dup_of, d.dup_of IS NULL AS kept
         FROM assigned s LEFT JOIN dup d ON s.id = d.id""",
    "q55_quality_calibration" ->
      """WITH scored AS (
           SELECT
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','fast','data','query'))) AS s_en,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('scan','merge','window'))) AS s_de,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('table','column','line'))) AS s_fr,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('row','group','order'))) AS s_es,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('hash','join','key'))) AS s_zh,
             CAST(length(text) AS DOUBLE) AS n_chars
           FROM documents),
         labeled AS (
           SELECT
             CASE WHEN s_en = gm AND gm > 0 THEN 'en'
                  WHEN s_de = gm AND gm > 0 THEN 'de'
                  WHEN s_fr = gm AND gm > 0 THEN 'fr'
                  WHEN s_es = gm AND gm > 0 THEN 'es'
                  WHEN s_zh = gm AND gm > 0 THEN 'zh'
                  ELSE 'und' END AS pred_lang,
             (0.5 * least(n_chars / 500.0, 1.0) +
              0.5 * (1.0 - least(abs((n_chars - (CAST(n_tokens AS DOUBLE) - 1.0))
                                     / CAST(n_tokens AS DOUBLE) - 5.0) / 5.0, 1.0))) *
             (CASE WHEN n_tokens < 5 THEN 0.5 ELSE 1.0 END) AS quality
           FROM (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm FROM scored)),
         pct AS (
           SELECT pred_lang, count(*) AS n_docs,
             quantile_cont(quality, 0.25) AS p25,
             quantile_cont(quality, 0.5) AS p50,
             quantile_cont(quality, 0.9) AS p90
           FROM labeled GROUP BY pred_lang)
         SELECT p.pred_lang, p.n_docs,
           round(p.p25, 6) AS p25, round(p.p50, 6) AS p50, round(p.p90, 6) AS p90,
           CAST(sum(CASE WHEN l.quality >= p.p25 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep
         FROM labeled l JOIN pct p USING (pred_lang)
         GROUP BY p.pred_lang, p.n_docs, p.p25, p.p50, p.p90""",
    "q56_mix_weights" ->
      """WITH g AS (
           SELECT source, lang, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1, 2),
         tot AS (SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) AS tw FROM g)
         SELECT source, lang, n_docs, n_tokens,
           round(sqrt(CAST(n_tokens AS DOUBLE)) / tw, 6) AS mix_weight
         FROM g, tot""",
    "q57_asof_attribution" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS cts, event_id AS click_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
               FROM events WHERE event_type = 'click')
         SELECT p.event_id, p.user_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS t_us, c.click_id, c.click_us
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts >= c.cts""",
    "q58_sessionization" ->
      """WITH o AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sess FROM o)
         SELECT user_id, epoch_us(CAST(min(ts) AS TIMESTAMP)) AS session_start_us,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM s GROUP BY user_id, sess""",
    "q59_hll_distinct" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
         h AS (SELECT event_type,
                 CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                   AS BIGINT) AS h
               FROM u),
         r AS (SELECT event_type, h >> 52 AS reg,
                 CASE WHEN (h & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                      ELSE 53 - length(bin(h & ((1::BIGINT << 52) - 1))) END AS rho
               FROM h),
         m AS (SELECT event_type, reg, max(rho) AS mx FROM r GROUP BY 1, 2),
         s AS (SELECT event_type,
                 CAST(sum(1::BIGINT << CAST(53 - mx AS INT)) AS BIGINT) AS num,
                 CAST(count(*) AS BIGINT) AS nz
               FROM m GROUP BY 1),
         est AS (SELECT event_type,
                 (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 256))
                   * 256 * 256 * CAST(1::BIGINT << 53 AS DOUBLE) /
                   CAST(num + (256 - nz) * (1::BIGINT << 53) AS DOUBLE) AS raw,
                 256 - nz AS zeros FROM s)
         SELECT est.event_type,
           round(CASE WHEN raw <= 640.0 AND zeros > 0
                      THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / zeros)
                      ELSE raw END, 3) AS hll_estimate,
           x.exact_distinct
         FROM est JOIN (SELECT event_type,
                          CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
                        FROM events GROUP BY 1) x USING (event_type)""",
    "q60_band_join" ->
      """WITH e AS (SELECT user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_pairs
         FROM e a JOIN e b ON a.user_id = b.user_id
           AND b.t > a.t AND b.t <= a.t + 3600000000
         GROUP BY 1, 2""",
    "q61_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
                 CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                   AS BIGINT) AS h
               FROM events),
         r AS (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS cnt
               FROM h)
         SELECT event_type,
           CASE WHEN cnt >= 64
                THEN CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) /
                     CAST(h AS DOUBLE)
                ELSE CAST(cnt AS DOUBLE) END AS kmv_estimate
         FROM r WHERE (cnt >= 64 AND rk = 64) OR (cnt < 64 AND rk = cnt)""",
    "q62_rollup_revenue" ->
      """WITH j AS (SELECT n_name,
                      CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
                      o_totalprice
                    FROM orders, customer, nation
                    WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey)
         SELECT n_name, yr, round(sum(o_totalprice), 2) AS revenue,
           CAST(GROUPING(n_name, yr) AS BIGINT) AS gid
         FROM j GROUP BY ROLLUP(n_name, yr)""",
    "q63_pivot_priority" ->
      """SELECT n_name,
           round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS p_urgent,
           round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS p_high,
           round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS p_medium,
           round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS p_notspec,
           round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS p_low
         FROM orders, customer, nation
         WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q64_exact_quantiles" ->
      """WITH r AS (SELECT l_returnflag AS rf, l_extendedprice AS price,
                      row_number() OVER (PARTITION BY l_returnflag
                                         ORDER BY l_extendedprice) AS rn,
                      count(*) OVER (PARTITION BY l_returnflag) AS n
                    FROM lineitem)
         SELECT rf, max(CASE WHEN rn = (n + 3) // 4 THEN price END) AS p25,
           max(CASE WHEN rn = (n + 1) // 2 THEN price END) AS p50,
           max(CASE WHEN rn = (3*n + 3) // 4 THEN price END) AS p75,
           max(CASE WHEN rn = (9*n + 9) // 10 THEN price END) AS p90
         FROM r GROUP BY rf""",
    "q65_salted_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 0) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q66_bm25_search" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                      FROM documents),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS tot_dl FROM dl),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
                WHERE tok IN ('hash', 'join', 'spark') GROUP BY doc_id, tok),
         df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         scored AS (
           SELECT tf.doc_id, tf.tok,
             ln(CAST(1 AS DOUBLE) +
                (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
                (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
             * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1)) /
               (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                 (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) /
                   (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS contrib
           FROM tf, df, dl, stats
           WHERE tf.tok = df.tok AND tf.doc_id = dl.doc_id),
         summed AS (
           SELECT doc_id,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(contrib ORDER BY tok)), (a, b) -> a + b), 4) AS score
           FROM scored GROUP BY doc_id)
         SELECT doc_id, score FROM summed
         ORDER BY score DESC, doc_id LIMIT 10""",
    "q67_kernel_scan" ->
      """SELECT l_linestatus, count(*) AS n,
           round(sum(l_extendedprice), 0) AS total_price
         FROM lineitem
         WHERE l_quantity >= 45 AND l_returnflag = 'R'
         GROUP BY l_linestatus""",
    "q68_funnel" ->
      """WITH enc AS (
           SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) * 8 +
             CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS e
           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
         r AS (
           SELECT user_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT), list_sort(list(e))),
               (acc, x) -> acc + CASE WHEN x % 8 = acc THEN 1 ELSE 0 END) AS reached
           FROM enc GROUP BY user_id),
         s AS (SELECT unnest(range(reached)) AS stage_idx FROM r WHERE reached > 0)
         SELECT CASE stage_idx WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                  ELSE 'purchase' END AS stage,
           CAST(stage_idx AS BIGINT) AS stage_idx, count(*) AS n_users
         FROM s GROUP BY 1, 2""",
    "q69_retention_cohorts" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
         f AS (SELECT user_id, min(t) AS t0 FROM e GROUP BY user_id),
         w AS (SELECT DISTINCT e.user_id,
                 t0 // 604800000000 AS cohort_week,
                 t // 604800000000 - t0 // 604800000000 AS week_offset
               FROM e JOIN f ON e.user_id = f.user_id)
         SELECT cohort_week, week_offset, count(*) AS n_users
         FROM w GROUP BY 1, 2 ORDER BY cohort_week, week_offset""",
    // 8x8 -> 4x4 nearest-neighbor keeps pixels at even coordinates:
    // gray(x', y') = (id*31 + 14x' + 26y') mod 256 from the generator
    "q135_multimodal_resize" ->
      """WITH img AS (SELECT doc_id AS asset_id,
                        CASE WHEN doc_id % 4 = 0 THEN 'png' ELSE 'bmp' END
                          AS format
                      FROM documents WHERE doc_id % 4 IN (0, 1)),
         px AS (SELECT asset_id, format,
                  (asset_id * 31 + 14 * xs.x + 26 * ys.y) % 256 AS g
                FROM img,
                  (SELECT unnest(range(4)) AS x) xs,
                  (SELECT unnest(range(4)) AS y) ys)
         SELECT asset_id, format, CAST(4 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height,
           round(CAST(sum(g) AS DOUBLE) / 16.0, 4) AS mean_gray
         FROM px GROUP BY asset_id, format""",
    // symmetrized edges joined to endpoint degrees; integer sums into
    // the closed-form Pearson
    "q145_assortativity" ->
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         e AS (SELECT a AS u, b AS v FROM und
               UNION ALL SELECT b AS u, a AS v FROM und),
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
                 FROM e GROUP BY u),
         j AS (SELECT du.d AS du, dv.d AS dv
               FROM e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS m,
                 sum(CAST(du AS DOUBLE)) AS sx, sum(CAST(dv AS DOUBLE)) AS sy,
                 sum(CAST(du * dv AS DOUBLE)) AS sxy,
                 sum(CAST(du * du AS DOUBLE)) AS sxx,
                 sum(CAST(dv * dv AS DOUBLE)) AS syy
               FROM j)
         SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           round((m*sxy - sx*sy) /
             (sqrt(m*sxx - sx*sx) * sqrt(m*syy - sy*sy)), 4) AS assortativity
         FROM s""",
    // three unrolled synchronous rounds; per round the (node, label)
    // frequency then argmax with (freq DESC, label ASC) — the same
    // total tie-break as max(struct(f, -label))
    "q146_label_propagation" ->
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         e AS (SELECT a AS u, b AS v FROM und
               UNION ALL SELECT b AS u, a AS v FROM und),
         l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
         c1 AS (SELECT e.u, l0.label, count(*) AS f
                FROM e JOIN l0 ON e.v = l0.node GROUP BY 1, 2),
         l1 AS (SELECT u AS node, label FROM c1
                QUALIFY row_number() OVER (PARTITION BY u
                  ORDER BY f DESC, label) = 1),
         c2 AS (SELECT e.u, l1.label, count(*) AS f
                FROM e JOIN l1 ON e.v = l1.node GROUP BY 1, 2),
         l2 AS (SELECT u AS node, label FROM c2
                QUALIFY row_number() OVER (PARTITION BY u
                  ORDER BY f DESC, label) = 1),
         c3 AS (SELECT e.u, l2.label, count(*) AS f
                FROM e JOIN l2 ON e.v = l2.node GROUP BY 1, 2),
         l3 AS (SELECT u AS node, label FROM c3
                QUALIFY row_number() OVER (PARTITION BY u
                  ORDER BY f DESC, label) = 1)
         SELECT node AS user_id, label AS community FROM l3""",
    // trailing-7-rows z-score from exact integer window sums; the
    // closed-form mean/sd expressions are spelled identically to the
    // Spark side so the doubles match bit-for-bit
    "q147_volume_anomaly" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                          CAST(count(*) AS BIGINT) AS n
                        FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, day, n,
                 CAST(count(n) OVER tw AS BIGINT) AS k,
                 CAST(sum(n) OVER tw AS BIGINT) AS s,
                 CAST(sum(n * n) OVER tw AS BIGINT) AS s2
               FROM daily
               WINDOW tw AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         z AS (SELECT event_type, day, n,
                 CAST(s AS DOUBLE) / k AS mean,
                 sqrt(CAST(k * s2 - s * s AS DOUBLE) / (k * (k - 1))) AS sd
               FROM w WHERE k >= 3 AND k * s2 > s * s)
         SELECT event_type, day, n, round(mean, 6) AS trail_mean,
           round((n - mean) / sd, 6) AS zscore
         FROM z WHERE abs(round((n - mean) / sd, 6)) >= 1.5""",
    // each doc enters its length bucket and the next, keyed also by its
    // first token; dedup pairs, then one levenshtein per pair on the
    // 80-char prefixes
    "q148_editdist_near_dup" ->
      """WITH b AS (SELECT doc_id, substr(text, 1, 80) AS p,
                      string_split(text, ' ')[1] AS w1,
                      CAST(length(text) AS BIGINT) AS len
                    FROM documents),
         bk AS (SELECT doc_id, p, w1, len, len // 40 AS bkt FROM b
                UNION ALL
                SELECT doc_id, p, w1, len, len // 40 + 1 AS bkt FROM b),
         cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                    l.p AS pa, r.p AS pb
                  FROM bk l JOIN bk r ON l.bkt = r.bkt AND l.w1 = r.w1
                  WHERE l.doc_id < r.doc_id AND abs(l.len - r.len) <= 40)
         SELECT id_a, id_b, CAST(levenshtein(pa, pb) AS BIGINT) AS dist
         FROM cand WHERE levenshtein(pa, pb) <= 20""",
    // top-20 vocabulary by (count DESC, token ASC); OOV = tokens left
    // of the same boundary
    "q149_oov_rate" ->
      """WITH toks AS (SELECT source AS src,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
               w -> w <> '')) AS tok
           FROM documents),
         vocab AS (SELECT tok FROM toks GROUP BY tok
                   ORDER BY count(*) DESC, tok LIMIT 20)
         SELECT src AS source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE tok NOT IN (SELECT tok FROM vocab))
             AS BIGINT) AS n_oov,
           round(CAST(count(*) FILTER (WHERE tok NOT IN
               (SELECT tok FROM vocab)) AS DOUBLE) / count(*), 6) AS oov_rate
         FROM toks GROUP BY src""",
    // per-user second-floored gaps; exact integer moment sums into the
    // identical closed-form doubles; 20 steadiest actors
    "q150_bot_regularity" ->
      """WITH g AS (SELECT user_id,
             epoch_us(ts) // 1000000 -
               lag(epoch_us(ts) // 1000000) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS gap
           FROM events),
         m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(gap) AS BIGINT) AS s,
                 CAST(sum(gap * gap) AS BIGINT) AS s2
               FROM g WHERE gap IS NOT NULL GROUP BY user_id),
         c AS (SELECT user_id, k + 1 AS n_events,
                 CAST(s AS DOUBLE) / k AS mean,
                 sqrt(CAST(k * s2 - s * s AS DOUBLE) / (k * (k - 1))) AS sd
               FROM m WHERE k >= 4 AND s > 0)
         SELECT user_id, n_events, round(mean, 6) AS mean_gap_s,
           round(sd / mean, 6) AS cv, sd / mean < 0.5 AS metronomic
         FROM c ORDER BY round(sd / mean, 6), user_id LIMIT 20""",
    // the same md5-family banding as q93's oracle; a doc is admitted
    // iff it is min(doc_id) in every one of its 8 band buckets — the
    // batch replay of the stream's first-arrival state
    // q152's bucket replay; "fresh" = first in bucket OR previous
    // arrival more than ttl (100 s of doc_id-seconds) before — the lag
    // window is exactly the stream's last-seen state rule
    "q185_stream_lsh_ttl" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         sh AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
           FROM (SELECT doc_id, unnest(fset) AS sh FROM sets)),
         hs AS (
           SELECT doc_id, j, min(h1 + j * h2) AS h
           FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, CAST(j // 4 AS INT) AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bh
           FROM hs GROUP BY doc_id, CAST(j // 4 AS INT)),
         lagged AS (
           SELECT doc_id, band, bh,
             lag(doc_id) OVER (PARTITION BY band, bh
               ORDER BY doc_id) AS prev_id
           FROM bands),
         verdicts AS (
           SELECT doc_id,
             (prev_id IS NULL OR (doc_id - prev_id) * 1000 > 100000)
               AS fresh
           FROM lagged)
         SELECT doc_id, bool_and(fresh) AS admitted,
           CAST(count(*) FILTER (WHERE fresh) AS BIGINT) AS n_fresh
         FROM verdicts GROUP BY doc_id""",
    "q152_stream_lsh_dedup" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         sh AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
           FROM (SELECT doc_id, unnest(fset) AS sh FROM sets)),
         hs AS (
           SELECT doc_id, j, min(h1 + j * h2) AS h
           FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, CAST(j // 4 AS INT) AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bh
           FROM hs GROUP BY doc_id, CAST(j // 4 AS INT)),
         firsts AS (
           SELECT band, bh, min(doc_id) AS first_id
           FROM bands GROUP BY band, bh)
         SELECT b.doc_id,
           bool_and(b.doc_id = f.first_id) AS admitted,
           CAST(count(*) FILTER (WHERE b.doc_id = f.first_id) AS BIGINT)
             AS n_first
         FROM bands b JOIN firsts f ON b.band = f.band AND b.bh = f.bh
         GROUP BY b.doc_id""",
    // the maintained index must equal nearest-centroid assignment over
    // the FINAL table state: rows below 300 surviving the %7 delete —
    // including that ids appended in v1 then deleted in v2 are absent
    "q156_incremental_ann_index" ->
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                         CAST(embedding AS DOUBLE[]) AS ce
                       FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 300 AND vec_id % 7 <> 0)
         SELECT c_id, cell FROM (
           SELECT c.c_id, cent.cell,
             row_number() OVER (PARTITION BY c.c_id
               ORDER BY list_distance(c.e, cent.ce), cent.cell) AS ar
           FROM c CROSS JOIN cent)
         WHERE ar = 1""",
    // q26's lang/quality spellings + q27's exact pairs folded into the
    // one release artifact; top language ties break by marker order
    // (en,de,fr,es,zh — the same CASE order), dup docs via a left join
    "q161_corpus_datacard" ->
      """WITH scored AS (
           SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','fast','data','query'))) AS s_en,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('scan','merge','window'))) AS s_de,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('table','column','line'))) AS s_fr,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('row','group','order'))) AS s_es,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('hash','join','key'))) AS s_zh,
             CAST(length(text) AS DOUBLE) AS n_chars
           FROM documents),
         labeled AS (
           SELECT doc_id, source, n_tokens,
             CASE WHEN s_en = gm AND gm > 0 THEN 'en'
                  WHEN s_de = gm AND gm > 0 THEN 'de'
                  WHEN s_fr = gm AND gm > 0 THEN 'fr'
                  WHEN s_es = gm AND gm > 0 THEN 'es'
                  WHEN s_zh = gm AND gm > 0 THEN 'zh'
                  ELSE 'und' END AS pred_lang,
             (0.5 * least(n_chars / 500.0, 1.0) +
              0.5 * (1.0 - least(abs((n_chars - (CAST(n_tokens AS DOUBLE) - 1.0))
                                     / CAST(n_tokens AS DOUBLE) - 5.0) / 5.0, 1.0))) *
             (CASE WHEN n_tokens < 5 THEN 0.5 ELSE 1.0 END) AS quality
           FROM (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm
                 FROM scored)),
         sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         dup AS (SELECT id_a AS doc_id FROM pairs
                 UNION SELECT id_b FROM pairs),
         lt AS (SELECT source, pred_lang, count(*) AS c
                FROM labeled GROUP BY 1, 2),
         top AS (SELECT source, pred_lang AS top_lang FROM lt
                 QUALIFY row_number() OVER (PARTITION BY source
                   ORDER BY c DESC, pred_lang) = 1)
         SELECT l.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(l.n_tokens) AS BIGINT) AS total_tokens,
           round(avg(l.quality), 4) AS avg_quality,
           CAST(count(d.doc_id) AS BIGINT) AS n_neardup_docs,
           round(CAST(count(d.doc_id) AS DOUBLE) / count(*), 6) AS dup_rate,
           any_value(t.top_lang) AS top_lang
         FROM labeled l
         LEFT JOIN dup d ON d.doc_id = l.doc_id
         JOIN top t ON t.source = l.source
         GROUP BY l.source""",
    // v0 of documents_versioned is the first doc_id quartile by
    // construction — the oracle re-derives the boundary from the data
    "q160_version_dedup_gate" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         q1 AS (SELECT (max(doc_id) + 1) // 4 AS cut FROM documents),
         corpus AS (SELECT s.* FROM sets s, q1 WHERE s.doc_id < q1.cut),
         batch AS (SELECT s.* FROM sets s, q1 WHERE s.doc_id >= q1.cut),
         dup AS (
           SELECT b.doc_id FROM batch b JOIN corpus c ON
             len(list_intersect(b.fset, c.fset))::DOUBLE /
               len(list_distinct(b.fset || c.fset))::DOUBLE >= 0.7
           UNION
           SELECT b.doc_id FROM batch b JOIN batch b2 ON b2.doc_id < b.doc_id AND
             len(list_intersect(b.fset, b2.fset))::DOUBLE /
               len(list_distinct(b2.fset || b.fset))::DOUBLE >= 0.7)
         SELECT doc_id FROM batch
         WHERE doc_id NOT IN (SELECT doc_id FROM dup)""",
    // ranked vertex list + md5-mod draws + rejection, replayed verbatim;
    // % equals pmod here because both operands are positive
    "q159_negative_edges" ->
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         verts AS (SELECT a AS node FROM und UNION SELECT b FROM und),
         ranked AS (SELECT node,
                      CAST(row_number() OVER (ORDER BY node) AS BIGINT) AS rn,
                      CAST(count(*) OVER () AS BIGINT) AS n
                    FROM verts),
         prop AS (SELECT v.node, j.j,
                    (('0x' || substr(md5(v.node::VARCHAR || ':' ||
                        j.j::VARCHAR || ':neg1'), 1, 12))::BIGINT % v.n) + 1
                      AS r
                  FROM ranked v, (SELECT unnest(range(1, 9)) AS j) j),
         tgt AS (SELECT p.node, t.node AS neg, min(p.j) AS j
                 FROM prop p JOIN ranked t ON t.rn = p.r
                 WHERE t.node <> p.node
                 GROUP BY p.node, t.node),
         surv AS (SELECT tgt.node, tgt.neg, tgt.j
                  FROM tgt LEFT JOIN und ON
                    und.a = least(tgt.node, tgt.neg) AND
                    und.b = greatest(tgt.node, tgt.neg)
                  WHERE und.a IS NULL)
         SELECT node AS user_id, neg AS negative,
           CAST(row_number() OVER (PARTITION BY node ORDER BY j) AS BIGINT)
             AS draw
         FROM surv
         QUALIFY row_number() OVER (PARTITION BY node ORDER BY j) <= 2""",
    // exact-jaccard pairs (q27's spelling) restricted to split-crossing,
    // folded into the one audit row
    "q157_split_leakage" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         cross_pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7
             AND ((a.doc_id % 10 >= 8) <> (b.doc_id % 10 >= 8))),
         leaked AS (
           SELECT DISTINCT CASE WHEN id_a % 10 >= 8 THEN id_a ELSE id_b END AS v
           FROM cross_pairs)
         SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
             AS n_train,
           (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 10 >= 8)
             AS n_val,
           (SELECT CAST(count(*) AS BIGINT) FROM cross_pairs) AS n_cross_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM leaked) AS n_val_leaked,
           round((SELECT count(*) FROM leaked)::DOUBLE /
             (SELECT count(*) FROM documents WHERE doc_id % 10 >= 8), 6)
             AS leak_rate""",
    // per-(label, dim) floor-quantized integer sums into exact means,
    // then the pairwise L2 matrix
    "q158_centroid_drift" ->
      """WITH cells AS (
           SELECT label AS lbl, i,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(e[CAST(i AS INT)] * 1048576) AS BIGINT))
               AS BIGINT) AS q
           FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
                (SELECT unnest(range(1, 65)) AS i)
           GROUP BY label, i),
         m AS (SELECT lbl, i, CAST(q AS DOUBLE) / (n * 1048576) AS m
               FROM cells)
         SELECT a.lbl AS label_a, b.lbl AS label_b,
           round(sqrt(sum((a.m - b.m) * (a.m - b.m))), 6) AS dist
         FROM m a JOIN m b ON a.i = b.i AND a.lbl < b.lbl
         GROUP BY a.lbl, b.lbl""",
    // same cross-join + rank spelling as q29, label-filtered before the
    // rank cut
    "q154_hard_negatives" ->
      """SELECT q_id, rank, c_id, c_label, round(sim, 3) AS sim FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.label AS c_label,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS sim,
             CAST(row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                 CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id)
               AS BIGINT) AS rank
           FROM embeddings q CROSS JOIN embeddings c
           WHERE q.vec_id < 5 AND c.label <> q.label)
         WHERE rank <= 3""",
    // the same plant + the repair digraphs that fire on this corpus
    // (the op's remaining table entries are no-ops here and are pinned
    // by the unit test instead)
    // replays the NB fit exactly: same train split, same top-200 trigram
    // vocabulary tie-break, same integer-quantized log-likelihoods, so
    // every score comparison is exact integer arithmetic in both engines
    "q166_langid" ->
      """WITH base AS (SELECT doc_id AS id, lang, lower(text) AS text FROM documents),
         ranked AS (SELECT id, lang, text,
             row_number() OVER (PARTITION BY lang ORDER BY id) AS rn FROM base),
         train AS (SELECT id, lang, text FROM ranked WHERE rn <= 20),
         test AS (SELECT id, lang, text FROM ranked WHERE rn > 20),
         tg AS (SELECT lang, unnest(list_transform(
             range(1, greatest(len(text) - 2, 1) + 1),
             i -> substr(text, CAST(i AS INT), 3))) AS g FROM train),
         counts AS (SELECT g, lang, CAST(count(*) AS BIGINT) AS c
                    FROM tg GROUP BY g, lang),
         vocab AS (SELECT g FROM (SELECT g, sum(c) AS tc FROM counts
                   WHERE len(g) = 3
                   GROUP BY g ORDER BY tc DESC, g LIMIT 200)),
         vn AS (SELECT CAST(count(*) AS BIGINT) AS V FROM vocab),
         langs AS (SELECT DISTINCT lang FROM train),
         tot AS (SELECT lang, sum(c) AS tot FROM counts JOIN vocab USING (g)
                 GROUP BY lang),
         logp AS (SELECT v.g, l.lang,
             CAST(round(ln((coalesce(c.c, 0) + 1)::DOUBLE /
                           (tot.tot + vn.V)::DOUBLE) * 1e6) AS BIGINT) AS logp
           FROM vocab v CROSS JOIN langs l
           LEFT JOIN counts c ON c.g = v.g AND c.lang = l.lang
           JOIN tot ON tot.lang = l.lang, vn),
         prior AS (SELECT lang,
             CAST(round(ln(ntr::DOUBLE / ntot::DOUBLE) * 1e6) AS BIGINT) AS prior
           FROM (SELECT lang, count(*) AS ntr FROM train GROUP BY lang),
                (SELECT count(*) AS ntot FROM train)),
         teg AS (SELECT id, g, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT id, unnest(list_transform(
               range(1, greatest(len(text) - 2, 1) + 1),
               i -> substr(text, CAST(i AS INT), 3))) AS g FROM test)
           GROUP BY id, g),
         gs AS (SELECT id, lang, sum(cnt * logp) AS gs
                FROM teg JOIN logp USING (g) GROUP BY id, lang),
         allsc AS (SELECT t.id, p.lang, p.prior + coalesce(gs.gs, 0) AS score
           FROM (SELECT id FROM test) t CROSS JOIN prior p
           LEFT JOIN gs ON gs.id = t.id AND gs.lang = p.lang),
         pred AS (SELECT id, lang AS pred FROM (SELECT id, lang,
             row_number() OVER (PARTITION BY id ORDER BY score DESC, lang) AS rn
           FROM allsc) WHERE rn = 1),
         j AS (SELECT t.id, t.lang, pred.pred FROM test t JOIN pred USING (id)),
         pt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct FROM j GROUP BY lang),
         pp AS (SELECT pred AS lang, CAST(count(*) AS BIGINT) AS n_pred
                FROM j GROUP BY pred)
         SELECT coalesce(pt.lang, pp.lang) AS lang,
           coalesce(n_test, 0) AS n_test, coalesce(n_pred, 0) AS n_pred,
           coalesce(n_correct, 0) AS n_correct
         FROM pt FULL JOIN pp ON pt.lang = pp.lang""",
    // 20-token windows, all-pairs Jaccard >= 0.7 at paragraph
    // granularity, drop-if-earlier-duplicate, reassemble in pidx order
    "q165_paragraph_dedup" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         paras AS (
           SELECT doc_id, CAST(i AS BIGINT) AS pidx,
             array_to_string(list_slice(ts, CAST(i*20+1 AS INT),
                                        CAST(i*20+20 AS INT)), ' ') AS para
           FROM tok, LATERAL unnest(
             range(0, CAST(ceil(len(ts) / 20.0) AS BIGINT))) AS t(i)
           WHERE len(ts) > 0),
         units AS (SELECT doc_id*1024 + pidx AS uid, doc_id, pidx, para FROM paras),
         sets AS (SELECT uid, list_distinct(
             CASE WHEN len(string_split(para, ' ')) < 3 THEN [para]
                  ELSE list_transform(range(1, len(string_split(para, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(para, ' '),
                                CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM units),
         dup AS (SELECT DISTINCT b.uid FROM sets b JOIN sets a
                 ON a.uid < b.uid
                 AND len(list_intersect(a.fset, b.fset))::DOUBLE /
                     len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         kept AS (SELECT u.doc_id, u.pidx, u.para,
                    u.uid NOT IN (SELECT uid FROM dup) AS k
                  FROM units u)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           string_agg(CASE WHEN k THEN '1' ELSE '0' END, '' ORDER BY pidx)
             AS kept_mask,
           coalesce(string_agg(para, ' ' ORDER BY pidx) FILTER (WHERE k), '')
             AS text_kept
         FROM kept GROUP BY doc_id""",
    // q165's window segmentation + the md5 window pick; context tokens
    // = sum of the non-query windows' token counts
    "q188_ict_pairs" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
                      FROM documents),
         d2 AS (SELECT doc_id, ts,
                  CAST(ceil(len(ts) / 20.0) AS BIGINT) AS n,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                    % CAST(ceil(len(ts) / 20.0) AS BIGINT) AS qidx
                FROM tok
                WHERE len(ts) > 0 AND CAST(ceil(len(ts) / 20.0) AS BIGINT) >= 2),
         paras AS (SELECT doc_id, i,
                     array_to_string(list_slice(ts, CAST(i*20+1 AS INT),
                       CAST(i*20+20 AS INT)), ' ') AS para
                   FROM d2, LATERAL unnest(range(0, n)) AS t(i)),
         q AS (SELECT p.doc_id, d2.qidx, p.para AS q
               FROM paras p JOIN d2 USING (doc_id) WHERE p.i = d2.qidx),
         ctx AS (SELECT p.doc_id,
                   CAST(sum(len(string_split(para, ' '))) AS BIGINT)
                     AS ctx_tokens
                 FROM paras p JOIN d2 USING (doc_id)
                 WHERE p.i <> d2.qidx GROUP BY p.doc_id)
         SELECT q.doc_id, CAST(q.qidx AS BIGINT) AS qidx, q.q, ctx.ctx_tokens
         FROM q JOIN ctx USING (doc_id)""",
    // hashes recomputed from the deterministic pixel generator
    // (pixel = (id·31 + 7x + 13y) mod 256; lossless codecs ⇒ decoded
    // pixels are identical), integer DCT table inlined from the SAME
    // Scala constant the engine uses, then the identical exact-collapse
    // → band-join → Hamming ≤ 6 → min-neighbor canon cascade
    "q189_image_phash_dedup" ->
      s"""WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 4 IN (0, 1)),
         px AS (SELECT doc_id, x, y,
                  CAST((doc_id*31 + x*7 + y*13) % 256 AS BIGINT) AS p
                FROM img, range(8) t1(x), range(8) t2(y)),
         bits AS (SELECT a.doc_id, a.x, a.y,
                    CASE WHEN a.p < b.p THEN 1 ELSE 0 END AS bit
                  FROM px a JOIN px b
                    ON a.doc_id = b.doc_id AND b.x = (a.x+1) % 8 AND b.y = a.y),
         bands AS (SELECT doc_id, y//2 AS band,
                     CAST(sum(bit * (1::BIGINT << ((y%2)*8 + x))) AS BIGINT) AS v
                   FROM bits GROUP BY 1, 2),
         h AS (SELECT doc_id,
                 max(CASE WHEN band=0 THEN v END) AS b0,
                 max(CASE WHEN band=1 THEN v END) AS b1,
                 max(CASE WHEN band=2 THEN v END) AS b2,
                 max(CASE WHEN band=3 THEN v END) AS b3
               FROM bands GROUP BY doc_id),
         ct(k, i, c) AS (VALUES ${dctTableSql}),
         dct AS (SELECT px.doc_id, tu.k AS u, tv.k AS v2,
                   CAST(sum(px.p * tu.c * tv.c) AS BIGINT) AS coeff
                 FROM px JOIN ct tu ON tu.i = px.x JOIN ct tv ON tv.i = px.y
                 WHERE tu.k < 4 AND tv.k < 4 AND NOT (tu.k = 0 AND tv.k = 0)
                 GROUP BY 1, 2, 3),
         ph AS (SELECT doc_id, CAST(sum(CASE WHEN coeff > 0
                    THEN (1::BIGINT << (u*4 + v2 - 1)) ELSE 0 END) AS BIGINT)
                  AS phash
                FROM dct GROUP BY doc_id),
         reps AS (SELECT b0, b1, b2, b3, min(doc_id) AS rep_id,
                    count(*) AS n_members
                  FROM h GROUP BY 1, 2, 3, 4),
         rb AS (SELECT rep_id, 0 AS band, b0 AS v FROM reps
                UNION ALL SELECT rep_id, 1, b1 FROM reps
                UNION ALL SELECT rep_id, 2, b2 FROM reps
                UNION ALL SELECT rep_id, 3, b3 FROM reps),
         cand AS (SELECT DISTINCT a.rep_id AS lo, b.rep_id AS hi
                  FROM rb a JOIN rb b
                    ON a.band = b.band AND a.v = b.v AND a.rep_id < b.rep_id),
         ham AS (SELECT c.lo, c.hi,
                   bit_count(xor(ra.b0, rs.b0)) + bit_count(xor(ra.b1, rs.b1)) +
                   bit_count(xor(ra.b2, rs.b2)) + bit_count(xor(ra.b3, rs.b3)) AS d
                 FROM cand c JOIN reps ra ON ra.rep_id = c.lo
                             JOIN reps rs ON rs.rep_id = c.hi),
         mrg AS (SELECT hi AS rep_id, min(lo) AS canon
                 FROM ham WHERE d <= 6 GROUP BY hi)
         SELECT h.doc_id AS asset_id, r.rep_id,
           coalesce(m.canon, r.rep_id) AS canon_id,
           CAST(r.n_members AS BIGINT) AS n_exact, ph.phash
         FROM h JOIN reps r USING (b0, b1, b2, b3) JOIN ph USING (doc_id)
         LEFT JOIN mrg m ON m.rep_id = r.rep_id""",
    // seed substring counts -> two hard-EM rounds (integer Viterbi DP
    // per distinct word as list folds, freq-weighted recount) -> final
    // (piece, cnt, quantized logp); every comparison is integer so the
    // replay is bit-exact
    "q190_unigram_fit" ->
      (s"""WITH wf AS (
   SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
     SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
     FROM documents) WHERE w <> '' GROUP BY w),
 words AS (SELECT w, freq, len(w) AS n FROM wf WHERE len(w) <= 30),
 rawsub AS (
   SELECT substr(w, CAST(j AS INT), CAST(k AS INT)) AS pc, CAST(sum(freq) AS BIGINT) AS c
   FROM words, LATERAL unnest(range(1, n+1)) t(j), LATERAL unnest(range(1, 4)) u(k)
   WHERE j + k - 1 <= n GROUP BY 1),
 grams AS (SELECT pc, c FROM rawsub WHERE len(pc) > 1 ORDER BY c DESC, pc LIMIT 40),
 vocab AS MATERIALIZED (SELECT pc, c FROM rawsub WHERE len(pc) = 1 UNION ALL SELECT pc, c FROM grams),
 k0 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS V FROM vocab),
 probs0 AS MATERIALIZED (
   SELECT pc AS piece, CAST(floor(ln((c + 1)::DOUBLE / (tot + V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lp
   FROM vocab, k0),""" +
      unigramDpSql("probs0", "cnt1") + """,
 cnt1m AS MATERIALIZED (SELECT * FROM cnt1),
 k1 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, (SELECT V FROM k0) AS V FROM cnt1m),
 probs1 AS MATERIALIZED (
   SELECT v.pc AS piece,
     CAST(floor(ln((coalesce(c1.c, 0) + 1)::DOUBLE / (k1.tot + k1.V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lp
   FROM vocab v LEFT JOIN cnt1m c1 ON c1.pc = v.pc, k1),""" +
      unigramDpSql("probs1", "cnt2") + """,
 cnt2m AS MATERIALIZED (SELECT * FROM cnt2),
 k2 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, (SELECT V FROM k0) AS V FROM cnt2m)
 SELECT v.pc AS piece, CAST(coalesce(c2.c, 0) AS BIGINT) AS cnt,
   CAST(floor(ln((coalesce(c2.c, 0) + 1)::DOUBLE / (k2.tot + k2.V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS logp_q
 FROM vocab v LEFT JOIN cnt2m c2 ON c2.pc = v.pc, k2"""),
    // same padded trigram stream, same count tables (c3/c2/continuation
    // mid/midv/uni), identical arithmetic shape so the doubles agree
    "q191_kn_trigram" ->
      """WITH tk AS (SELECT source AS src,
             string_split_regex(lower(text), '\s+') AS t0
           FROM documents WHERE text IS NOT NULL),
         tok AS (SELECT src, list_filter(t0, x -> x <> '') AS t FROM tk),
         tok2 AS (SELECT src, t, ['<s>', '<s>'] || t AS us, len(t) AS n
                  FROM tok WHERE len(t) > 0),
         ev AS (SELECT src, us[CAST(i AS INT)] AS u, us[CAST(i+1 AS INT)] AS v,
                  t[CAST(i AS INT)] AS w
                FROM tok2, LATERAL unnest(range(1, n+1)) r(i)),
         evc AS (SELECT src, u, v, w, CAST(count(*) AS BIGINT) AS cnt
                 FROM ev GROUP BY 1, 2, 3, 4),
         c3 AS (SELECT u, v, w, CAST(sum(cnt) AS BIGINT) AS c3
                FROM evc GROUP BY 1, 2, 3),
         c2 AS (SELECT u, v, CAST(sum(c3) AS BIGINT) AS c2,
                  CAST(count(*) AS BIGINT) AS n1p
                FROM c3 GROUP BY 1, 2),
         mid AS (SELECT v, w, CAST(count(*) AS BIGINT) AS mid
                 FROM c3 GROUP BY 1, 2),
         midv AS (SELECT v, CAST(sum(mid) AS BIGINT) AS midctx,
                    CAST(count(*) AS BIGINT) AS midn1
                  FROM mid GROUP BY 1),
         uniw AS (SELECT w, CAST(count(*) AS BIGINT) AS uni FROM mid GROUP BY 1),
         scal AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM mid) AS unitot,
                    (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM c3) AS vsz),
         sc AS (SELECT e.src, e.cnt,
             ln(greatest(c3.c3 - 0.75, 0.0) / c2.c2 + (0.75 * c2.n1p / c2.c2) *
                (greatest(mid.mid - 0.75, 0.0) / midv.midctx +
                 (0.75 * midv.midn1 / midv.midctx) *
                 (uniw.uni::DOUBLE / scal.unitot::DOUBLE))) AS kn_lp,
             ln((c3.c3 + 1)::DOUBLE / (c2.c2 + scal.vsz)::DOUBLE) AS add1_lp
           FROM evc e JOIN c3 USING (u, v, w) JOIN c2 USING (u, v)
                JOIN mid USING (v, w) JOIN midv USING (v) JOIN uniw USING (w),
                scal)
         SELECT src AS source, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
           round(sum(cnt * kn_lp) / sum(cnt), 4) AS kn_ll,
           round(sum(cnt * add1_lp) / sum(cnt), 4) AS add1_ll,
           round(round(sum(cnt * kn_lp) / sum(cnt), 4) -
                 round(sum(cnt * add1_lp) / sum(cnt), 4), 4) AS kn_uplift
         FROM sc GROUP BY src""",
    // every stage replayed: plant + repair chain (emitted from the same
    // table) + DuckDB's nfc_normalize, q51's langid/quality spellings,
    // q165's paragraph cascade, q27's all-pairs jaccard with keep-first,
    // LIKE canaries, q167's water-filling, q95's span packing at 512
    "q192_curation_datacard" ->
      (s"""WITH base AS MATERIALIZED (
   SELECT doc_id, lang, source,
     len(string_split(text, ' ')) AS tok0,
     nfc_normalize(${mojibakeRepairSql(
        "((CASE WHEN doc_id % 5 = 0 THEN replace(replace(text, 'a', 'Ã¡'), 'e', 'Ã©') ELSE text END) || " +
          "(CASE doc_id % 4 WHEN 0 THEN 'e' || chr(769) WHEN 1 THEN 'A' || chr(778) WHEN 2 THEN chr(8486) ELSE '' END))")}) AS text1
   FROM documents),
 sc1 AS (
   SELECT doc_id, lang, source, tok0, text1,
     string_split(text1, ' ') AS t1s,
     CAST(length(text1) AS DOUBLE) AS n_chars
   FROM base),
 mk AS (
   SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm FROM (
     SELECT *,
       len(list_filter(t1s, t -> t IN ('the','fast','data','query'))) AS s_en,
       len(list_filter(t1s, t -> t IN ('scan','merge','window'))) AS s_de,
       len(list_filter(t1s, t -> t IN ('table','column','line'))) AS s_fr,
       len(list_filter(t1s, t -> t IN ('row','group','order'))) AS s_es,
       len(list_filter(t1s, t -> t IN ('hash','join','key'))) AS s_zh
     FROM sc1)),
 lab AS MATERIALIZED (
   SELECT doc_id, lang, source, tok0, text1,
     len(t1s) AS tok1,
     gm > 0 AS p2,
     ((0.5 * least(n_chars / 500.0, 1.0) +
       0.5 * (1.0 - least(abs((n_chars - (CAST(len(t1s) AS DOUBLE) - 1.0))
                              / CAST(len(t1s) AS DOUBLE) - 5.0) / 5.0, 1.0))) *
      (CASE WHEN len(t1s) < 5 THEN 0.5 ELSE 1.0 END)) >= 0.5
     AND len(list_distinct(t1s))::DOUBLE / len(t1s)::DOUBLE >= 0.4 AS p3
   FROM mk),
 s3 AS MATERIALIZED (
   SELECT doc_id, lang, source, text1 FROM lab WHERE p2 AND p3),
 ptok AS (SELECT doc_id, string_split(text1, ' ') AS ts FROM s3),
 paras AS (
   SELECT doc_id, CAST(i AS BIGINT) AS pidx,
     array_to_string(list_slice(ts, CAST(i*20+1 AS INT),
                                CAST(i*20+20 AS INT)), ' ') AS para
   FROM ptok, LATERAL unnest(
     range(0, CAST(ceil(len(ts) / 20.0) AS BIGINT))) AS t(i)
   WHERE len(ts) > 0),
 punits AS (SELECT doc_id*1024 + pidx AS uid, doc_id, pidx, para FROM paras),
 psets AS (SELECT uid, list_distinct(
     CASE WHEN len(string_split(para, ' ')) < 3 THEN [para]
          ELSE list_transform(range(1, len(string_split(para, ' ')) - 1),
                 i -> array_to_string(list_slice(string_split(para, ' '),
                        CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
     END) AS fset
   FROM punits),
 pdup AS (SELECT DISTINCT b.uid FROM psets b JOIN psets a
          ON a.uid < b.uid
          AND len(list_intersect(a.fset, b.fset))::DOUBLE /
              len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
 pd AS (
   SELECT doc_id,
     CAST(sum(CASE WHEN k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
     coalesce(string_agg(para, ' ' ORDER BY pidx) FILTER (WHERE k), '')
       AS text2
   FROM (SELECT u.doc_id, u.pidx, u.para,
           u.uid NOT IN (SELECT uid FROM pdup) AS k
         FROM punits u)
   GROUP BY doc_id),
 s4 AS MATERIALIZED (
   SELECT s3.doc_id, s3.lang, s3.source, pd.text2,
     CAST(len(string_split(pd.text2, ' ')) AS BIGINT) AS tok2
   FROM s3 JOIN pd USING (doc_id) WHERE pd.n_kept > 0),
 dsets AS (SELECT doc_id, list_distinct(
     CASE WHEN len(string_split(text2, ' ')) < 3 THEN [text2]
          ELSE list_transform(range(1, len(string_split(text2, ' ')) - 1),
                 i -> array_to_string(list_slice(string_split(text2, ' '),
                        CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
     END) AS fset
   FROM s4),
 ddrop AS (SELECT DISTINCT b.doc_id FROM dsets b JOIN dsets a
           ON a.doc_id < b.doc_id
           AND len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.6),
 s5 AS MATERIALIZED (
   SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM ddrop)),
 s6 AS MATERIALIZED (
   SELECT * FROM s5 WHERE NOT (text2 LIKE '%hash join%'
     OR text2 LIKE '%fast data%' OR text2 LIKE '%data data%')),
 g AS (SELECT lang, CAST(sum(tok2) AS DOUBLE) AS capacity FROM s6 GROUP BY 1),
 tot AS (SELECT 0.5 * sum(capacity) AS b FROM g),
 r AS (SELECT lang, capacity, capacity * 2.0 AS cap,
         CAST(row_number() OVER (ORDER BY capacity * 2.0, lang) AS DOUBLE) AS i,
         CAST(count(*) OVER () AS DOUBLE) AS n,
         coalesce(sum(capacity * 2.0) OVER (
           ORDER BY capacity * 2.0, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev
       FROM g),
 lv AS (SELECT r.*, ((SELECT b FROM tot) - cumprev) / (n - i + 1.0) AS level
        FROM r),
 st AS (SELECT lv.*, min(CASE WHEN cap >= level THEN i END) OVER () AS istar
        FROM lv),
 st2 AS (SELECT st.*, max(CASE WHEN i = istar THEN level END) OVER () AS lstar
         FROM st),
 um AS (SELECT round(CASE WHEN lstar IS NULL THEN cap
                          ELSE least(cap, lstar) END, 4) AS alloc FROM st2),
 pos AS (
   SELECT source, tok2 AS n_tokens,
     coalesce(sum(tok2) OVER (
       PARTITION BY source ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
   FROM s6 WHERE tok2 > 0),
 spans AS (
   SELECT source, s, s + n_tokens AS e,
     CAST(floor(s / 512.0) AS BIGINT) AS f,
     CAST(floor((s + n_tokens - 1) / 512.0) AS BIGINT) AS l
   FROM pos),
 ex AS (SELECT source, s, e, f, l, unnest(generate_series(f, l)) AS seq_id
        FROM spans),
 bins AS (
   SELECT source, seq_id,
     CAST(sum(least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512))
       AS BIGINT) AS seq_tokens
   FROM ex GROUP BY source, seq_id)
 SELECT CAST(0 AS BIGINT) AS stage_idx, 'input' AS stage,
   CAST(count(*) AS BIGINT) AS n_docs,
   CAST(coalesce(sum(tok0), 0) AS BIGINT) AS n_tokens FROM lab
 UNION ALL SELECT 1, 'sanitize', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok1), 0) AS BIGINT) FROM lab
 UNION ALL SELECT 2, 'langid', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok1), 0) AS BIGINT) FROM lab WHERE p2
 UNION ALL SELECT 3, 'quality', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok1), 0) AS BIGINT) FROM lab WHERE p2 AND p3
 UNION ALL SELECT 4, 'paragraph_dedup', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok2), 0) AS BIGINT) FROM s4
 UNION ALL SELECT 5, 'near_dup', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok2), 0) AS BIGINT) FROM s5
 UNION ALL SELECT 6, 'decontaminate', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok2), 0) AS BIGINT) FROM s6
 UNION ALL SELECT 7, 'unimax_mix', (SELECT CAST(count(*) AS BIGINT) FROM s6),
   CAST(round((SELECT coalesce(sum(alloc), 0) FROM um), 0) AS BIGINT)
 UNION ALL SELECT 8, 'pack', (SELECT CAST(count(*) AS BIGINT) FROM bins),
   (SELECT CAST(coalesce(sum(seq_tokens), 0) AS BIGINT) FROM bins)"""),
    // the full q190 fit replay (seed + two hard-EM rounds) extended one
    // more DP block: probs2 = the shipped log-probs, cnt3's backward
    // walk yields per-word piece counts; BPE side is the q129 sentinel
    // chain per distinct word; both weighted through the (lang, word)
    // frequency table
    "q197_tokenizer_bakeoff" ->
      (s"""WITH wf AS (
   SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
     SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
     FROM documents) WHERE w <> '' GROUP BY w),
 words AS (SELECT w, freq, len(w) AS n FROM wf WHERE len(w) <= 30),
 rawsub AS (
   SELECT substr(w, CAST(j AS INT), CAST(k AS INT)) AS pc, CAST(sum(freq) AS BIGINT) AS c
   FROM words, LATERAL unnest(range(1, n+1)) t(j), LATERAL unnest(range(1, 4)) u(k)
   WHERE j + k - 1 <= n GROUP BY 1),
 grams AS (SELECT pc, c FROM rawsub WHERE len(pc) > 1 ORDER BY c DESC, pc LIMIT 40),
 vocab AS MATERIALIZED (SELECT pc, c FROM rawsub WHERE len(pc) = 1 UNION ALL SELECT pc, c FROM grams),
 k0 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS V FROM vocab),
 probs0 AS MATERIALIZED (
   SELECT pc AS piece, CAST(floor(ln((c + 1)::DOUBLE / (tot + V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lp
   FROM vocab, k0),""" +
      unigramDpSql("probs0", "cnt1") + """,
 cnt1m AS MATERIALIZED (SELECT * FROM cnt1),
 k1 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, (SELECT V FROM k0) AS V FROM cnt1m),
 probs1 AS MATERIALIZED (
   SELECT v.pc AS piece,
     CAST(floor(ln((coalesce(c1.c, 0) + 1)::DOUBLE / (k1.tot + k1.V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lp
   FROM vocab v LEFT JOIN cnt1m c1 ON c1.pc = v.pc, k1),""" +
      unigramDpSql("probs1", "cnt2") + """,
 cnt2m AS MATERIALIZED (SELECT * FROM cnt2),
 k2 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, (SELECT V FROM k0) AS V FROM cnt2m),
 probs2 AS MATERIALIZED (
   SELECT v.pc AS piece,
     CAST(floor(ln((coalesce(c2.c, 0) + 1)::DOUBLE / (k2.tot + k2.V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lp
   FROM vocab v LEFT JOIN cnt2m c2 ON c2.pc = v.pc, k2),""" +
      unigramDpSql("probs2", "cnt3") + s""",
 upw AS (SELECT w, CAST(count(*) AS BIGINT) AS uni FROM bk_cnt3 GROUP BY w),
 wl AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS freq FROM (
          SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS w
          FROM documents)
        WHERE w <> '' AND len(w) <= 30 GROUP BY 1, 2),
 bp AS (SELECT w,
          CAST(len(string_split(trim(${bpeDemoChainSql(
        "(chr(1) || array_to_string(string_split(w, ''), chr(2)||chr(1)) || chr(2))")},
            chr(1) || chr(2)), chr(2)||chr(1))) AS BIGINT) AS bpe
        FROM (SELECT DISTINCT w FROM wl))
 SELECT wl.lang, CAST(sum(wl.freq) AS BIGINT) AS n_words,
   CAST(sum(wl.freq * bp.bpe) AS BIGINT) AS bpe_tokens,
   CAST(sum(wl.freq * upw.uni) AS BIGINT) AS uni_tokens,
   round(sum(wl.freq * bp.bpe)::DOUBLE / sum(wl.freq), 6) AS bpe_fertility,
   round(sum(wl.freq * upw.uni)::DOUBLE / sum(wl.freq), 6) AS uni_fertility
 FROM wl JOIN upw USING (w) JOIN bp USING (w)
 GROUP BY wl.lang"""),
    // q191's KN machinery keyed per doc, then ntile(3) over
    // (kn_ll desc, doc_id) — identical rounding before ordering
    "q196_kn_ppl_buckets" ->
      """WITH tk AS (SELECT doc_id AS src,
             string_split_regex(lower(text), '\s+') AS t0
           FROM documents WHERE text IS NOT NULL),
         tok AS (SELECT src, list_filter(t0, x -> x <> '') AS t FROM tk),
         tok2 AS (SELECT src, t, ['<s>', '<s>'] || t AS us, len(t) AS n
                  FROM tok WHERE len(t) > 0),
         ev AS (SELECT src, us[CAST(i AS INT)] AS u, us[CAST(i+1 AS INT)] AS v,
                  t[CAST(i AS INT)] AS w
                FROM tok2, LATERAL unnest(range(1, n+1)) r(i)),
         evc AS (SELECT src, u, v, w, CAST(count(*) AS BIGINT) AS cnt
                 FROM ev GROUP BY 1, 2, 3, 4),
         c3 AS (SELECT u, v, w, CAST(sum(cnt) AS BIGINT) AS c3
                FROM evc GROUP BY 1, 2, 3),
         c2 AS (SELECT u, v, CAST(sum(c3) AS BIGINT) AS c2,
                  CAST(count(*) AS BIGINT) AS n1p
                FROM c3 GROUP BY 1, 2),
         mid AS (SELECT v, w, CAST(count(*) AS BIGINT) AS mid
                 FROM c3 GROUP BY 1, 2),
         midv AS (SELECT v, CAST(sum(mid) AS BIGINT) AS midctx,
                    CAST(count(*) AS BIGINT) AS midn1
                  FROM mid GROUP BY 1),
         uniw AS (SELECT w, CAST(count(*) AS BIGINT) AS uni FROM mid GROUP BY 1),
         scal AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM mid) AS unitot),
         sc AS (SELECT e.src, e.cnt,
             ln(greatest(c3.c3 - 0.75, 0.0) / c2.c2 + (0.75 * c2.n1p / c2.c2) *
                (greatest(mid.mid - 0.75, 0.0) / midv.midctx +
                 (0.75 * midv.midn1 / midv.midctx) *
                 (uniw.uni::DOUBLE / scal.unitot::DOUBLE))) AS kn_lp
           FROM evc e JOIN c3 USING (u, v, w) JOIN c2 USING (u, v)
                JOIN mid USING (v, w) JOIN midv USING (v) JOIN uniw USING (w),
                scal),
         perdoc AS (SELECT src AS doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
             round(sum(cnt * kn_lp) / sum(cnt), 4) AS kn_ll
           FROM sc GROUP BY src)
         SELECT doc_id, n_trigrams, kn_ll,
           (['head', 'middle', 'tail'])[
             ntile(3) OVER (ORDER BY kn_ll DESC, doc_id)] AS bucket
         FROM perdoc""",
    // bands from the pixel generator, admission = first id per (band,
    // value) bucket in version (= doc_id) order, admitted iff first in
    // all four
    "q198_stream_image_dedup" ->
      """WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 4 IN (0, 1)),
         px AS (SELECT doc_id, x, y,
                  CAST((doc_id*31 + x*7 + y*13) % 256 AS BIGINT) AS p
                FROM img, range(8) t1(x), range(8) t2(y)),
         bits AS (SELECT a.doc_id, a.x, a.y,
                    CASE WHEN a.p < b.p THEN 1 ELSE 0 END AS bit
                  FROM px a JOIN px b
                    ON a.doc_id = b.doc_id AND b.x = (a.x+1) % 8 AND b.y = a.y),
         bands AS (SELECT doc_id, y//2 AS band,
                     CAST(sum(bit * (1::BIGINT << ((y%2)*8 + x))) AS BIGINT) AS v
                   FROM bits GROUP BY 1, 2),
         firsts AS (SELECT band, v, min(doc_id) AS first_id
                    FROM bands GROUP BY band, v)
         SELECT b.doc_id,
           CAST(min(CASE WHEN b.doc_id = f.first_id THEN 1 ELSE 0 END) AS BOOLEAN)
             AS admitted,
           CAST(sum(CASE WHEN b.doc_id = f.first_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_first
         FROM bands b JOIN firsts f ON f.band = b.band AND f.v = b.v
         GROUP BY b.doc_id""",
    // container replay from the IsoBmff generator formula: content key
    // k = doc_id % 50; nSamples = 4 + k%5; size(i) = 16 + (k*7+i*13)%17;
    // byte(i,j) = (k*31+i*17+j*7)%256; signature = sum (byte+1)*(j+1);
    // mirror groups = equal ordered signature chains. Track metadata
    // literals pin the moov parse (1 'dtrm' video track, timescale 600,
    // 100 ticks/sample).
    "q199_video_container_dedup" ->
      """WITH ck AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
         keys AS (SELECT DISTINCT k FROM ck),
         samp AS (SELECT k, unnest(range(256 + (k % 5))) AS i FROM keys),
         sized AS (SELECT k, i, CAST(16 + ((k*7 + i*13) % 17) AS BIGINT) AS sz
                   FROM samp),
         bytes AS (SELECT k, i, sz, unnest(range(sz)) AS j FROM sized),
         sig AS (SELECT k, i, any_value(sz) AS sz,
                   CAST(sum((((k*31 + i*17 + j*7) % 256) + 1) * (j + 1)) AS BIGINT) AS fp
                 FROM bytes GROUP BY k, i),
         perk AS (SELECT k,
                    sha256(string_agg(CAST(i AS VARCHAR) || ':' ||
                      CAST(fp AS VARCHAR), ',' ORDER BY i)) AS chain_hash,
                    CAST(count(*) AS BIGINT) AS n_samples,
                    CAST(sum(sz) AS BIGINT) AS total_bytes,
                    CAST(count(*) * 100 AS BIGINT) AS total_ticks,
                    CAST(sum(fp) AS BIGINT) AS sig_sum
                  FROM sig GROUP BY k),
         assets AS (SELECT c.doc_id AS asset_id, p.chain_hash, p.n_samples,
                      p.total_bytes, p.total_ticks, p.sig_sum
                    FROM ck c JOIN perk p ON p.k = c.k)
         SELECT CAST(min(asset_id) AS BIGINT) AS group_id,
                CAST(count(*) AS BIGINT) AS n_assets,
                CAST(1 AS BIGINT) AS n_tracks,
                'dtrm' AS codec,
                CAST(600 AS BIGINT) AS timescale,
                any_value(n_samples) AS n_samples,
                any_value(total_bytes) AS total_bytes,
                any_value(total_ticks) AS total_ticks,
                any_value(sig_sum) AS sig_sum
         FROM assets GROUP BY chain_hash ORDER BY group_id""",
    // gopher labels (q138's rule replay) + positional-codepoint hashed
    // features mod 1024 + NB fit on the id%5 train split, integer
    // micronats floor(ln(.)*1e6+0.5), unseen buckets at the smoothed
    // zero-count likelihood, tie predicts fail
    "q200_nb_quality_classifier" ->
      (s"""WITH $gopherFeatsSql,
         tr AS (SELECT f.b, f.cnt, l.label
                FROM feats f JOIN lab l USING (doc_id) WHERE l.is_train),
         tot AS (SELECT
             CAST(sum(CASE WHEN label THEN cnt ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN NOT label THEN cnt ELSE 0 END) AS BIGINT) AS tf
           FROM tr),
         dcnt AS (SELECT
             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS dp,
             CAST(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS df
           FROM lab WHERE is_train),
         model AS (SELECT b,
             CAST(floor(ln(CAST(sum(CASE WHEN label THEN cnt ELSE 0 END) + 1
               AS DOUBLE) / (tot.tp + 1024)) * 1000000 + 0.5) AS BIGINT)
               AS l_pass,
             CAST(floor(ln(CAST(sum(CASE WHEN NOT label THEN cnt ELSE 0 END) + 1
               AS DOUBLE) / (tot.tf + 1024)) * 1000000 + 0.5) AS BIGINT)
               AS l_fail
           FROM tr, tot GROUP BY b, tot.tp, tot.tf),
         consts AS (SELECT
             CAST(floor(ln(1.0 / (tot.tp + 1024)) * 1000000 + 0.5) AS BIGINT)
               AS l0p,
             CAST(floor(ln(1.0 / (tot.tf + 1024)) * 1000000 + 0.5) AS BIGINT)
               AS l0f,
             CAST(floor(ln(CAST(dcnt.dp AS DOUBLE) / (dcnt.dp + dcnt.df))
               * 1000000 + 0.5) AS BIGINT) AS prp,
             CAST(floor(ln(CAST(dcnt.df AS DOUBLE) / (dcnt.dp + dcnt.df))
               * 1000000 + 0.5) AS BIGINT) AS prf
           FROM tot, dcnt),
         scored AS (SELECT f.doc_id, l.label, l.is_train,
                      sum(f.cnt * COALESCE(m.l_pass, c.l0p)) + c.prp AS sp,
                      sum(f.cnt * COALESCE(m.l_fail, c.l0f)) + c.prf AS sf
                    FROM feats f JOIN lab l USING (doc_id)
                    LEFT JOIN model m USING (b), consts c
                    GROUP BY f.doc_id, l.label, l.is_train, c.prp, c.prf)
         SELECT label, sp > sf AS pred, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(sp - sf) AS BIGINT) AS margin_sum
         FROM scored WHERE NOT is_train GROUP BY 1, 2 ORDER BY 1, 2"""),
    // three unrolled batch-perceptron rounds over the shared feature
    // CTEs: round 1 starts from w=0 (every train doc misclassified by
    // y*0<=0), each round adds sum(y*cnt) over misclassified docs; all
    // integer arithmetic, so the replay is exact
    "q202_perceptron_quality" ->
      (s"""WITH $gopherFeatsSql,
         tr AS (SELECT f.doc_id, f.b, f.cnt,
                  CASE WHEN l.label THEN 1 ELSE -1 END AS y
                FROM feats f JOIN lab l USING (doc_id) WHERE l.is_train),
         w1 AS (SELECT b, CAST(sum(y * cnt) AS BIGINT) AS w
                FROM tr GROUP BY b),
         m2 AS (SELECT t.doc_id, any_value(t.y) AS y,
                  CAST(sum(t.cnt * COALESCE(w1.w, 0)) AS BIGINT) AS margin
                FROM tr t LEFT JOIN w1 USING (b) GROUP BY t.doc_id),
         u2 AS (SELECT t.b, CAST(sum(t.y * t.cnt) AS BIGINT) AS delta
                FROM tr t JOIN m2 ON m2.doc_id = t.doc_id
                WHERE m2.y * m2.margin <= 0 GROUP BY t.b),
         w2 AS (SELECT COALESCE(w1.b, u2.b) AS b,
                  COALESCE(w1.w, 0) + COALESCE(u2.delta, 0) AS w
                FROM w1 FULL JOIN u2 ON w1.b = u2.b),
         m3 AS (SELECT t.doc_id, any_value(t.y) AS y,
                  CAST(sum(t.cnt * COALESCE(w2.w, 0)) AS BIGINT) AS margin
                FROM tr t LEFT JOIN w2 USING (b) GROUP BY t.doc_id),
         u3 AS (SELECT t.b, CAST(sum(t.y * t.cnt) AS BIGINT) AS delta
                FROM tr t JOIN m3 ON m3.doc_id = t.doc_id
                WHERE m3.y * m3.margin <= 0 GROUP BY t.b),
         w3 AS (SELECT COALESCE(w2.b, u3.b) AS b,
                  COALESCE(w2.w, 0) + COALESCE(u3.delta, 0) AS w
                FROM w2 FULL JOIN u3 ON w2.b = u3.b),
         scored AS (SELECT f.doc_id, l.label,
                      CAST(sum(f.cnt * COALESCE(w3.w, 0)) AS BIGINT) AS margin
                    FROM feats f JOIN lab l USING (doc_id)
                    LEFT JOIN w3 USING (b)
                    WHERE NOT l.is_train GROUP BY f.doc_id, l.label)
         SELECT label, margin > 0 AS pred, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(margin) AS BIGINT) AS margin_sum
         FROM scored GROUP BY 1, 2 ORDER BY 1, 2"""),
    // container mirror buckets are the content keys (doc_id % 50 — the
    // 50 distinct chains are pinned one-to-one by q199); version order =
    // doc_id order, so first-arrival admission = min doc_id per key
    "q203_stream_video_dedup" ->
      """WITH ck AS (SELECT doc_id, doc_id % 50 AS k FROM documents),
         firsts AS (SELECT k, min(doc_id) AS first_id FROM ck GROUP BY k)
         SELECT (c.doc_id = f.first_id) AS admitted,
                CAST(count(*) AS BIGINT) AS n_assets,
                CAST(min(c.doc_id) AS BIGINT) AS min_id
         FROM ck c JOIN firsts f USING (k) GROUP BY 1""",
    // DSIR replay: same hash, integer-micronat per-bucket log-ratios,
    // exact integer doc weights, rank by (weight desc, doc_id) <= K
    // with K = floor(0.1 * raw doc count)
    "q204_dsir_selection" ->
      """WITH base AS (SELECT doc_id, text, lang = 'de' AS tgt FROM documents),
         toks AS (SELECT doc_id, tgt,
                    unnest(list_filter(string_split_regex(lower(text), '\s+'),
                      w -> w <> '')) AS tok
                  FROM base),
         fb AS (SELECT doc_id, tgt,
                  CAST(list_aggregate(list_transform(
                    range(1, length(tok) + 1),
                    k -> (CAST(unicode(substr(tok, CAST(k AS INT), 1))
                            AS BIGINT) + 1) * k),
                    'sum') % 1024 AS INT) AS b
                FROM toks),
         feats AS (SELECT doc_id, tgt, b, CAST(count(*) AS BIGINT) AS cnt
                   FROM fb GROUP BY 1, 2, 3),
         tot AS (SELECT
             CAST(sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS BIGINT) AS nt,
             CAST(sum(CASE WHEN NOT tgt THEN cnt ELSE 0 END) AS BIGINT) AS nr
           FROM feats),
         model AS (SELECT b,
             CAST(floor(ln(CAST(sum(CASE WHEN tgt THEN cnt ELSE 0 END) + 1
               AS DOUBLE) / (tot.nt + 1024)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln(CAST(sum(CASE WHEN NOT tgt THEN cnt ELSE 0 END) + 1
               AS DOUBLE) / (tot.nr + 1024)) * 1000000 + 0.5) AS BIGINT) AS lr
           FROM feats, tot GROUP BY b, tot.nt, tot.nr),
         kk AS (SELECT greatest(1, CAST(floor(0.1 * count(*)) AS BIGINT)) AS k
                FROM base WHERE NOT tgt),
         wts AS (SELECT f.doc_id, CAST(sum(f.cnt * m.lr) AS BIGINT) AS weight
                 FROM feats f JOIN model m USING (b)
                 WHERE NOT f.tgt GROUP BY f.doc_id),
         rk AS (SELECT doc_id, weight,
                  row_number() OVER (ORDER BY weight DESC, doc_id) AS rn
                FROM wts)
         SELECT doc_id, weight FROM rk, kk WHERE rn <= kk.k
         ORDER BY weight DESC, doc_id""",
    // generator-formula replay of the HTML fixture: paragraphs are
    // 8-word chunks, kept iff >= 5 words and not link-wrapped (p%5==4);
    // chrome contributes 13 fixed words + 3 fixed blocks per page, ads
    // (doc_id%3==0) 4 words + 1 block — word-exact, so any parser drift
    // (leaked chrome, miscounted linked words) breaks the hash
    "q205_html_boilerplate" ->
      """WITH toks AS (SELECT doc_id, lang,
             len(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS n
           FROM documents),
         pars AS (SELECT doc_id, n,
                    unnest(range(CAST(ceil(n / 8.0) AS BIGINT))) AS p
                  FROM toks),
         sized AS (SELECT doc_id, p, least(8, n - 8 * p) AS sz FROM pars),
         kept AS (SELECT doc_id,
                    CAST(sum(CASE WHEN sz >= 5 AND p % 5 <> 4
                             THEN sz ELSE 0 END) AS BIGINT) AS cw,
                    CAST(sum(CASE WHEN sz >= 5 AND p % 5 <> 4
                             THEN 1 ELSE 0 END) AS BIGINT) AS cb,
                    CAST(count(*) AS BIGINT) AS np
                  FROM sized GROUP BY doc_id),
         perdoc AS (SELECT t.doc_id, t.lang,
                      COALESCE(k.cw, 0) AS content_words,
                      t.n + 13 + CASE WHEN t.doc_id % 3 = 0
                                 THEN 4 ELSE 0 END AS total_words,
                      COALESCE(k.cb, 0) AS content_blocks,
                      COALESCE(k.np, 0) + 3 + CASE WHEN t.doc_id % 3 = 0
                                              THEN 1 ELSE 0 END AS blocks
                    FROM toks t LEFT JOIN kept k USING (doc_id))
         SELECT lang, CAST(count(*) AS BIGINT) AS n_pages,
                CAST(sum(content_words) AS BIGINT) AS content_words,
                CAST(sum(total_words) AS BIGINT) AS total_words,
                CAST(sum(content_blocks) AS BIGINT) AS content_blocks,
                CAST(sum(blocks) AS BIGINT) AS blocks,
                CAST(sum(CASE WHEN content_words >= 40 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_quality_pass
         FROM perdoc GROUP BY lang ORDER BY lang""",
    // the 6-word chunking + planted line-0 repeat replayed, dedup as
    // keep-first-occurrence; char accounting includes the newline joints
    "q211_line_dedup" ->
      """WITH t AS (SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
           FROM documents),
         chunks AS (SELECT doc_id, lang,
             list_transform(range(0, CAST(ceil(len(ws) / 6.0) AS BIGINT)),
               j -> array_to_string(list_slice(ws, CAST(j * 6 + 1 AS INT),
                 CAST(least(j * 6 + 6, len(ws)) AS INT)), ' ')) AS cs
           FROM t),
         lined AS (SELECT doc_id, lang,
             CASE WHEN len(cs) >= 2 THEN list_append(cs, cs[1]) ELSE cs END AS ls
           FROM chunks),
         lv AS (SELECT doc_id, lang, len(ls) AS n, i, ls[CAST(i AS INT)] AS l
                FROM (SELECT doc_id, lang, ls,
                        unnest(range(1, len(ls) + 1)) AS i
                      FROM lined)),
         firsts AS (SELECT doc_id, l, min(i) AS fi FROM lv GROUP BY 1, 2),
         flags AS (SELECT v.doc_id, v.lang, v.n, v.l,
                     CASE WHEN f.fi = v.i THEN 1 ELSE 0 END AS keep
                   FROM lv v JOIN firsts f
                     ON f.doc_id = v.doc_id AND f.l = v.l),
         perdoc AS (SELECT doc_id, lang, max(n) AS n_in, sum(keep) AS n_kept,
                      sum(length(l)) - sum(keep * length(l))
                        + max(n) - sum(keep) AS chars_removed
                    FROM flags GROUP BY 1, 2)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_in) AS BIGINT) AS lines_in,
                CAST(sum(n_kept) AS BIGINT) AS lines_kept,
                CAST(sum(chars_removed) AS BIGINT) AS chars_removed
         FROM perdoc GROUP BY lang ORDER BY lang""",
    // per-doc n-gram occurrence masses replayed with the same microunit
    // quantization (floor(x·1e6 + 0.5) over integer char masses), kept =
    // all nine paper thresholds
    "q210_gopher_repetition" ->
      """WITH t AS (SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
           FROM documents),
         base AS (SELECT doc_id, lang, ws,
                    length(array_to_string(ws, ' ')) AS chars
                  FROM t),
         pos AS (SELECT doc_id, n, ws,
                   unnest(range(1, len(ws) - n + 2)) AS i
                 FROM base CROSS JOIN (SELECT unnest(range(2, 11)) AS n) ns
                 WHERE len(ws) >= n),
         grams AS (SELECT doc_id, n,
                     array_to_string(list_slice(ws, CAST(i AS INT),
                       CAST(i + n - 1 AS INT)), ' ') AS g
                   FROM pos),
         counts AS (SELECT doc_id, n, g, count(*) AS cnt
                    FROM grams GROUP BY 1, 2, 3),
         -- most-frequent gram, ties to the longest ((cnt, len) struct max
         -- — the same rule the Spark side applies), NOT max(cnt*len)
         pern AS (SELECT doc_id, n,
                    max(struct_pack(cnt := cnt, len := length(g))) AS tg,
                    sum(CASE WHEN cnt >= 2 THEN cnt * length(g) ELSE 0 END) AS dc
                  FROM counts GROUP BY 1, 2),
         pern2 AS (SELECT doc_id, n, tg.cnt * tg.len AS tc, dc FROM pern),
         perdoc AS (SELECT b.doc_id, b.lang,
             COALESCE(max(CASE WHEN p.n = 2 THEN CAST(floor(p.tc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS top2,
             COALESCE(max(CASE WHEN p.n = 3 THEN CAST(floor(p.tc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS top3,
             COALESCE(max(CASE WHEN p.n = 4 THEN CAST(floor(p.tc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS top4,
             COALESCE(max(CASE WHEN p.n = 5 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup5,
             COALESCE(max(CASE WHEN p.n = 6 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup6,
             COALESCE(max(CASE WHEN p.n = 7 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup7,
             COALESCE(max(CASE WHEN p.n = 8 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup8,
             COALESCE(max(CASE WHEN p.n = 9 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup9,
             COALESCE(max(CASE WHEN p.n = 10 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup10
           FROM base b LEFT JOIN pern2 p USING (doc_id)
           GROUP BY b.doc_id, b.lang, b.chars)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN top2 <= 200000 AND top3 <= 180000
                          AND top4 <= 160000 AND dup5 <= 150000
                          AND dup6 <= 140000 AND dup7 <= 130000
                          AND dup8 <= 120000 AND dup9 <= 110000
                          AND dup10 <= 100000 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                CAST(sum(top2) AS BIGINT) AS top2_sum,
                CAST(sum(top3) AS BIGINT) AS top3_sum,
                CAST(sum(top4) AS BIGINT) AS top4_sum,
                CAST(sum(dup5) AS BIGINT) AS dup5_sum,
                CAST(sum(dup6) AS BIGINT) AS dup6_sum,
                CAST(sum(dup7) AS BIGINT) AS dup7_sum,
                CAST(sum(dup8) AS BIGINT) AS dup8_sum,
                CAST(sum(dup9) AS BIGINT) AS dup9_sum,
                CAST(sum(dup10) AS BIGINT) AS dup10_sum
         FROM perdoc GROUP BY lang ORDER BY lang""",
    // the BATCH q206 estimate replayed verbatim (md5 double-hash minhash
    // per source over the full corpus) — a hash match IS the
    // incremental-equals-from-scratch proof for the streamed sketch
    "q209_stream_source_sketch" ->
      """WITH sets AS (
           SELECT source, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         d AS (SELECT DISTINCT source, unnest(fset) AS sh FROM sets),
         hh AS (SELECT source,
                  ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
                  ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
                FROM d),
         hs AS (SELECT source, j, min(h1 + j * h2) AS h
                FROM hh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
                GROUP BY source, j)
         SELECT a.source AS source_a, b.source AS source_b,
                CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_agree,
                round(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) / 32.0, 6)
                  AS est_jaccard
         FROM hs a JOIN hs b ON a.j = b.j AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // batch replay of the budget-capped admission: first-occurrence
    // rank within each domain (version order = doc order) decides
    // admit/dup/reject — a hash match proves the streamed bounded-state
    // fold made exactly the same decisions
    // the whole funnel replayed stage by stage: the q215 anchor grid +
    // q217 verdict formulas for the URL half, a rank window for the
    // budget, the q207 content reconstruction for the extract/dedup
    // half; 'fetched' counts docs + mirrors with the constant
    // (html, utf-8) sniff verdict the engine must actually land on
    "q234_crawl_pipeline" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         t AS (
           SELECT h AS hh,
                  'https://host' || h || '.example.com/' AS u, 1 AS al FROM d
           UNION ALL SELECT h,
                  'https://host' || h || '.example.com/about', 1 FROM d
           UNION ALL SELECT (doc_id + 1) % 7,
                  'https://host' || ((doc_id + 1) % 7) || '.example.com/ref/'
                    || (doc_id % 23) || '?x=1',
                  CASE WHEN ((doc_id + 1) % 7) % 2 = 0 THEN 0 ELSE 1 END
                  FROM d
           UNION ALL SELECT (doc_id + 2) % 7,
                  'https://host' || ((doc_id + 2) % 7) || '.example.com/pp',
                  1 FROM d WHERE doc_id % 2 = 0
           UNION ALL SELECT h,
                  'https://host' || h || '.example.com/d/sibling'
                    || (doc_id % 5),
                  CASE WHEN h % 3 = 0 THEN 0
                       WHEN h = 1 AND doc_id % 5 = 3 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT h,
                  'https://host' || h || '.example.com/q?a=1&b=2',
                  CASE WHEN h % 5 = 0 THEN 0 ELSE 1 END FROM d),
         fr AS (SELECT hh, u, max(al) AS al FROM t GROUP BY hh, u),
         alw AS (SELECT hh, u FROM fr WHERE al = 1),
         bud AS (SELECT hh, u, row_number() OVER (
                   PARTITION BY hh ORDER BY u) AS rk FROM alw),
         w AS (SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'), x -> x <> '')
                   AS ws
               FROM documents),
         pars AS (SELECT doc_id, ws,
                    unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS p
                  FROM w),
         par AS (SELECT doc_id, p,
                   array_to_string(list_slice(ws, CAST(8 * p + 1 AS INT),
                     CAST(least(8 * p + 8, len(ws)) AS INT)), ' ') AS txt,
                   least(8, len(ws) - 8 * p) AS sz
                 FROM pars),
         cw AS (SELECT doc_id, string_agg(txt, chr(10) ORDER BY p) AS c,
                  CAST(sum(sz) AS BIGINT) AS words
                FROM par WHERE sz >= 5 AND p % 5 <> 4 GROUP BY doc_id),
         assets AS (SELECT 2 * doc_id AS asset_id, c, words FROM cw
                    UNION ALL
                    SELECT 2 * doc_id + 1, c, words FROM cw
                    WHERE doc_id % 7 = 0),
         grp AS (SELECT c, count(*) AS n FROM assets GROUP BY c)
         SELECT CAST(0 AS BIGINT) AS stage_idx, 'discovered' AS stage,
                CAST((SELECT count(*) FROM t) AS BIGINT) AS n_items,
                CAST((SELECT count(DISTINCT u) FROM t) AS BIGINT) AS n_units
         UNION ALL SELECT 1, 'frontier',
                CAST((SELECT count(*) FROM fr) AS BIGINT),
                CAST((SELECT count(DISTINCT hh) FROM fr) AS BIGINT)
         UNION ALL SELECT 2, 'allowed',
                CAST((SELECT count(*) FROM alw) AS BIGINT),
                CAST((SELECT count(DISTINCT hh) FROM alw) AS BIGINT)
         UNION ALL SELECT 3, 'budgeted',
                CAST((SELECT count(*) FROM bud WHERE rk <= 4) AS BIGINT),
                CAST((SELECT count(DISTINCT hh) FROM bud WHERE rk <= 4)
                  AS BIGINT)
         UNION ALL SELECT 4, 'fetched',
                CAST((SELECT count(*) FROM d)
                  + (SELECT count(*) FROM d WHERE doc_id % 7 = 0) AS BIGINT),
                CAST(1 AS BIGINT)
         UNION ALL SELECT 5, 'extracted',
                CAST((SELECT count(*) FROM assets) AS BIGINT),
                CAST((SELECT sum(words) FROM assets) AS BIGINT)
         UNION ALL SELECT 6, 'deduped',
                CAST((SELECT count(*) FROM grp) AS BIGINT),
                CAST((SELECT sum(n - 1) FROM grp) AS BIGINT)
         ORDER BY stage_idx""",
    // the redirect walk replayed with a hop-capped RECURSIVE CTE over
    // the formula edges: a url resolves iff its walk reaches a node
    // with no outgoing edge within 8 hops (the 3-cycle and its tail
    // never do); hops and landing urls must match the pointer-doubled
    // resolution exactly
    "q232_redirect_chains" ->
      """WITH RECURSIVE d AS (SELECT doc_id, doc_id % 60 AS u FROM documents),
         urls AS (SELECT DISTINCT u FROM d),
         e AS (SELECT u AS src,
                 CASE WHEN u // 6 = 9 THEN
                        CASE WHEN u IN (54, 55) THEN u + 1
                             WHEN u IN (56, 57) THEN 54 END
                      WHEN u % 6 < (u // 6) % 4 THEN u + 1 END AS dst
               FROM urls),
         edges AS (SELECT src, dst FROM e WHERE dst IS NOT NULL),
         walk(u, cur, hops) AS (
           SELECT u, u, 0 FROM urls
           UNION ALL
           SELECT w.u, x.dst, w.hops + 1
           FROM walk w JOIN edges x ON x.src = w.cur
           WHERE w.hops < 8),
         term AS (SELECT w.u, w.cur AS fin, w.hops FROM walk w
                  WHERE NOT EXISTS (
                    SELECT 1 FROM edges x WHERE x.src = w.cur)),
         res AS (SELECT urls.u, t.fin, t.hops
                 FROM urls LEFT JOIN term t ON urls.u = t.u)
         SELECT 'host' || (d.u % 7) || '.example.com' AS host,
                CAST(count(*) AS BIGINT) AS n_fetches,
                CAST(count(r.fin) AS BIGINT) AS n_resolved,
                CAST(sum(CASE WHEN r.fin IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_unresolved,
                CAST(sum(coalesce(r.hops, 0)) AS BIGINT) AS hop_mass,
                CAST(count(DISTINCT r.fin) AS BIGINT) AS n_final_urls
         FROM d JOIN res r ON d.u = r.u
         GROUP BY d.u % 7 ORDER BY host""",
    // every identity replayed from the asset-id formula: originals keep
    // their own url, even-id mirrors fold onto the original's canonical
    // url (the engine must strip the planted case/port/tracking noise),
    // odd-id mirrors keep their mirror.net identity
    "q233_canonical_fold" ->
      """WITH d AS (SELECT doc_id FROM documents),
         a AS (
           SELECT 'host' || (doc_id % 7) || '.example.com' AS host,
                  'https://host' || (doc_id % 7) || '.example.com/a/'
                    || doc_id AS identity,
                  0 AS vc
           FROM d
           UNION ALL
           SELECT 'host' || (doc_id % 7) || '.example.com',
                  'https://host' || (doc_id % 7) || '.example.com/a/'
                    || doc_id,
                  1
           FROM d WHERE doc_id % 14 = 0
           UNION ALL
           SELECT 'm' || (doc_id % 5) || '.mirror.net',
                  'https://m' || (doc_id % 5) || '.mirror.net/x/' || doc_id,
                  0
           FROM d WHERE doc_id % 14 = 7)
         SELECT host, CAST(count(*) AS BIGINT) AS n_assets,
                CAST(sum(vc) AS BIGINT) AS n_via_canonical,
                CAST(count(DISTINCT identity) AS BIGINT) AS n_identities,
                CAST(count(*) - count(DISTINCT identity) AS BIGINT)
                  AS n_folded
         FROM a GROUP BY host ORDER BY host""",
    // every verdict replayed by SESSIONIZING each domain's arrivals
    // (lag gap > TTL starts a session), then ranking urls by first
    // arrival within the session: rank <= K at first occurrence =
    // admitted, repeats = duplicate, rank > K = over_budget — the
    // hash match proves the streaming session-budget fold equals the
    // from-scratch sessionized replay, re-admissions included
    "q231_stream_admission_ttl" ->
      """WITH d AS (SELECT doc_id FROM documents),
         a AS (SELECT doc_id,
                 'd' || ((doc_id // 40) % 5) || '.example.com' AS domain,
                 '/p/' || (doc_id % 17) AS url
               FROM d),
         lg AS (SELECT *, lag(doc_id) OVER (
                  PARTITION BY domain ORDER BY doc_id) AS pt FROM a),
         ses AS (SELECT *, sum(CASE WHEN pt IS NULL OR doc_id - pt > 100
                    THEN 1 ELSE 0 END)
                  OVER (PARTITION BY domain ORDER BY doc_id) AS sid FROM lg),
         fo AS (SELECT *, row_number() OVER (
                  PARTITION BY domain, sid, url ORDER BY doc_id) AS rn
                FROM ses),
         rk AS (SELECT domain, sid, url, row_number() OVER (
                  PARTITION BY domain, sid ORDER BY min(doc_id)) AS ur
                FROM ses GROUP BY domain, sid, url),
         v AS (SELECT fo.domain,
                 CASE WHEN rk.ur > 5 THEN 'over_budget'
                      WHEN fo.rn = 1 THEN 'admitted'
                      ELSE 'duplicate' END AS verdict
               FROM fo JOIN rk ON fo.domain = rk.domain
                 AND fo.sid = rk.sid AND fo.url = rk.url)
         SELECT domain,
                CAST(sum(CASE WHEN verdict = 'admitted' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_admitted,
                CAST(sum(CASE WHEN verdict = 'duplicate' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup,
                CAST(sum(CASE WHEN verdict = 'over_budget' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rejected
         FROM v GROUP BY domain ORDER BY domain""",
    "q229_stream_domain_admission" ->
      """WITH d AS (SELECT doc_id FROM documents),
         h AS (SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'blog' || (doc_id % 9) || '.co.uk'
             WHEN 1 THEN 'site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'x' || (doc_id % 3) || '.y' || (doc_id % 4) || '.ck'
             WHEN 4 THEN 'www.ck'
             ELSE 'corp' || (doc_id % 2) || '.lan' END AS domain,
           (CASE doc_id % 6
             WHEN 0 THEN 'a' || (doc_id % 5) || '.blog' || (doc_id % 9)
               || '.co.uk'
             WHEN 1 THEN 'site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'cdn.u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'a.x' || (doc_id % 3) || '.y' || (doc_id % 4)
               || '.ck'
             WHEN 4 THEN 'b' || (doc_id % 2) || '.www.ck'
             ELSE 'internal.corp' || (doc_id % 2) || '.lan' END)
             || '/' || (doc_id % 31) AS uk
           FROM d),
         u AS (SELECT domain, uk, min(doc_id) AS fd, count(*) AS cnt
               FROM h GROUP BY 1, 2),
         r AS (SELECT domain, cnt, row_number() OVER (
                 PARTITION BY domain ORDER BY fd) AS rk FROM u)
         SELECT domain,
                CAST(sum(CASE WHEN rk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_admitted,
                CAST(sum(CASE WHEN rk <= 5 THEN cnt - 1 ELSE 0 END)
                  AS BIGINT) AS n_dup,
                CAST(sum(CASE WHEN rk > 5 THEN cnt ELSE 0 END) AS BIGINT)
                  AS n_rejected
         FROM r GROUP BY domain ORDER BY domain""",
    // every registrable domain replayed from the host formula — the
    // engine must canonicalize (www-strip, lowercase) and run the real
    // PSL matcher; symbolic host/url keys replay the distinct counts
    "q228_domain_budget" ->
      """WITH d AS (SELECT doc_id FROM documents),
         h AS (SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'blog' || (doc_id % 9) || '.co.uk'
             WHEN 1 THEN 'site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'x' || (doc_id % 3) || '.y' || (doc_id % 4) || '.ck'
             WHEN 4 THEN 'www.ck'
             ELSE 'corp' || (doc_id % 2) || '.lan' END AS domain,
           CASE doc_id % 6
             WHEN 0 THEN 'a' || (doc_id % 5) || '.blog' || (doc_id % 9)
               || '.co.uk'
             WHEN 1 THEN 'site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'cdn.u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'a.x' || (doc_id % 3) || '.y' || (doc_id % 4)
               || '.ck'
             WHEN 4 THEN 'b' || (doc_id % 2) || '.www.ck'
             ELSE 'internal.corp' || (doc_id % 2) || '.lan' END AS hk
           FROM d)
         SELECT domain, CAST(count(*) AS BIGINT) AS n_requests,
                CAST(count(DISTINCT hk || '/' || (doc_id % 31)) AS BIGINT)
                  AS n_urls,
                CAST(count(DISTINCT hk) AS BIGINT) AS n_hosts
         FROM h GROUP BY 1 ORDER BY 1""",
    // the joint (declared, sniffed) distribution replayed from the two
    // id formulas — the engine must slice real bodies out of the WARC
    // frames, read the real Content-Type header, and sniff the bytes
    "q227_content_type_audit" ->
      """WITH d AS (SELECT doc_id FROM documents),
         v AS (SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN 'application/octet-stream'
                ELSE 'text/html' END AS declared,
           CASE doc_id % 6
             WHEN 0 THEN 'html' WHEN 1 THEN 'html' WHEN 2 THEN 'html'
             WHEN 3 THEN 'text' WHEN 4 THEN 'gzip' ELSE 'text' END AS kind
           FROM d)
         SELECT declared, kind AS sniffed,
                CAST(count(*) AS BIGINT) AS n_records,
                CASE WHEN declared = 'text/html' THEN kind <> 'html'
                     ELSE kind = 'html' END AS mismatch
         FROM v GROUP BY 1, 2 ORDER BY 1, 2""",
    // verdicts and decoded char counts replayed from the variant
    // formula — the engine must actually sniff magic/BOM/meta/UTF-8
    // validity and decode with the winning charset
    "q226_fetch_triage" ->
      """WITH d AS (SELECT doc_id FROM documents),
         v AS (SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'html' WHEN 1 THEN 'html' WHEN 2 THEN 'html'
             WHEN 3 THEN 'text' WHEN 4 THEN 'gzip' ELSE 'text' END AS kind,
           CASE doc_id % 6
             WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le'
             WHEN 2 THEN 'iso-8859-1' WHEN 3 THEN 'utf-8'
             WHEN 4 THEN '' ELSE 'windows-1252' END AS charset,
           CASE doc_id % 6
             WHEN 0 THEN length('<html><head></head><body>plain é '
               || (doc_id % 13) || '</body></html>')
             WHEN 1 THEN length('<html><body>doc ' || (doc_id % 11)
               || '</body></html>')
             WHEN 2 THEN length('<html><head><meta charset="iso-8859-1">'
               || '</head><body>café ' || (doc_id % 9) || '</body></html>')
             WHEN 3 THEN length('plain text doc ' || (doc_id % 7))
             WHEN 4 THEN 0
             ELSE length('café special ' || (doc_id % 5)) END AS n
           FROM d)
         SELECT kind, charset, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n) AS BIGINT) AS chars
         FROM v GROUP BY 1, 2 ORDER BY 1, 2""",
    // q225's oracle VERBATIM — the gzip twin must land on byte-identical
    // census rows after inflating the per-record members
    "q230_warc_gz_census" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         resp AS (SELECT doc_id, h,
                    CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END AS status,
                    50 + doc_id % 101
                      + CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 0 END AS body,
                    doc_id % 97 AS u,
                    strftime(TIMESTAMP '2024-01-01 00:00:00'
                      + to_seconds(doc_id % 86400),
                      '%Y-%m-%dT%H:%M:%SZ') AS dt
                  FROM d)
         SELECT 'host' || h || '.example.com' AS host,
                CAST(count(*) AS BIGINT) AS n_responses,
                CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_requests,
                CAST(sum(CASE WHEN status = 404 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_404,
                CAST(sum(body) AS BIGINT) AS body_bytes,
                CAST(count(DISTINCT u) AS BIGINT) AS n_uris,
                max(dt) AS latest_date
         FROM resp GROUP BY h ORDER BY host""",
    // every WARC record replayed from the doc-id formula: body octets
    // include the planted 2-byte é, request counts vanish if framing
    // counts chars, and the capture instant replays via strftime
    "q225_warc_census" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         resp AS (SELECT doc_id, h,
                    CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END AS status,
                    50 + doc_id % 101
                      + CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 0 END AS body,
                    doc_id % 97 AS u,
                    strftime(TIMESTAMP '2024-01-01 00:00:00'
                      + to_seconds(doc_id % 86400),
                      '%Y-%m-%dT%H:%M:%SZ') AS dt
                  FROM d)
         SELECT 'host' || h || '.example.com' AS host,
                CAST(count(*) AS BIGINT) AS n_responses,
                CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_requests,
                CAST(sum(CASE WHEN status = 404 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_404,
                CAST(sum(body) AS BIGINT) AS body_bytes,
                CAST(count(DISTINCT u) AS BIGINT) AS n_uris,
                max(dt) AS latest_date
         FROM resp GROUP BY h ORDER BY host""",
    // the BATCH replay of the streamed fold — per-URL (n, X) from the
    // whole corpus at once, then the same estimator and rollup; a hash
    // match proves the incremental state fold == from-scratch
    "q223_stream_recrawl" ->
      """WITH d AS (SELECT doc_id, doc_id % 50 AS u FROM documents),
         hx AS (SELECT u, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN (doc_id * 13) % 7 < (u % 3) + 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS x
                FROM d GROUP BY u),
         lam AS (SELECT u, 'host' || (u % 7) || '.example.com' AS host,
                   CAST(floor(-1e6 * ln((n - x + 0.5) / (n + 0.5)))
                     AS BIGINT) AS lm
                 FROM hx),
         rv AS (SELECT host, lm,
                  CASE WHEN lm <= 0 THEN 30
                       ELSE greatest(1, least(30, 1000000 // lm)) END AS revisit
                FROM lam)
         SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
                CAST(sum(lm) AS BIGINT) AS lambda_mass,
                CAST(sum(CASE WHEN revisit <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hot,
                CAST(sum(CASE WHEN revisit BETWEEN 3 AND 7 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_warm,
                CAST(sum(CASE WHEN revisit > 7 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_cold,
                CAST(sum(revisit) AS BIGINT) AS revisit_budget
         FROM rv GROUP BY host ORDER BY host""",
    // suffix/registrable pairs replayed from the host formula — the
    // engine must run the real PSL matcher (longest rule, wildcard,
    // exception-wins, implicit-* fallback) over the messy-cased hosts
    "q224_registrable_domain" ->
      """WITH d AS (SELECT doc_id FROM documents),
         h AS (SELECT
           CASE doc_id % 6
             WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com' WHEN 2 THEN 'github.io'
             WHEN 3 THEN 'y' || (doc_id % 4) || '.ck' WHEN 4 THEN 'ck'
             ELSE 'lan' END AS suffix,
           CASE doc_id % 6
             WHEN 0 THEN 'a' || (doc_id % 5) || '.blog' || (doc_id % 9)
               || '.co.uk'
             WHEN 1 THEN 'www.site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'cdn.u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'a.x' || (doc_id % 3) || '.y' || (doc_id % 4)
               || '.ck'
             WHEN 4 THEN 'b' || (doc_id % 2) || '.www.ck'
             ELSE 'internal.corp' || (doc_id % 2) || '.lan' END AS host,
           CASE doc_id % 6
             WHEN 0 THEN 'blog' || (doc_id % 9) || '.co.uk'
             WHEN 1 THEN 'site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'x' || (doc_id % 3) || '.y' || (doc_id % 4) || '.ck'
             WHEN 4 THEN 'www.ck'
             ELSE 'corp' || (doc_id % 2) || '.lan' END AS reg
           FROM d)
         SELECT suffix AS public_suffix, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
                CAST(count(DISTINCT reg) AS BIGINT) AS n_domains
         FROM h GROUP BY 1 ORDER BY 1""",
    // every (destination, anchor text) pair replayed from the id
    // formula — the engine must capture the text between the real <a>
    // and </a> tags (entity-decoded, collapsed) and resolve the target
    "q222_anchor_text" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         an AS (
           SELECT 'host' || h || '.example.com' AS dst, 'Home' AS t, 1 AS w
           FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com', 'About', 1 FROM d
           UNION ALL
           SELECT 'host' || ((doc_id + 1) % 7) || '.example.com',
                  'read more ' || (doc_id % 23), 3 FROM d
           UNION ALL
           SELECT 'host' || ((doc_id + 2) % 7) || '.example.com',
                  'partner', 1 FROM d WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 'host' || h || '.example.com', 'prev', 1 FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com', 'search', 1 FROM d)
         SELECT dst AS dst_host, CAST(count(*) AS BIGINT) AS n_anchors,
                CAST(count(DISTINCT t) AS BIGINT) AS n_texts,
                CAST(sum(w) AS BIGINT) AS word_mass
         FROM an GROUP BY dst ORDER BY dst_host""",
    // every sitemap entry replayed from the doc-id formula; the
    // discovery delta recomputed with a SQL anti-join against the q215
    // frontier canonicals — the engine must parse the XML (incl. the
    // image:loc trap and the missing-priority default), canonicalize,
    // and land on the same per-host census
    "q219_sitemap_discovery" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         fr AS (SELECT DISTINCT canon FROM (
           SELECT 'https://host' || h || '.example.com/' AS canon FROM d
           UNION ALL
           SELECT 'https://host' || h || '.example.com/about' FROM d
           UNION ALL
           SELECT 'https://host' || ((doc_id + 1) % 7) || '.example.com/ref/'
             || (doc_id % 23) || '?x=1' FROM d
           UNION ALL
           SELECT 'https://host' || ((doc_id + 2) % 7) || '.example.com/pp'
           FROM d WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 'https://host' || h || '.example.com/d/sibling'
             || (doc_id % 5) FROM d
           UNION ALL
           SELECT 'https://host' || h || '.example.com/q?a=1&b=2' FROM d)),
         ue AS (
           SELECT doc_id, h,
             'https://host' || h || '.example.com/ref/' || (doc_id % 23)
               || '?x=1' AS canon,
             DATE '2024-01-01' + CAST(doc_id % 365 AS INT) AS lastmod,
             CASE doc_id % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
               ELSE 'monthly' END AS cf,
             CAST(1 + doc_id % 9 AS BIGINT) AS prio
           FROM d WHERE doc_id % 5 <> 0
           UNION ALL
           SELECT doc_id, h,
             'https://host' || h || '.example.com/s/' || (doc_id % 13),
             DATE '2024-01-01' + CAST(doc_id % 30 AS INT), NULL, 5
           FROM d WHERE doc_id % 5 <> 0
           UNION ALL
           SELECT doc_id, h,
             'https://host' || h || '.example.com/about', NULL, NULL, 5
           FROM d WHERE doc_id % 5 <> 0),
         ch AS (SELECT h, 2 AS n FROM d WHERE doc_id % 5 = 0),
         newu AS (SELECT h, count(*) AS n_new FROM ue
                  WHERE canon NOT IN (SELECT canon FROM fr) GROUP BY h),
         agg AS (SELECT h, count(*) AS n_entries, max(lastmod) AS latest_lastmod,
                   sum(CASE WHEN cf = 'daily' THEN 1 ELSE 0 END) AS n_daily,
                   sum(prio) AS prio_tenths
                 FROM ue GROUP BY h),
         chn AS (SELECT h, sum(n) AS n_children FROM ch GROUP BY h)
         SELECT 'host' || h || '.example.com' AS host,
                CAST(coalesce(n_entries, 0) AS BIGINT) AS n_entries,
                CAST(coalesce(chn.n_children, 0) AS BIGINT) AS n_children,
                latest_lastmod,
                CAST(coalesce(n_daily, 0) AS BIGINT) AS n_daily,
                CAST(prio_tenths AS BIGINT) AS prio_tenths,
                CAST(coalesce(newu.n_new, 0) AS BIGINT) AS n_new
         FROM agg FULL JOIN chn USING (h) LEFT JOIN newu USING (h)
         ORDER BY host""",
    // the per-URL (n, X) pairs and the bias-corrected Poisson estimate
    // replayed from the check formula — microunit floors are
    // engine-independent across the whole (n, X) input space
    "q220_recrawl_schedule" ->
      """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents),
         chk AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS k FROM d),
         hx AS (SELECT doc_id, n,
                  sum(CASE WHEN (doc_id * 31 + k * 17) % 7 < doc_id % 3 + 1
                      THEN 1 ELSE 0 END) AS x
                FROM chk GROUP BY doc_id, n),
         lam AS (SELECT doc_id,
                   'host' || (doc_id % 7) || '.example.com' AS host,
                   CAST(floor(-1e6 * ln((n - x + 0.5) / (n + 0.5)))
                     AS BIGINT) AS lm
                 FROM hx),
         rv AS (SELECT host, lm,
                  CASE WHEN lm <= 0 THEN 30
                       ELSE greatest(1, least(30, 1000000 // lm)) END AS revisit
                FROM lam)
         SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
                CAST(sum(lm) AS BIGINT) AS lambda_mass,
                CAST(sum(CASE WHEN revisit <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hot,
                CAST(sum(CASE WHEN revisit BETWEEN 3 AND 7 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_warm,
                CAST(sum(CASE WHEN revisit > 7 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_cold,
                CAST(sum(revisit) AS BIGINT) AS revisit_budget
         FROM rv GROUP BY host ORDER BY host""",
    // distinct canonical URLs and contents replayed via symbolic keys
    // (the canonicalizer's collapse is pinned by q212; the trap's
    // uniqueness rides the doc id in the path) — host3's ratio must
    // explode and flag, every other host must sit at exactly 1e6
    "q221_trap_detection" ->
      """WITH d AS (SELECT doc_id, doc_id % 250 AS m FROM documents),
         lg AS (
           SELECT 'host' || (m % 7) || '.example.com' AS host,
                  'n' || m AS ckey, 'c' || m AS content FROM d
           UNION ALL
           SELECT 'host3.example.com', 't' || doc_id,
                  'trap' || (doc_id % 3) FROM d WHERE doc_id % 4 = 1)
         SELECT host, CAST(count(*) AS BIGINT) AS n_requests,
                CAST(count(DISTINCT ckey) AS BIGINT) AS n_urls,
                CAST(count(DISTINCT content) AS BIGINT) AS n_contents,
                CAST(floor(1000000.0 * count(DISTINCT ckey)
                  / count(DISTINCT content)) AS BIGINT) AS ratio_micro,
                floor(1000000.0 * count(DISTINCT ckey)
                  / count(DISTINCT content)) >= 2000000 AS trap
         FROM lg GROUP BY host ORDER BY host""",
    // the per-host allowed counts replay q217's verdict formulas; the
    // sorted-round-robin assignment replays the exact (span DESC, host)
    // rank — a hash match proves the distributed rank ordered the same
    "q218_fetch_schedule" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         t AS (
           SELECT doc_id, h AS hh, 1 AS al FROM d
           UNION ALL SELECT doc_id, h, 1 FROM d
           UNION ALL SELECT doc_id, (doc_id + 1) % 7,
             CASE WHEN ((doc_id + 1) % 7) % 2 = 0 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, (doc_id + 2) % 7, 1 FROM d
             WHERE doc_id % 2 = 0
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 3 = 0 THEN 0
                  WHEN h = 1 AND doc_id % 5 = 3 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 5 = 0 THEN 0 ELSE 1 END FROM d),
         ph AS (SELECT hh, CAST(sum(al) AS BIGINT) AS nf, 1 + hh % 3 AS delay
                FROM t GROUP BY hh),
         sp AS (SELECT hh, nf, delay, (nf - 1) * delay AS span FROM ph),
         rk AS (SELECT *, row_number() OVER (
                  ORDER BY span DESC, 'host' || hh || '.example.com') AS r
                FROM sp)
         SELECT CAST((r - 1) % 4 AS BIGINT) AS worker,
                CAST(count(*) AS BIGINT) AS n_hosts,
                CAST(sum(nf) AS BIGINT) AS n_fetches,
                CAST(sum(span) AS BIGINT) AS backlog_s,
                CAST(max(span) AS BIGINT) AS max_span_s
         FROM rk GROUP BY 1 ORDER BY worker""",
    // the q217 verdict grid with per-host availability overrides: the
    // 404 host force-allows, the 503 host force-blocks, the stale-cache
    // host keeps its parsed verdicts under the expired_cached class
    "q235_robots_availability" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         t AS (
           SELECT doc_id, h AS hh, 1 AS al FROM d
           UNION ALL SELECT doc_id, h, 1 FROM d
           UNION ALL SELECT doc_id, (doc_id + 1) % 7,
             CASE WHEN ((doc_id + 1) % 7) % 2 = 0 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, (doc_id + 2) % 7, 1 FROM d
             WHERE doc_id % 2 = 0
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 3 = 0 THEN 0
                  WHEN h = 1 AND doc_id % 5 = 3 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 5 = 0 THEN 0 ELSE 1 END FROM d),
         e AS (SELECT hh,
                 CASE WHEN hh = 4 THEN 'allow_all'
                      WHEN hh = 5 THEN 'disallow_all'
                      WHEN hh = 6 THEN 'expired_cached'
                      ELSE 'policy' END AS verdict_class,
                 CASE WHEN hh = 4 THEN 1 WHEN hh = 5 THEN 0 ELSE al END
                   AS eff
               FROM t)
         SELECT 'host' || hh || '.example.com' AS host, verdict_class,
                CAST(sum(eff) AS BIGINT) AS n_allowed,
                CAST(sum(1 - eff) AS BIGINT) AS n_blocked
         FROM e GROUP BY hh, verdict_class ORDER BY host""",
    // every verdict replayed from the (host, doc_id) formula: the engine
    // must parse the decoy+real robots groups, select by UA prefix, and
    // apply longest-match (incl. the Allow-beats-/q case and the host-1
    // wildcard) to land on the same counts
    "q217_robots_policy" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         t AS (
           SELECT doc_id, h AS hh, 1 AS al FROM d
           UNION ALL SELECT doc_id, h, 1 FROM d
           UNION ALL SELECT doc_id, (doc_id + 1) % 7,
             CASE WHEN ((doc_id + 1) % 7) % 2 = 0 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, (doc_id + 2) % 7, 1 FROM d
             WHERE doc_id % 2 = 0
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 3 = 0 THEN 0
                  WHEN h = 1 AND doc_id % 5 = 3 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 5 = 0 THEN 0 ELSE 1 END FROM d)
         SELECT 'host' || hh || '.example.com' AS host,
                CAST(sum(al) AS BIGINT) AS n_allowed,
                CAST(sum(1 - al) AS BIGINT) AS n_blocked,
                CAST(max(1 + hh % 3) AS BIGINT) AS delay_s,
                CAST(sum(al) * max(1 + hh % 3) AS BIGINT) AS backlog_s
         FROM t GROUP BY hh ORDER BY host""",
    // every planted anchor's RESOLVED canonical target replayed from the
    // id formula — the engine must land on the same strings by actually
    // extracting hrefs and running resolution + canonicalization
    "q215_link_graph" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         links AS (
           SELECT doc_id, 'host' || h || '.example.com' AS src,
                  'host' || h || '.example.com' AS dsth,
                  'https://host' || h || '.example.com/' AS canon FROM d
           UNION ALL
           SELECT doc_id, 'host' || h || '.example.com',
                  'host' || h || '.example.com',
                  'https://host' || h || '.example.com/about' FROM d
           UNION ALL
           SELECT doc_id, 'host' || h || '.example.com',
                  'host' || ((doc_id + 1) % 7) || '.example.com',
                  'https://host' || ((doc_id + 1) % 7) || '.example.com/ref/'
                    || (doc_id % 23) || '?x=1' FROM d
           UNION ALL
           SELECT doc_id, 'host' || h || '.example.com',
                  'host' || ((doc_id + 2) % 7) || '.example.com',
                  'https://host' || ((doc_id + 2) % 7) || '.example.com/pp'
           FROM d WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id, 'host' || h || '.example.com',
                  'host' || h || '.example.com',
                  'https://host' || h || '.example.com/d/sibling'
                    || (doc_id % 5) FROM d
           UNION ALL
           SELECT doc_id, 'host' || h || '.example.com',
                  'host' || h || '.example.com',
                  'https://host' || h || '.example.com/q?a=1&b=2' FROM d)
         SELECT src AS src_host, dsth AS dst_host,
                CAST(count(*) AS BIGINT) AS n_links,
                CAST(count(DISTINCT canon) AS BIGINT) AS n_targets,
                CAST(min(doc_id) AS BIGINT) AS min_doc
         FROM links GROUP BY 1, 2 ORDER BY src_host, dst_host""",
    // q215's edge counts fed through the q76 pagerank unroll (3 damped
    // iterations over link-count-weighted host transitions)
    "q216_host_rank" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         links AS (
           SELECT 'host' || h || '.example.com' AS src,
                  'host' || h || '.example.com' AS dsth FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com',
                  'host' || h || '.example.com' FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com',
                  'host' || ((doc_id + 1) % 7) || '.example.com' FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com',
                  'host' || ((doc_id + 2) % 7) || '.example.com'
           FROM d WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 'host' || h || '.example.com',
                  'host' || h || '.example.com' FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com',
                  'host' || h || '.example.com' FROM d),
         ec AS (SELECT src, dsth AS dst, count(*)::DOUBLE AS cnt
                FROM links GROUP BY 1, 2),
         e AS (SELECT src, dst,
                 cnt / sum(cnt) OVER (PARTITION BY src) AS p FROM ec),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
         r1 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM e JOIN r0 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node)),
         r2 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM e JOIN r1 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node)),
         r3 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM e JOIN r2 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node))
         SELECT node AS host, round(rank, 6) AS rank FROM r3 ORDER BY host""",
    // generator-formula oracle (the q199/q205 pattern): BOTH the messy
    // raw string and its expected canonical form are replayed from the
    // id formula — the engine must land on the same canonical string by
    // actually running its RFC 3986 canonicalizer on the raw input
    "q212_url_canonicalize" ->
      """WITH u AS (SELECT doc_id, doc_id % 250 AS m FROM documents),
         cf AS (SELECT doc_id, m,
             'http' || CASE WHEN m % 2 = 1 THEN 's' ELSE '' END ||
             '://host' || (m % 7) || '.example.com' ||
             CASE WHEN m % 11 = 0 THEN ':8080' ELSE '' END ||
             '/a/p~q' || (m % 5) || '/Item' || (m % 23) ||
             CASE WHEN m % 4 = 0 THEN '/x' ELSE '' END ||
             '?a=' || (m % 13) || '&b=2' AS canon
           FROM u),
         c AS (SELECT doc_id, m, canon,
             CASE WHEN doc_id % 10 = 9 THEN canon ELSE
               CASE WHEN m % 2 = 0
                    THEN CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END
                    ELSE CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'hTtps' END
               END ||
               '://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
               'Host' || (m % 7) || '.Example.COM' ||
               CASE WHEN m % 11 = 0 THEN ':8080'
                    WHEN doc_id % 5 = 0 AND m % 2 = 0 THEN ':80'
                    WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
               '/a/./p%7Eq' || (m % 5) || '/b/../Item' || (m % 23) ||
               CASE WHEN m % 4 = 0 THEN '//x' ELSE '' END ||
               '?b=2&utm_source=feed&a=' || (m % 13) ||
               CASE WHEN doc_id % 6 = 0 THEN '&fbclid=XYZ' ELSE '' END ||
               '#frag' || (doc_id % 3)
             END AS raw
           FROM cf)
         SELECT 'host' || (m % 7) || '.example.com' AS host,
                CAST(count(*) AS BIGINT) AS n_urls,
                CAST(sum(CASE WHEN raw <> canon THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_changed,
                CAST(sum(length(raw) - length(canon)) AS BIGINT)
                  AS chars_removed,
                CAST(count(DISTINCT canon) AS BIGINT) AS n_distinct
         FROM c GROUP BY 1 ORDER BY host""",
    "q213_url_frontier_budget" ->
      """WITH u AS (SELECT doc_id, doc_id % 250 AS m FROM documents),
         c AS (SELECT doc_id,
             'host' || (m % 7) || '.example.com' AS host,
             'http' || CASE WHEN m % 2 = 1 THEN 's' ELSE '' END ||
             '://host' || (m % 7) || '.example.com' ||
             CASE WHEN m % 11 = 0 THEN ':8080' ELSE '' END ||
             '/a/p~q' || (m % 5) || '/Item' || (m % 23) ||
             CASE WHEN m % 4 = 0 THEN '/x' ELSE '' END ||
             '?a=' || (m % 13) || '&b=2' AS canon
           FROM u),
         g AS (SELECT host, canon, min(doc_id) AS rep, count(*) AS n
               FROM c GROUP BY 1, 2)
         SELECT host, CAST(sum(n) AS BIGINT) AS n_fetch_requests,
                CAST(count(*) AS BIGINT) AS n_frontier_urls,
                CAST(sum(n - 1) AS BIGINT) AS n_dups_avoided,
                CAST(sum(rep) AS BIGINT) AS rep_sum
         FROM g GROUP BY host ORDER BY host""",
    // version order = doc_id order in the fixture, so first-arrival
    // admission per canonical-URL bucket replays as min-id per group
    "q214_stream_url_frontier" ->
      """WITH u AS (SELECT doc_id, doc_id % 250 AS m FROM documents),
         c AS (SELECT doc_id,
             'http' || CASE WHEN m % 2 = 1 THEN 's' ELSE '' END ||
             '://host' || (m % 7) || '.example.com' ||
             CASE WHEN m % 11 = 0 THEN ':8080' ELSE '' END ||
             '/a/p~q' || (m % 5) || '/Item' || (m % 23) ||
             CASE WHEN m % 4 = 0 THEN '/x' ELSE '' END ||
             '?a=' || (m % 13) || '&b=2' AS canon
           FROM u),
         firsts AS (SELECT canon, min(doc_id) AS first_id FROM c GROUP BY canon)
         SELECT (t.doc_id = f.first_id) AS admitted,
                CAST(count(*) AS BIGINT) AS n_requests,
                CAST(min(t.doc_id) AS BIGINT) AS min_id,
                CAST(sum(t.doc_id) AS BIGINT) AS id_sum
         FROM c t JOIN firsts f USING (canon) GROUP BY 1""",
    // first-arrival admission replayed as min-doc_id per reconstructed-
    // content group (version order = doc_id order in the fixture); the
    // content CTE is the q207 generator-formula reconstruction
    "q208_stream_content_dedup" ->
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
           FROM documents),
         pars AS (SELECT doc_id, ws,
                    unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS p
                  FROM w),
         par AS (SELECT doc_id, p,
                   array_to_string(list_slice(ws, CAST(8 * p + 1 AS INT),
                     CAST(least(8 * p + 8, len(ws)) AS INT)), ' ') AS txt,
                   least(8, len(ws) - 8 * p) AS sz
                 FROM pars),
         content AS (SELECT w.doc_id, COALESCE(c.c, '') AS c
                     FROM w LEFT JOIN (
                       SELECT doc_id, string_agg(txt, chr(10) ORDER BY p) AS c
                       FROM par WHERE sz >= 5 AND p % 5 <> 4
                       GROUP BY doc_id) c USING (doc_id)),
         firsts AS (SELECT c, min(doc_id) AS first_id FROM content GROUP BY c)
         SELECT (t.doc_id = f.first_id) AS admitted,
                CAST(count(*) AS BIGINT) AS n_pages,
                CAST(min(t.doc_id) AS BIGINT) AS min_id,
                CAST(sum(t.doc_id) AS BIGINT) AS id_sum
         FROM content t JOIN firsts f USING (c) GROUP BY 1""",
    // the kept-word content is reconstructed from the generator formula
    // (8-word chunks, keep iff >= 5 words and not the link-wrapped
    // p%5==4), originals and mirrors group by that content, and the
    // report counts groups per language with the original's id as rep
    "q207_crawl_mirror_dedup" ->
      """WITH w AS (SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
           FROM documents),
         pars AS (SELECT doc_id, ws,
                    unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS p
                  FROM w),
         par AS (SELECT doc_id, p,
                   array_to_string(list_slice(ws, CAST(8 * p + 1 AS INT),
                     CAST(least(8 * p + 8, len(ws)) AS INT)), ' ') AS txt,
                   least(8, len(ws) - 8 * p) AS sz
                 FROM pars),
         content AS (SELECT w.doc_id, w.lang, COALESCE(c.c, '') AS c
                     FROM w LEFT JOIN (
                       SELECT doc_id, string_agg(txt, chr(10) ORDER BY p) AS c
                       FROM par WHERE sz >= 5 AND p % 5 <> 4
                       GROUP BY doc_id) c USING (doc_id)),
         assets AS (SELECT 2 * doc_id AS asset_id, lang, c FROM content
                    UNION ALL
                    SELECT 2 * doc_id + 1, lang, c FROM content
                    WHERE doc_id % 7 = 0),
         grp AS (SELECT lang, c, min(asset_id) AS rep_id,
                   CAST(count(*) AS BIGINT) AS n_copies
                 FROM assets GROUP BY lang, c)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_distinct,
                CAST(sum(n_copies) AS BIGINT) AS n_pages,
                CAST(sum(n_copies - 1) AS BIGINT) AS n_dups,
                CAST(sum(rep_id) AS BIGINT) AS rep_sum
         FROM grp GROUP BY lang ORDER BY lang""",
    // both halves replayed: md5 double-hash minhash per SOURCE (min over
    // the union of member docs' shingles) for the estimate, per-shingle
    // source sets for the exact Jaccard
    "q206_source_overlap" ->
      """WITH sets AS (
           SELECT source, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         d AS (SELECT DISTINCT source, unnest(fset) AS sh FROM sets),
         hh AS (SELECT source,
                  ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
                  ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
                FROM d),
         hs AS (SELECT source, j, min(h1 + j * h2) AS h
                FROM hh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
                GROUP BY source, j),
         agree AS (SELECT a.source AS sa, b.source AS sb,
                     CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_agree
                   FROM hs a JOIN hs b ON a.j = b.j AND a.source < b.source
                   GROUP BY 1, 2),
         sz AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
         inter AS (SELECT a.source AS sa, b.source AS sb,
                     CAST(count(*) AS BIGINT) AS ns
                   FROM d a JOIN d b ON a.sh = b.sh AND a.source < b.source
                   GROUP BY 1, 2)
         SELECT ag.sa AS source_a, ag.sb AS source_b, ag.n_agree,
                round(ag.n_agree / 32.0, 6) AS est_jaccard,
                CAST(COALESCE(i.ns, 0) AS BIGINT) AS n_shared,
                round(COALESCE(i.ns, 0)::DOUBLE /
                      (za.n + zb.n - COALESCE(i.ns, 0)), 6) AS jaccard
         FROM agree ag
         LEFT JOIN inter i ON i.sa = ag.sa AND i.sb = ag.sb
         JOIN sz za ON za.source = ag.sa
         JOIN sz zb ON zb.source = ag.sb
         ORDER BY 1, 2""",
    // from-scratch datacard replay (q192's langid/quality formulas on raw
    // text, q27's pair replay at 0.6, smaller-id-wins); the oracle emits
    // the SAME card into the _incr and _full column pairs, so a match
    // asserts incremental == from-scratch
    "q201_incremental_datacard" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ts,
                      CAST(length(text) AS DOUBLE) AS n_chars
                    FROM documents),
         mk AS (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm FROM (
           SELECT *,
             len(list_filter(ts, t -> t IN ('the','fast','data','query'))) AS s_en,
             len(list_filter(ts, t -> t IN ('scan','merge','window'))) AS s_de,
             len(list_filter(ts, t -> t IN ('table','column','line'))) AS s_fr,
             len(list_filter(ts, t -> t IN ('row','group','order'))) AS s_es,
             len(list_filter(ts, t -> t IN ('hash','join','key'))) AS s_zh
           FROM d)),
         lab AS (SELECT doc_id, text, CAST(len(ts) AS BIGINT) AS tok0,
           gm > 0 AS p2,
           ((0.5 * least(n_chars / 500.0, 1.0) +
             0.5 * (1.0 - least(abs((n_chars - (CAST(len(ts) AS DOUBLE) - 1.0))
                                    / CAST(len(ts) AS DOUBLE) - 5.0) / 5.0, 1.0))) *
            (CASE WHEN len(ts) < 5 THEN 0.5 ELSE 1.0 END)) >= 0.5
           AND len(list_distinct(ts))::DOUBLE / len(ts)::DOUBLE >= 0.4 AS p3
           FROM mk),
         gp AS (SELECT doc_id, text, tok0 FROM lab WHERE p2 AND p3),
         sets AS (SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset FROM gp),
         ddrop AS (SELECT DISTINCT b.doc_id FROM sets b JOIN sets a
                   ON a.doc_id < b.doc_id
                   AND len(list_intersect(a.fset, b.fset))::DOUBLE /
                       len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.6),
         surv AS (SELECT * FROM gp
                  WHERE doc_id NOT IN (SELECT doc_id FROM ddrop)),
         st AS (
           SELECT 0 AS stage_idx, 'input' AS stage,
             CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(tok0), 0) AS BIGINT) AS tk FROM lab
           UNION ALL SELECT 1, 'langid', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(tok0), 0) AS BIGINT) FROM lab WHERE p2
           UNION ALL SELECT 2, 'quality', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(tok0), 0) AS BIGINT) FROM lab WHERE p2 AND p3
           UNION ALL SELECT 3, 'near_dup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(tok0), 0) AS BIGINT) FROM surv)
         SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
                n AS n_docs_incr, tk AS n_tokens_incr,
                n AS n_docs_full, tk AS n_tokens_full
         FROM st ORDER BY stage_idx""",
    // q125's winnowing selection machinery → per-doc DISTINCT
    // fingerprint values → df-capped inverted-index self-join →
    // min-side containment ratio
    "q195_winnowing_overlap" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         h AS (SELECT doc_id,
                 list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                   i -> CAST(concat('0x',
                     substr(md5(substr(text, CAST(i AS INT), 5)), 1, 12)) AS BIGINT)) AS hs
               FROM d),
         s1 AS (SELECT doc_id, hs, len(hs) AS nh FROM h),
         fpsel AS (SELECT doc_id, hs,
                     list_sort(list_distinct(list_transform(
                       range(1, greatest(nh - 3, 1) + 1),
                       s -> list_reduce(
                              list_prepend({'fp': 9223372036854775807, 'pos': -1},
                                list_transform(range(0, least(4, nh)),
                                  off -> {'fp': hs[CAST(s + off AS INT)],
                                          'pos': CAST(s + off AS INT)})),
                              (acc, x) -> CASE WHEN x.fp <= acc.fp
                                               THEN x ELSE acc END).pos))) AS sel
                   FROM s1),
         fps AS (SELECT DISTINCT doc_id, CAST(fpv AS BIGINT) AS fp FROM (
                   SELECT doc_id,
                     unnest(list_transform(sel, p -> hs[CAST(p AS INT)])) AS fpv
                   FROM fpsel)),
         kept AS (SELECT f.doc_id, f.fp FROM fps f
                  JOIN (SELECT fp FROM fps GROUP BY fp
                        HAVING count(*) <= 64) g USING (fp)),
         sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
                   FROM kept GROUP BY 1),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(count(*) AS BIGINT) AS n_shared
                   FROM kept a JOIN kept b
                     ON a.fp = b.fp AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT p.id_a, p.id_b, p.n_shared,
           round(p.n_shared::DOUBLE / least(sa.nfp, sb.nfp)::DOUBLE, 4)
             AS overlap
         FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a
                      JOIN sizes sb ON sb.doc_id = p.id_b
         WHERE p.n_shared::DOUBLE / least(sa.nfp, sb.nfp)::DOUBLE >= 0.5""",
    // q27's all-pairs text truth left-joined to the q189 dHash canon
    // (recomputed from the pixel generator), same verdict CASE
    "q194_multimodal_dedup" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         tp AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(len(list_intersect(a.fset, b.fset))::DOUBLE /
                   len(list_distinct(a.fset || b.fset))::DOUBLE, 4) AS jaccard
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         img AS (SELECT doc_id FROM documents WHERE doc_id % 4 IN (0, 1)),
         px AS (SELECT doc_id, x, y,
                  CAST((doc_id*31 + x*7 + y*13) % 256 AS BIGINT) AS p
                FROM img, range(8) t1(x), range(8) t2(y)),
         bits AS (SELECT a.doc_id, a.x, a.y,
                    CASE WHEN a.p < b.p THEN 1 ELSE 0 END AS bit
                  FROM px a JOIN px b
                    ON a.doc_id = b.doc_id AND b.x = (a.x+1) % 8 AND b.y = a.y),
         bands AS (SELECT doc_id, y//2 AS band,
                     CAST(sum(bit * (1::BIGINT << ((y%2)*8 + x))) AS BIGINT) AS v
                   FROM bits GROUP BY 1, 2),
         h AS (SELECT doc_id,
                 max(CASE WHEN band=0 THEN v END) AS b0,
                 max(CASE WHEN band=1 THEN v END) AS b1,
                 max(CASE WHEN band=2 THEN v END) AS b2,
                 max(CASE WHEN band=3 THEN v END) AS b3
               FROM bands GROUP BY doc_id),
         reps AS (SELECT b0, b1, b2, b3, min(doc_id) AS rep_id
                  FROM h GROUP BY 1, 2, 3, 4),
         rb AS (SELECT rep_id, 0 AS band, b0 AS v FROM reps
                UNION ALL SELECT rep_id, 1, b1 FROM reps
                UNION ALL SELECT rep_id, 2, b2 FROM reps
                UNION ALL SELECT rep_id, 3, b3 FROM reps),
         cand AS (SELECT DISTINCT a.rep_id AS lo, b.rep_id AS hi
                  FROM rb a JOIN rb b
                    ON a.band = b.band AND a.v = b.v AND a.rep_id < b.rep_id),
         ham AS (SELECT c.lo, c.hi,
                   bit_count(xor(ra.b0, rs.b0)) + bit_count(xor(ra.b1, rs.b1)) +
                   bit_count(xor(ra.b2, rs.b2)) + bit_count(xor(ra.b3, rs.b3)) AS d
                 FROM cand c JOIN reps ra ON ra.rep_id = c.lo
                             JOIN reps rs ON rs.rep_id = c.hi),
         mrg AS (SELECT hi AS rep_id, min(lo) AS canon
                 FROM ham WHERE d <= 6 GROUP BY hi),
         canon AS (SELECT h.doc_id AS asset_id,
                     coalesce(m.canon, r.rep_id) AS canon_id
                   FROM h JOIN reps r USING (b0, b1, b2, b3)
                   LEFT JOIN mrg m ON m.rep_id = r.rep_id)
         SELECT tp.id_a, tp.id_b, tp.jaccard,
           CASE WHEN ca.canon_id IS NULL OR cb.canon_id IS NULL
                  THEN 'text_only'
                WHEN ca.canon_id = cb.canon_id THEN 'confirmed'
                ELSE 'contradicted' END AS verdict
         FROM tp LEFT JOIN canon ca ON ca.asset_id = tp.id_a
                 LEFT JOIN canon cb ON cb.asset_id = tp.id_b""",
    // profile recomputed from the sample generator (u(i) = (id·31+7i)
    // mod 2^16), then the identical collapse → bucket → Chebyshev chain
    "q193_audio_phash_dedup" ->
      """WITH wav AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 2),
         u AS (SELECT doc_id, i // 8 AS f,
                 CAST((doc_id*31 + i*7) % 65536 AS BIGINT) AS u
               FROM wav, range(64) t(i)),
         prof AS (SELECT doc_id, f, CAST(sum(u) AS BIGINT) AS s
                  FROM u GROUP BY 1, 2),
         fp AS (SELECT doc_id,
                  max(CASE WHEN f=0 THEN s END) AS s0,
                  max(CASE WHEN f=1 THEN s END) AS s1,
                  max(CASE WHEN f=2 THEN s END) AS s2,
                  max(CASE WHEN f=3 THEN s END) AS s3,
                  max(CASE WHEN f=4 THEN s END) AS s4,
                  max(CASE WHEN f=5 THEN s END) AS s5,
                  max(CASE WHEN f=6 THEN s END) AS s6,
                  max(CASE WHEN f=7 THEN s END) AS s7
                FROM prof GROUP BY doc_id),
         fp2 AS (SELECT *,
                   CAST((CASE WHEN s0 < s1 THEN 1 ELSE 0 END)
                      + (CASE WHEN s1 < s2 THEN 2 ELSE 0 END)
                      + (CASE WHEN s2 < s3 THEN 4 ELSE 0 END)
                      + (CASE WHEN s3 < s4 THEN 8 ELSE 0 END)
                      + (CASE WHEN s4 < s5 THEN 16 ELSE 0 END)
                      + (CASE WHEN s5 < s6 THEN 32 ELSE 0 END)
                      + (CASE WHEN s6 < s7 THEN 64 ELSE 0 END)
                      + (CASE WHEN s7 < s0 THEN 128 ELSE 0 END) AS BIGINT)
                     AS dhash8,
                   CAST(((s0 >> 15) & 15) + (((s1 >> 15) & 15) << 4)
                      + (((s2 >> 15) & 15) << 8) + (((s3 >> 15) & 15) << 12)
                      + (((s4 >> 15) & 15) << 16) + (((s5 >> 15) & 15) << 20)
                      + (((s6 >> 15) & 15) << 24)
                      + (((s7 >> 15) & 15) << 28) AS BIGINT) AS sig32
                 FROM fp),
         reps AS (SELECT s0, s1, s2, s3, s4, s5, s6, s7,
                    min(doc_id) AS rep_id, count(*) AS n_exact,
                    max(dhash8) AS dhash8, max(sig32) AS sig32
                  FROM fp2 GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
         mrg AS (SELECT b.rep_id AS rep_id, min(a.rep_id) AS canon
                 FROM reps a JOIN reps b
                   ON a.dhash8 = b.dhash8 AND a.sig32 = b.sig32
                   AND a.rep_id < b.rep_id
                   AND greatest(abs(a.s0-b.s0), abs(a.s1-b.s1),
                                abs(a.s2-b.s2), abs(a.s3-b.s3),
                                abs(a.s4-b.s4), abs(a.s5-b.s5),
                                abs(a.s6-b.s6), abs(a.s7-b.s7)) <= 4096
                 GROUP BY b.rep_id)
         SELECT f.doc_id AS asset_id, f.dhash8, f.sig32, r.rep_id,
           coalesce(m.canon, r.rep_id) AS canon_id,
           CAST(r.n_exact AS BIGINT) AS n_exact
         FROM fp2 f JOIN reps r USING (s0, s1, s2, s3, s4, s5, s6, s7)
         LEFT JOIN mrg m ON m.rep_id = r.rep_id""",
    // q27's all-pairs truth attributed through the id->source map,
    // canonical (least, greatest) source cell
    "q187_source_copy_matrix" ->
      """WITH sets AS (
           SELECT doc_id, source, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         pairs AS (
           SELECT a.source AS src_a, b.source AS src_b,
             len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE AS jaccard
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7)
         SELECT least(src_a, src_b) AS source_x,
           greatest(src_a, src_b) AS source_y,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(jaccard), 6) AS avg_jaccard
         FROM pairs GROUP BY 1, 2""",
    // ground truth = q27's all-pairs Jaccard; found = q93's banded
    // signature replay (verified >= t); one-row recall join
    "q186_lsh_recall" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         truth AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         sh AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
           FROM (SELECT doc_id, unnest(fset) AS sh FROM sets)),
         hs AS (
           SELECT doc_id, j, min(h1 + j * h2) AS h
           FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, CAST(j // 4 AS INT) AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bh
           FROM hs GROUP BY doc_id, CAST(j // 4 AS INT)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         found AS (
           SELECT c.id_a, c.id_b FROM cand c
           JOIN sets a ON a.doc_id = c.id_a
           JOIN sets b ON b.doc_id = c.id_b
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         j AS (SELECT t.id_a, t.id_b,
                 CASE WHEN f.id_a IS NULL THEN 0 ELSE 1 END AS hit
               FROM truth t LEFT JOIN found f
                 ON t.id_a = f.id_a AND t.id_b = f.id_b)
         SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST(sum(hit) AS BIGINT) AS n_lsh_pairs,
           CAST(count(*) - sum(hit) AS BIGINT) AS n_missed,
           round(sum(hit) / CAST(count(*) AS DOUBLE), 6) AS recall
         FROM j""",
    // q120's two-iteration Lloyd replay through a2, then c-TF-IDF with
    // the same quantization and (score desc, tok) cut
    "q184_cluster_keywords" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         seed AS (SELECT CAST(id AS INT) AS cluster, v FROM e ORDER BY id LIMIT 4),
         d1 AS (SELECT e.id, s.cluster,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i] - s.v[i]) * (e.v[i] - s.v[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM e, seed s),
         a1 AS (SELECT id, cluster FROM (
                  SELECT id, cluster,
                    row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
                  FROM d1) WHERE rn = 1),
         u AS (SELECT a1.cluster, dim.i AS dim,
                 round(round(sum(e.v[dim.i]), 4) / count(*), 6) AS m
               FROM a1 JOIN e USING (id)
                 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dim
               GROUP BY a1.cluster, dim.i),
         c2 AS (SELECT cluster, list(m ORDER BY dim) AS v FROM u GROUP BY cluster),
         d2 AS (SELECT e.id, c.cluster,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM e, c2 c),
         a2 AS (SELECT id, cluster FROM (
                  SELECT id, cluster,
                    row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
                  FROM d2) WHERE rn = 1),
         toks AS (SELECT a2.cluster, t.tok FROM a2
                  JOIN (SELECT doc_id,
                          unnest(string_split_regex(lower(text), '\s+')) AS tok
                        FROM documents) t ON t.doc_id = a2.id
                  WHERE t.tok <> ''),
         ctf AS (SELECT cluster, tok, CAST(count(*) AS BIGINT) AS tf
                 FROM toks GROUP BY 1, 2),
         cfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS f
                 FROM toks GROUP BY 1),
         aa AS (SELECT count(*) / 4.0 AS A FROM toks),
         scored AS (SELECT cluster, tok,
                      round(tf * ln(1 + (SELECT A FROM aa) / f), 6) AS score
                    FROM ctf JOIN cfr USING (tok)),
         r AS (SELECT cluster, tok, score,
                 row_number() OVER (PARTITION BY cluster
                   ORDER BY score DESC, tok) AS rank
               FROM scored)
         SELECT CAST(cluster AS BIGINT) AS cluster, CAST(rank AS BIGINT) AS rank,
           tok, score
         FROM r WHERE rank <= 5""",
    // q105's shard replay + the 60-bit md5 hash, summed mod p (order-
    // independent, so any execution order produces the same digest)
    "q183_shard_manifest" ->
      """WITH keyed AS (
           SELECT doc_id, text,
             ('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)),
               1, 4))::BIGINT % 8 AS shard,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
               1, 15))::BIGINT % 1000000007 AS h
           FROM documents)
         SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(h) % 1000000007 AS BIGINT) AS digest
         FROM keyed GROUP BY shard""",
    // same (i - 0.5)/n_s stride keys, same (key, lang, id) total order
    "q182_stride_interleave" ->
      """WITH r AS (SELECT lang, doc_id,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id)
               AS DOUBLE) AS i,
             CAST(count(*) OVER (PARTITION BY lang) AS DOUBLE) AS n
           FROM documents),
         k AS (SELECT lang, doc_id, (i - 0.5) / n AS sk FROM r),
         top AS (SELECT lang, doc_id, sk FROM k
                 ORDER BY sk, lang, doc_id LIMIT 60)
         SELECT CAST(row_number() OVER (ORDER BY sk, lang, doc_id)
             AS BIGINT) AS position,
           lang, doc_id, round(sk, 8) AS k
         FROM top""",
    // running event-time max over ingest order; quantile_cont matches
    // Spark's interpolated exact percentile; NULL lateness = on-time
    "q181_lateness_audit" ->
      """WITH x AS (SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             max(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
           FROM events),
         l AS (SELECT event_type,
                 CASE WHEN hwm > t THEN (hwm - t) / 1000000.0 END AS late_s
               FROM x)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(late_s) AS BIGINT) AS n_late,
           round(quantile_cont(late_s, 0.5), 6) AS p50_late_s,
           round(quantile_cont(late_s, 0.9), 6) AS p90_late_s,
           round(max(late_s), 6) AS max_late_s
         FROM l GROUP BY event_type""",
    // q93's signature replay extended with per-coordinate agreement and
    // the unthresholded exact Jaccard; same 0.1 error buckets
    "q180_lsh_calibration" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         sh AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
           FROM (SELECT doc_id, unnest(fset) AS sh FROM sets)),
         hs AS (
           SELECT doc_id, j, min(h1 + j * h2) AS h
           FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, CAST(j // 4 AS INT) AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bh
           FROM hs GROUP BY doc_id, CAST(j // 4 AS INT)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         est AS (
           SELECT c.id_a, c.id_b,
             sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) / 32.0 AS est
           FROM cand c
           JOIN hs ha ON ha.doc_id = c.id_a
           JOIN hs hb ON hb.doc_id = c.id_b AND hb.j = ha.j
           GROUP BY c.id_a, c.id_b),
         tj AS (
           SELECT c.id_a, c.id_b,
             len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE AS jac
           FROM cand c
           JOIN sets a ON a.doc_id = c.id_a
           JOIN sets b ON b.doc_id = c.id_b)
         SELECT round(est - jac, 1) AS err_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(est), 6) AS avg_est,
           round(avg(jac), 6) AS avg_jaccard
         FROM est JOIN tj USING (id_a, id_b)
         GROUP BY 1""",
    // DuckDB's native inequality join replays the overlap predicate
    "q179_interval_overlap" ->
      """WITH iv AS (SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s0,
             epoch_us(CAST(ts AS TIMESTAMP)) +
               CAST(floor((600 + value * 10) * 1000000) AS BIGINT) AS e0
           FROM events)
         SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs
         FROM iv a JOIN iv b ON a.user_id = b.user_id
           AND a.event_id < b.event_id
           AND a.s0 < b.e0 AND b.s0 < a.e0
         GROUP BY a.user_id""",
    // the window spelling of the same (score desc, id asc) top-5
    "q178_topk_agg" ->
      """SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rank AS BIGINT) AS rank FROM (
           SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS rank
           FROM documents)
         WHERE rank <= 5""",
    // q167's water-fill at budget 1.2x / cap 3.0, epochs rounded to 6dp
    // BEFORE expansion (both engines), then the md5 uniform01 replay
    "q177_epoch_expand" ->
      """WITH g AS (
           SELECT lang,
             CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS capacity
           FROM documents GROUP BY 1),
         tot AS (SELECT 1.2 * sum(capacity) AS b FROM g),
         r AS (SELECT lang, capacity, capacity * 3.0 AS cap,
                 CAST(row_number() OVER (ORDER BY capacity * 3.0, lang)
                   AS DOUBLE) AS i,
                 CAST(count(*) OVER () AS DOUBLE) AS n,
                 coalesce(sum(capacity * 3.0) OVER (
                   ORDER BY capacity * 3.0, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumprev
               FROM g),
         l AS (SELECT r.*, ((SELECT b FROM tot) - cumprev) / (n - i + 1.0)
                 AS level FROM r),
         s AS (SELECT l.*, min(CASE WHEN cap >= level THEN i END) OVER ()
                 AS istar FROM l),
         s2 AS (SELECT s.*, max(CASE WHEN i = istar THEN level END) OVER ()
                 AS lstar FROM s),
         alloc AS (SELECT lang,
                     round(CASE WHEN lstar IS NULL THEN cap
                                ELSE least(cap, lstar) END / capacity, 6)
                       AS e
                   FROM s2),
         d AS (SELECT documents.lang AS lang, e,
                 CAST(floor(e) AS BIGINT) +
                 CASE WHEN (CAST(concat('0x', substr(md5(
                        CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
                        / power(16.0, 13) < e - floor(e)
                      THEN 1 ELSE 0 END AS cnt
               FROM documents JOIN alloc USING (lang))
         SELECT lang, CAST(count(*) AS BIGINT) AS n_in,
           CAST(sum(cnt) AS BIGINT) AS n_out,
           any_value(e) AS target_epochs,
           round(sum(cnt) / CAST(count(*) AS DOUBLE), 6) AS realized_epochs
         FROM d GROUP BY lang""",
    // same bounds, clamp, and round-half-up; code sums are integer-exact
    "q175_sq8_error" ->
      """WITH x AS (SELECT vec_id,
             unnest(CAST(embedding AS DOUBLE[])) AS x,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
           FROM embeddings),
         b AS (SELECT pos, min(x) AS lo,
                 CASE WHEN max(x) = min(x) THEN 1.0
                      ELSE max(x) - min(x) END AS span
               FROM x GROUP BY pos),
         c AS (SELECT x.pos, x.x, b.lo, b.span,
                 CAST(least(greatest(
                   round((x.x - b.lo) / b.span * 255.0), 0.0), 255.0)
                   AS BIGINT) AS code
               FROM x JOIN b USING (pos)),
         r AS (SELECT pos, code, x,
                 lo + code * span / 255.0 AS rec FROM c)
         SELECT pos, CAST(sum(code) AS BIGINT) AS code_sum,
           round(avg((x - rec) * (x - rec)), 12) AS mse
         FROM r GROUP BY pos""",
    // full-width and 16-prefix cosine rankings, self excluded, ties to
    // the smaller corpus id
    "q176_matryoshka_top1" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings WHERE vec_id < 30),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
         scored AS (SELECT q_id, c_id,
             list_cosine_similarity(q.e, c.e) AS sim,
             list_cosine_similarity(q.e[1:16], c.e[1:16]) AS sim_t
           FROM q CROSS JOIN c WHERE q_id <> c_id),
         f AS (SELECT q_id, c_id AS full_top1, round(sim, 4) AS sim_full,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, c_id) AS rk
               FROM scored),
         t AS (SELECT q_id, c_id AS trunc_top1, round(sim_t, 4) AS sim_trunc,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim_t DESC, c_id) AS rk
               FROM scored)
         SELECT f.q_id, f.full_top1, t.trunc_top1,
           f.full_top1 = t.trunc_top1 AS agree, f.sim_full, t.sim_trunc
         FROM f JOIN t USING (q_id) WHERE f.rk = 1 AND t.rk = 1""",
    // rank window + cross-joined k list; same tie-break (freq desc, tok)
    "q173_vocab_coverage" ->
      """WITH toks AS (SELECT unnest(string_split_regex(lower(text), '\s+'))
             AS tok FROM documents),
         f AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM toks
               WHERE tok <> '' GROUP BY tok),
         r AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rank
               FROM f),
         tot AS (SELECT sum(f) AS tot FROM f),
         ks(k) AS (VALUES (1), (2), (5), (10), (20))
         SELECT k,
           CAST(sum(CASE WHEN rank <= k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_types,
           round(sum(CASE WHEN rank <= k THEN f ELSE 0 END) /
             CAST((SELECT tot FROM tot) AS DOUBLE), 6) AS coverage
         FROM r CROSS JOIN ks GROUP BY k""",
    // same smoothing and observed-type truncation as the Spark side
    "q174_source_kl" ->
      """WITH tw AS (SELECT source, tok FROM (
             SELECT source,
               unnest(string_split_regex(lower(text), '\s+')) AS tok
             FROM documents) WHERE tok <> ''),
         v AS (SELECT count(DISTINCT tok) AS v FROM tw),
         c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM tw GROUP BY tok),
         ct AS (SELECT CAST(sum(cf) AS BIGINT) AS ct FROM c),
         sx AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS sf
                FROM tw GROUP BY 1, 2),
         stt AS (SELECT source, CAST(sum(sf) AS BIGINT) AS st
                 FROM sx GROUP BY 1),
         j AS (SELECT sx.source, sx.sf,
                 (sx.sf + 1) / CAST(stt.st + (SELECT v FROM v) AS DOUBLE)
                   AS ps,
                 (c.cf + 1) / CAST((SELECT ct FROM ct) + (SELECT v FROM v)
                   AS DOUBLE) AS pc
               FROM sx JOIN stt USING (source) JOIN c USING (tok))
         SELECT source, CAST(sum(sf) AS BIGINT) AS n_tokens,
           round(sum(ps * ln(ps / pc)), 6) AS kl_nats
         FROM j GROUP BY source""",
    // per-term non-overlapping replace-count — equal to the automaton's
    // all-occurrence count because no term has a proper border
    "q172_blocklist_screen" ->
      """WITH terms(term) AS (VALUES ('slow'), ('big data'), ('error'),
             ('merge'), ('stream agg')),
         x AS (SELECT term,
                 (len(text) - len(replace(text, term, ''))) // len(term) AS c
               FROM documents CROSS JOIN terms)
         SELECT term,
           CAST(count(*) FILTER (WHERE c > 0) AS BIGINT) AS n_docs,
           CAST(sum(c) AS BIGINT) AS n_hits
         FROM x GROUP BY term""",
    // q129's replace-chain replayed per word keeping lang; a word's
    // token count is its sentinel-segment count after the 8 merges
    "q170_tokenizer_fertility" ->
      """WITH w AS (SELECT lang,
             unnest(string_split_regex(lower(text), '\s+')) AS w
           FROM documents),
         ww AS (SELECT lang, w FROM w WHERE w <> ''),
         s0 AS (SELECT lang, len(w) AS c,
                  chr(1) || array_to_string(string_split(w, ''),
                    chr(2) || chr(1)) || chr(2) AS s FROM ww),
         s1 AS (SELECT lang, c, replace(s, chr(1)||'t'||chr(2)||chr(1)||'h'||chr(2),
                         chr(1)||'th'||chr(2)) AS s FROM s0),
         s2 AS (SELECT lang, c, replace(s, chr(1)||'th'||chr(2)||chr(1)||'e'||chr(2),
                         chr(1)||'the'||chr(2)) AS s FROM s1),
         s3 AS (SELECT lang, c, replace(s, chr(1)||'i'||chr(2)||chr(1)||'n'||chr(2),
                         chr(1)||'in'||chr(2)) AS s FROM s2),
         s4 AS (SELECT lang, c, replace(s, chr(1)||'a'||chr(2)||chr(1)||'n'||chr(2),
                         chr(1)||'an'||chr(2)) AS s FROM s3),
         s5 AS (SELECT lang, c, replace(s, chr(1)||'e'||chr(2)||chr(1)||'r'||chr(2),
                         chr(1)||'er'||chr(2)) AS s FROM s4),
         s6 AS (SELECT lang, c, replace(s, chr(1)||'o'||chr(2)||chr(1)||'n'||chr(2),
                         chr(1)||'on'||chr(2)) AS s FROM s5),
         s7 AS (SELECT lang, c, replace(s, chr(1)||'r'||chr(2)||chr(1)||'e'||chr(2),
                         chr(1)||'re'||chr(2)) AS s FROM s6),
         s8 AS (SELECT lang, c, replace(s, chr(1)||'a'||chr(2)||chr(1)||'t'||chr(2),
                         chr(1)||'at'||chr(2)) AS s FROM s7),
         tok AS (SELECT lang, c,
                   len(string_split(trim(s, chr(1) || chr(2)),
                     chr(2) || chr(1))) AS t
                 FROM s8)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(t) AS BIGINT) AS n_tokens,
           round(sum(t) / CAST(count(*) AS DOUBLE), 6) AS fertility,
           round(sum(c) / CAST(sum(t) AS DOUBLE), 6) AS chars_per_token
         FROM tok GROUP BY lang""",
    // DuckDB's own nfc_normalize replays the JDK Normalizer exactly
    // (both implement UAX #15); chr() spells the decomposed suffixes
    "q169_nfc_audit" ->
      """WITH d AS (
           SELECT source,
             text || CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'e' || chr(769)
               WHEN 1 THEN 'A' || chr(778)
               WHEN 2 THEN chr(8486)
               ELSE '' END AS r
           FROM documents),
         n AS (SELECT source, r, nfc_normalize(r) AS n FROM d)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE n <> r) AS BIGINT) AS n_changed,
           CAST(sum(len(r) - len(n)) AS BIGINT) AS cp_delta
         FROM n GROUP BY source""",
    // water-filling with epoch caps, replayed with the same closed form:
    // candidate level at each sorted rank, water level = level at the
    // first uncapped rank
    "q167_unimax_mix" ->
      """WITH g AS (
           SELECT lang,
             CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS capacity
           FROM documents GROUP BY 1),
         tot AS (SELECT 0.5 * sum(capacity) AS b FROM g),
         r AS (SELECT lang, capacity, capacity * 2.0 AS cap,
                 CAST(row_number() OVER (ORDER BY capacity * 2.0, lang)
                   AS DOUBLE) AS i,
                 CAST(count(*) OVER () AS DOUBLE) AS n,
                 coalesce(sum(capacity * 2.0) OVER (
                   ORDER BY capacity * 2.0, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumprev
               FROM g),
         l AS (SELECT r.*, ((SELECT b FROM tot) - cumprev) / (n - i + 1.0)
                 AS level FROM r),
         s AS (SELECT l.*, min(CASE WHEN cap >= level THEN i END) OVER ()
                 AS istar FROM l),
         s2 AS (SELECT s.*, max(CASE WHEN i = istar THEN level END) OVER ()
                 AS lstar FROM s)
         SELECT lang, CAST(capacity AS BIGINT) AS n_tokens,
           round(CASE WHEN lstar IS NULL THEN cap
                      ELSE least(cap, lstar) END, 4) AS alloc_tokens,
           round(CASE WHEN lstar IS NULL THEN cap
                      ELSE least(cap, lstar) END / capacity, 6) AS epochs
         FROM s2""",
    "q164_mojibake_repair" ->
      """WITH d AS (
           SELECT source,
             CASE WHEN doc_id % 5 = 0
               THEN replace(replace(text, 'a', 'Ã¡'), 'e', 'Ã©')
               ELSE text END AS c,
             CASE WHEN doc_id % 5 = 0
               THEN replace(replace(text, 'a', 'á'), 'e', 'é')
               ELSE text END AS t
           FROM documents),
         r AS (SELECT source, c, t,
                 replace(replace(c, 'Ã¡', 'á'), 'Ã©', 'é') AS f
               FROM d)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE f <> c) AS BIGINT) AS n_repaired,
           CAST(count(*) FILTER (WHERE f = t) AS BIGINT) AS n_exact
         FROM r GROUP BY source""",
    // q41's IVF spelling (assignment + 2-cell probe) and q29's brute
    // spelling at k=10, joined into per-query recall
    "q163_ann_recall" ->
      """WITH cent AS (SELECT CAST(vec_id AS INT) AS cell,
                         CAST(embedding AS DOUBLE[]) AS ce
                       FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
         q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 20),
         assigned AS (
           SELECT c_id, e, cell FROM (
             SELECT c.c_id, c.e, cent.cell,
               row_number() OVER (PARTITION BY c.c_id
                 ORDER BY list_distance(c.e, cent.ce), cent.cell) AS ar
             FROM c CROSS JOIN cent)
           WHERE ar = 1),
         probes AS (
           SELECT q_id, e, cell FROM (
             SELECT q.q_id, q.e, cent.cell,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_distance(q.e, cent.ce), cent.cell) AS cr
             FROM q CROSS JOIN cent)
           WHERE cr <= 2),
         approx AS (
           SELECT q_id, c_id FROM (
             SELECT p.q_id, a.c_id,
               row_number() OVER (PARTITION BY p.q_id
                 ORDER BY list_cosine_similarity(p.e, a.e) DESC, a.c_id)
                 AS rank
             FROM assigned a JOIN probes p ON a.cell = p.cell)
           WHERE rank <= 10),
         exact AS (
           SELECT q_id, c_id FROM (
             SELECT q.q_id, c.c_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.c_id)
                 AS rank
             FROM q CROSS JOIN c)
           WHERE rank <= 10),
         hits AS (SELECT a.q_id, count(*) AS h
                  FROM approx a JOIN exact x
                    ON a.q_id = x.q_id AND a.c_id = x.c_id
                  GROUP BY a.q_id),
         base AS (SELECT q_id, count(*) AS n FROM exact GROUP BY q_id)
         SELECT b.q_id, CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
           CAST(b.n AS BIGINT) AS n_exact,
           round(CAST(coalesce(h.h, 0) AS DOUBLE) / b.n, 6) AS recall
         FROM base b LEFT JOIN hits h ON h.q_id = b.q_id""",
    // same top-k spelling as q155; DCG/IDCG via ln(i+1)/ln(2) on both
    // sides, NDCG against the retrieved-set ideal
    "q162_retrieval_metrics" ->
      """WITH top AS (
           SELECT * FROM (
             SELECT q.vec_id AS q_id, q.label AS q_label, c.label AS c_label,
               CAST(row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id)
                 AS BIGINT) AS rank
             FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             WHERE q.vec_id < 50)
           WHERE rank <= 10),
         m AS (SELECT q_id,
             CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)
               AS BIGINT) AS n_rel,
             min(CASE WHEN c_label = q_label THEN rank END) AS fr,
             sum(CASE WHEN c_label = q_label
                 THEN 1.0 / (ln(rank + 1.0) / ln(2.0)) ELSE 0.0 END) AS dcg
           FROM top GROUP BY q_id)
         SELECT q_id, n_rel,
           CAST(coalesce(fr, 0) AS BIGINT) AS first_rel_rank,
           round(coalesce(1.0 / fr, 0.0), 6) AS mrr,
           CASE WHEN n_rel = 0 THEN 0.0 ELSE
             round(dcg / list_sum(list_transform(range(1, n_rel + 1),
               i -> 1.0 / (ln(i + 1.0) / ln(2.0)))), 6) END AS ndcg
         FROM m""",
    // top-5 neighborhood (self excluded), then the majority label with
    // (freq DESC, label ASC) — the same tie-break as max(struct(f, -l))
    "q155_knn_label_audit" ->
      """WITH nn AS (
           SELECT * FROM (
             SELECT q.vec_id AS q_id, q.label AS q_label, c.label AS c_label,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
             FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             WHERE q.vec_id < 50)
           WHERE rn <= 5),
         f AS (SELECT q_id, q_label, c_label, count(*) AS f
               FROM nn GROUP BY 1, 2, 3),
         m AS (SELECT q_id, q_label, c_label FROM f
               QUALIFY row_number() OVER (PARTITION BY q_id
                 ORDER BY f DESC, c_label) = 1)
         SELECT q_id AS vec_id, q_label AS label, c_label AS knn_label,
           c_label <> q_label AS suspect
         FROM m""",
    // every kept frame of the decimated wav is sample u(2i) of the
    // deterministic generator; the mean is an exact integer sum over a
    // power-of-two divisor
    "q153_audio_resample" ->
      """SELECT doc_id AS asset_id, CAST(32 AS BIGINT) AS n_frames,
           round(CAST(list_sum(list_transform(range(0, 32),
             i -> (doc_id * 31 + i * 14) % 65536)) AS DOUBLE) / 32, 4)
             AS mean_amp
         FROM documents WHERE doc_id % 4 = 2""",
    // three unrolled greedy rounds over the top-8 pool; argmax with
    // (score DESC, id ASC) matches max(struct(score, -id)); the λ
    // arithmetic is forced to DOUBLE so 1.0-0.7 folds to the same bits
    "q151_mmr_retrieval" ->
      """WITH cand AS (
           SELECT * FROM (
             SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                 CAST(c.embedding AS DOUBLE[])) AS rel,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
             FROM embeddings q CROSS JOIN embeddings c
             WHERE q.vec_id < 5)
           WHERE rn <= 8),
         ps AS (SELECT a.q_id, a.c_id, b.c_id AS d_id,
                  list_cosine_similarity(CAST(va.embedding AS DOUBLE[]),
                    CAST(vb.embedding AS DOUBLE[])) AS s
                FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.c_id <> b.c_id
                JOIN embeddings va ON va.vec_id = a.c_id
                JOIN embeddings vb ON vb.vec_id = b.c_id),
         s1 AS (SELECT q_id, c_id, rel FROM cand
                QUALIFY row_number() OVER (PARTITION BY q_id
                  ORDER BY rel DESC, c_id) = 1),
         m1 AS (SELECT c.q_id, c.c_id, c.rel, ps.s AS ms
                FROM cand c JOIN s1 ON c.q_id = s1.q_id AND c.c_id <> s1.c_id
                JOIN ps ON ps.q_id = c.q_id AND ps.c_id = c.c_id
                  AND ps.d_id = s1.c_id),
         s2 AS (SELECT q_id, c_id, rel FROM m1
                QUALIFY row_number() OVER (PARTITION BY q_id
                  ORDER BY CAST(0.7 AS DOUBLE) * rel -
                    (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms DESC,
                    c_id) = 1),
         m2 AS (SELECT m1.q_id, m1.c_id, m1.rel, greatest(m1.ms, ps.s) AS ms
                FROM m1 JOIN s2 ON m1.q_id = s2.q_id AND m1.c_id <> s2.c_id
                JOIN ps ON ps.q_id = m1.q_id AND ps.c_id = m1.c_id
                  AND ps.d_id = s2.c_id),
         s3 AS (SELECT q_id, c_id, rel FROM m2
                QUALIFY row_number() OVER (PARTITION BY q_id
                  ORDER BY CAST(0.7 AS DOUBLE) * rel -
                    (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms DESC,
                    c_id) = 1)
         SELECT q_id, CAST(1 AS BIGINT) AS rank, c_id, round(rel, 3) AS rel
           FROM s1
         UNION ALL
         SELECT q_id, CAST(2 AS BIGINT) AS rank, c_id, round(rel, 3) AS rel
           FROM s2
         UNION ALL
         SELECT q_id, CAST(3 AS BIGINT) AS rank, c_id, round(rel, 3) AS rel
           FROM s3""",
    // within-source rank -> pooled index ceil(r*N/n) -> pooled score;
    // the quality formula is q55's, rounded to 6 before ranking
    "q144_quantile_norm" ->
      """WITH q AS (SELECT doc_id, source,
             round((0.5 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) +
               0.5 * (1.0 - least(abs((CAST(length(text) AS DOUBLE) -
                 (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) - 5.0)
                 / 5.0, 1.0))) *
               (CASE WHEN len(string_split(text, ' ')) < 5
                     THEN 0.5 ELSE 1.0 END), 6) AS score
           FROM documents),
         ws AS (SELECT doc_id, source, score,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY score, doc_id) AS BIGINT) AS r,
                  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
                FROM q),
         g AS (SELECT score AS gscore,
                 CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT)
                   AS gr
               FROM q),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM q),
         j AS (SELECT ws.source, ws.score, g.gscore
               FROM ws CROSS JOIN nn
                 JOIN g ON ((ws.r * nn.N + ws.n - 1) // ws.n) = g.gr)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(score), 4) AS raw_mean,
           round(avg(gscore), 4) AS norm_mean,
           round(max(abs(score - gscore)), 4) AS max_shift
         FROM j GROUP BY source""",
    // full grid = top tokens x sources; zero cells via left join
    "q142_token_burstiness" ->
      """WITH ts AS (SELECT source AS src,
                       unnest(string_split_regex(lower(text), '\s+')) AS tok
                     FROM documents),
         tk AS (SELECT src, tok FROM ts WHERE tok <> ''),
         cell AS (SELECT tok, src, CAST(count(*) AS BIGINT) AS c
                  FROM tk GROUP BY tok, src),
         tokTot AS (SELECT tok, CAST(sum(c) AS BIGINT) AS tt
                    FROM cell GROUP BY tok),
         srcTot AS (SELECT src, CAST(sum(c) AS BIGINT) AS st
                    FROM cell GROUP BY src),
         grand AS (SELECT CAST(sum(st) AS BIGINT) AS g FROM srcTot),
         top AS (SELECT tok, tt FROM tokTot ORDER BY tt DESC, tok LIMIT 50),
         grid AS (SELECT top.tok, top.tt, srcTot.src, srcTot.st, g,
                    COALESCE(cell.c, 0) AS obs
                  FROM top CROSS JOIN srcTot CROSS JOIN grand
                    LEFT JOIN cell ON top.tok = cell.tok
                      AND srcTot.src = cell.src),
         terms AS (SELECT tok, tt,
                     (CAST(obs AS DOUBLE) -
                       CAST(tt AS DOUBLE) * st / g) *
                     (CAST(obs AS DOUBLE) -
                       CAST(tt AS DOUBLE) * st / g) /
                     (CAST(tt AS DOUBLE) * st / g) AS term
                   FROM grid)
         SELECT tok, tt AS total, round(sum(term), 4) AS chi2
         FROM terms GROUP BY tok, tt
         ORDER BY chi2 DESC, tok LIMIT 15""",
    // integer half-life windows -> exact powers of two on both engines
    "q143_decayed_engagement" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                      value
                    FROM events),
         m AS (SELECT max(us) AS tmax FROM e),
         d AS (SELECT user_id, value, (tmax - us) // 604800000000 AS w
               FROM e, m)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * pow(2.0, -CAST(w AS DOUBLE))), 4) AS score
         FROM d GROUP BY user_id
         ORDER BY score DESC, user_id LIMIT 10""",
    // q136's triangle corners + raw degrees -> the standard coefficient
    "q140_clustering_coeff" ->
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         degs AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
                  GROUP BY v),
         orient AS (SELECT
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN a ELSE b END AS src,
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN b ELSE a END AS dst,
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN db.deg
                           ELSE da.deg END AS dd
                    FROM und JOIN degs da ON und.a = da.v
                      JOIN degs db ON und.b = db.v),
         wedges AS (SELECT e1.u, e1.v, e2.w FROM
                      (SELECT src AS u, dst AS v, dd AS dv FROM orient) e1
                      JOIN (SELECT src AS u, dst AS w, dd AS dw FROM orient) e2
                        USING (u)
                    WHERE (e1.dv, e1.v) < (e2.dw, e2.w)),
         tri AS (SELECT u, v, w FROM wedges
                   JOIN orient o ON wedges.v = o.src AND wedges.w = o.dst),
         tc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_triangles
                FROM (SELECT unnest([u, v, w]) AS user_id FROM tri)
                GROUP BY user_id)
         SELECT degs.v AS user_id, degs.deg AS degree,
           COALESCE(tc.n_triangles, 0) AS n_triangles,
           round(2.0 * COALESCE(tc.n_triangles, 0) /
             (degs.deg * (degs.deg - 1)), 6) AS clustering
         FROM degs LEFT JOIN tc ON degs.v = tc.user_id
         WHERE degs.deg >= 2
         ORDER BY clustering DESC, degree DESC, user_id LIMIT 10""",
    // distinct (source, token) pairs self-joined on the token
    "q141_vocab_overlap" ->
      """WITH vt AS (SELECT DISTINCT source AS src, tok FROM (
                       SELECT source,
                         unnest(string_split_regex(lower(text), '\s+')) AS tok
                       FROM documents) WHERE tok <> ''),
         sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n
                   FROM vt GROUP BY src),
         pairs AS (SELECT x.src AS src_a, y.src AS src_b,
                     CAST(count(*) AS BIGINT) AS common
                   FROM vt x JOIN vt y ON x.tok = y.tok AND x.src < y.src
                   GROUP BY x.src, y.src)
         SELECT src_a, src_b, common,
           round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
         FROM pairs JOIN sizes sa ON pairs.src_a = sa.src
           JOIN sizes sb ON pairs.src_b = sb.src
         ORDER BY jaccard DESC, src_a, src_b LIMIT 15""",
    // same adjacency edges as q136; three peel rounds as chained CTEs
    "q139_kcore" ->
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         e0 AS (SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b AS u, a AS v FROM und),
         k1 AS (SELECT u FROM e0 GROUP BY u HAVING count(*) >= 3),
         e1 AS (SELECT e0.u, e0.v FROM e0
                WHERE e0.u IN (SELECT u FROM k1)
                  AND e0.v IN (SELECT u FROM k1)),
         k2 AS (SELECT u FROM e1 GROUP BY u HAVING count(*) >= 3),
         e2 AS (SELECT e1.u, e1.v FROM e1
                WHERE e1.u IN (SELECT u FROM k2)
                  AND e1.v IN (SELECT u FROM k2)),
         k3 AS (SELECT u FROM e2 GROUP BY u HAVING count(*) >= 3),
         e3 AS (SELECT e2.u, e2.v FROM e2
                WHERE e2.u IN (SELECT u FROM k3)
                  AND e2.v IN (SELECT u FROM k3))
         SELECT u AS user_id, CAST(count(*) AS BIGINT) AS core_degree
         FROM e3 GROUP BY u
         ORDER BY core_degree DESC, user_id LIMIT 10""",
    // each rule replayed as list predicates over the same token/line
    // splits; the 0.1/0.9-style thresholds are the identical IEEE
    // doubles on both sides
    "q138_gopher_filter" ->
      """WITH d AS (SELECT doc_id, text,
                      list_filter(string_split_regex(text, '\s+'),
                        w -> w <> '') AS ts,
                      string_split(text, chr(10)) AS ls
                    FROM documents),
         r AS (SELECT doc_id,
           COALESCE(len(ts) >= 50 AND len(ts) <= 100000, FALSE) AS p1,
           COALESCE((CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(ts, w -> CAST(length(w) AS BIGINT))),
               (a, b) -> a + b) AS DOUBLE) / len(ts)) >= 3.0 AND
             (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(ts, w -> CAST(length(w) AS BIGINT))),
               (a, b) -> a + b) AS DOUBLE) / len(ts)) <= 10.0, FALSE) AS p2,
           COALESCE(CAST(length(text) - length(replace(text, '#', ''))
               AS DOUBLE) <= 0.1 * len(ts), FALSE) AS p3,
           COALESCE(CAST(length(text) - length(replace(text, '...', ''))
               AS DOUBLE) / 3.0 <= 0.1 * len(ts), FALSE) AS p4,
           COALESCE(CAST(len(list_filter(ls, l ->
               starts_with(trim(l), '-') OR starts_with(trim(l), '*')))
               AS DOUBLE) <= 0.9 * len(ls), FALSE) AS p5,
           COALESCE(CAST(len(list_filter(ls, l -> ends_with(trim(l), '...')))
               AS DOUBLE) <= 0.3 * len(ls), FALSE) AS p6,
           COALESCE(CAST(len(list_filter(ts, w ->
               regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
               >= 0.8 * len(ts), FALSE) AS p7,
           COALESCE(len(list_filter(ts, w -> list_contains(
               ['the','be','to','of','and','that','have','with'],
               lower(w)))) >= 2, FALSE) AS p8
           FROM d)
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_word_count,
           CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_word_len,
           CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hash_ratio,
           CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS n_ellipsis_ratio,
           CAST(sum(CASE WHEN p5 THEN 1 ELSE 0 END) AS BIGINT) AS n_bullet_lines,
           CAST(sum(CASE WHEN p6 THEN 1 ELSE 0 END) AS BIGINT) AS n_ellipsis_lines,
           CAST(sum(CASE WHEN p7 THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_words,
           CAST(sum(CASE WHEN p8 THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_words,
           CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 AND p5 AND p6
             AND p7 AND p8 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM r""",
    // five chained farthest-point rounds; min-dist maintained by
    // least(previous, dist-to-new-center), every dist on the round-8
    // grid, argmax ties to the lower id
    "q137_kcenter_coreset" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         c1 AS (SELECT v FROM e WHERE id = (SELECT min(id) FROM e)),
         d1 AS (SELECT e.id, round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, 65),
                    i -> (e.v[i]-c1.v[i])*(e.v[i]-c1.v[i]))),
                  (x, y) -> x + y), 8) AS d
                FROM e, c1),
         f2 AS (SELECT id, d FROM (SELECT id, d,
                  row_number() OVER (ORDER BY d DESC, id) AS rn FROM d1)
                WHERE rn = 1),
         c2 AS (SELECT e.v FROM e JOIN f2 ON e.id = f2.id),
         d2 AS (SELECT dp.id, least(dp.d,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i]-c2.v[i])*(e.v[i]-c2.v[i]))),
                    (x, y) -> x + y), 8)) AS d
                FROM d1 dp JOIN e ON dp.id = e.id, c2),
         f3 AS (SELECT id, d FROM (SELECT id, d,
                  row_number() OVER (ORDER BY d DESC, id) AS rn FROM d2)
                WHERE rn = 1),
         c3 AS (SELECT e.v FROM e JOIN f3 ON e.id = f3.id),
         d3 AS (SELECT dp.id, least(dp.d,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i]-c3.v[i])*(e.v[i]-c3.v[i]))),
                    (x, y) -> x + y), 8)) AS d
                FROM d2 dp JOIN e ON dp.id = e.id, c3),
         f4 AS (SELECT id, d FROM (SELECT id, d,
                  row_number() OVER (ORDER BY d DESC, id) AS rn FROM d3)
                WHERE rn = 1),
         c4 AS (SELECT e.v FROM e JOIN f4 ON e.id = f4.id),
         d4 AS (SELECT dp.id, least(dp.d,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i]-c4.v[i])*(e.v[i]-c4.v[i]))),
                    (x, y) -> x + y), 8)) AS d
                FROM d3 dp JOIN e ON dp.id = e.id, c4),
         f5 AS (SELECT id, d FROM (SELECT id, d,
                  row_number() OVER (ORDER BY d DESC, id) AS rn FROM d4)
                WHERE rn = 1),
         c5 AS (SELECT e.v FROM e JOIN f5 ON e.id = f5.id),
         d5 AS (SELECT dp.id, least(dp.d,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i]-c5.v[i])*(e.v[i]-c5.v[i]))),
                    (x, y) -> x + y), 8)) AS d
                FROM d4 dp JOIN e ON dp.id = e.id, c5),
         f6 AS (SELECT id, d FROM (SELECT id, d,
                  row_number() OVER (ORDER BY d DESC, id) AS rn FROM d5)
                WHERE rn = 1)
         SELECT CAST(1 AS BIGINT) AS rank,
           (SELECT min(id) FROM e) AS vec_id, CAST(0.0 AS DOUBLE) AS sel_dist
         UNION ALL SELECT 2, id, round(d, 6) FROM f2
         UNION ALL SELECT 3, id, round(d, 6) FROM f3
         UNION ALL SELECT 4, id, round(d, 6) FROM f4
         UNION ALL SELECT 5, id, round(d, 6) FROM f5
         UNION ALL SELECT 6, id, round(d, 6) FROM f6""",
    // adjacency edges from per-type lag windows, degree-oriented wedge
    // join, closing join, corner counts — row-value comparisons mirror
    // the engine's (deg, id) struct ordering
    // same edge CTE as q136; wedges at centers with deg <= 128, scores on
    // true degree, NOT EXISTS screens existing edges, rounded order cut
    "q168_adamic_adar" ->
      """WITH adj0 AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj0 WHERE prev IS NOT NULL AND prev <> user_id),
         dir AS (SELECT a AS z, b AS x FROM und
                 UNION ALL SELECT b AS z, a AS x FROM und),
         deg AS (SELECT z, count(*) AS deg FROM dir GROUP BY z),
         adjf AS (SELECT dir.z, dir.x, 1.0 / ln(deg.deg) AS w
                  FROM dir JOIN deg USING (z) WHERE deg.deg <= 128),
         wedges AS (SELECT l.z, l.x AS u, r.x AS v, l.w
                    FROM adjf l JOIN adjf r USING (z) WHERE l.x < r.x),
         scored AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
                      sum(w) AS s
                    FROM wedges GROUP BY u, v HAVING count(*) >= 2),
         nonadj AS (SELECT * FROM scored sc
                    WHERE NOT EXISTS (SELECT 1 FROM und
                      WHERE und.a = sc.u AND und.b = sc.v))
         SELECT u, v, n_common, round(s, 6) AS aa_score FROM nonadj
         ORDER BY aa_score DESC, u, v LIMIT 20""",
    // min-hop BFS replayed with a RECURSIVE CTE (UNION dedups the
    // reached (v, w, hop) rows, so cycles terminate); pair counts at
    // each hop must equal the engine's iterative frontier expansion
    "q236_neighborhood_function" ->
      """WITH RECURSIVE adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         e AS (SELECT a AS src, b AS dst FROM und
               UNION SELECT b, a FROM und),
         n AS (SELECT DISTINCT src AS v FROM e),
         walk(v, w, hop) AS (
           SELECT v, v, 0 FROM n
           UNION
           SELECT wk.v, e.dst, wk.hop + 1
           FROM walk wk JOIN e ON e.src = wk.w
           WHERE wk.hop < 4),
         nf AS (SELECT v, w, min(hop) AS mh FROM walk GROUP BY v, w),
         hops AS (SELECT unnest(range(0, 5)) AS hop)
         SELECT CAST(hops.hop AS BIGINT) AS hop,
                CAST(count(*) AS BIGINT) AS n_pairs
         FROM hops JOIN nf ON nf.mh <= hops.hop
         GROUP BY hops.hop ORDER BY hop""",
    // finalized windows = end ≤ max event time − delay, replayed
    // arithmetically (µs); the suppressed tail is part of the contract
    "q252_stream_window_append" ->
      """WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
         w AS (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                 AS bucket_start, event_type FROM events)
         SELECT bucket_start, event_type, count(*) AS n_events
         FROM w CROSS JOIN mx
         WHERE (bucket_start + 3600) * 1000000 <= m - 7200000000
         GROUP BY bucket_start, event_type, m
         ORDER BY bucket_start, event_type""",
    // every ≤3-hop walk enumerated over the min-reduced edges; the
    // engine's min-plus relaxation must land on the same minima
    "q251_shortest_paths" ->
      """WITH RECURSIVE ev AS (SELECT user_id, event_id,
                lag(user_id) OVER (PARTITION BY event_type
                  ORDER BY ts, event_id) AS prev
              FROM events),
         e0 AS (SELECT DISTINCT prev AS src, user_id AS dst,
                  1 + event_id % 7 AS w
                FROM ev WHERE prev IS NOT NULL AND prev <> user_id),
         edges AS (SELECT src, dst, CAST(min(w) AS BIGINT) AS w
                   FROM e0 GROUP BY src, dst),
         seeds AS (SELECT unnest(range(0, 10)) AS seed),
         walk(seed, node, cost, hop) AS (
           SELECT seed, seed, CAST(0 AS BIGINT), 0 FROM seeds
           UNION
           SELECT wk.seed, e.dst, wk.cost + e.w, wk.hop + 1
           FROM walk wk JOIN edges e ON e.src = wk.node
           WHERE wk.hop < 3),
         best AS (SELECT seed, node, min(cost) AS c FROM walk
                  WHERE node <> seed GROUP BY seed, node),
         cen AS (SELECT seed, count(*) AS n, sum(c) AS sc, max(c) AS mc
                 FROM best GROUP BY seed)
         SELECT s.seed, CAST(coalesce(cen.n, 0) AS BIGINT) AS n_reached,
                CAST(coalesce(cen.sc, 0) AS BIGINT) AS cost_sum,
                CAST(coalesce(cen.mc, 0) AS BIGINT) AS cost_max
         FROM seeds s LEFT JOIN cen USING (seed)
         ORDER BY seed""",
    // the full-drain stream-static join equals the batch join
    "q250_stream_static_join" ->
      """SELECT c.c_mktsegment, count(*) AS n_events,
                round(sum(e.value), 2) AS value_sum
         FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
         GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""",
    // every time-respecting walk ≤ 3 hops enumerated recursively; the
    // engine's min-arrival relaxation must land on the same earliest
    // arrivals and reach sets
    "q249_temporal_reach" ->
      """WITH RECURSIVE ev AS (SELECT user_id, epoch_us(ts) AS t,
                lag(user_id) OVER (PARTITION BY event_type
                  ORDER BY ts, event_id) AS prev
              FROM events),
         edges AS (SELECT DISTINCT prev AS src, user_id AS dst, t FROM ev
                   WHERE prev IS NOT NULL AND prev <> user_id),
         seeds AS (SELECT unnest(range(0, 10)) AS seed),
         walk(seed, node, t, hop) AS (
           SELECT seed, seed, CAST(-1 AS BIGINT), 0 FROM seeds
           UNION
           SELECT w.seed, e.dst, e.t, w.hop + 1
           FROM walk w JOIN edges e ON e.src = w.node AND e.t >= w.t
           WHERE w.hop < 3),
         reach AS (SELECT seed, node, min(t) AS t FROM walk
                   WHERE node <> seed GROUP BY seed, node),
         cen AS (SELECT seed, count(*) AS n, sum(t) AS st
                 FROM reach GROUP BY seed)
         SELECT s.seed, CAST(coalesce(cen.n, 0) AS BIGINT) AS n_reached,
                CAST(coalesce(cen.st, 0) AS BIGINT) AS arrival_sum_us
         FROM seeds s LEFT JOIN cen USING (seed)
         ORDER BY seed""",
    // the q236 exact walk plus the integer 90%-mass selection
    "q246_effective_diameter" ->
      """WITH RECURSIVE adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         e AS (SELECT a AS src, b AS dst FROM und
               UNION SELECT b, a FROM und),
         n AS (SELECT DISTINCT src AS v FROM e),
         walk(v, w, hop) AS (
           SELECT v, v, 0 FROM n
           UNION
           SELECT wk.v, e.dst, wk.hop + 1
           FROM walk wk JOIN e ON e.src = wk.w
           WHERE wk.hop < 4),
         nf AS (SELECT v, w, min(hop) AS mh FROM walk GROUP BY v, w),
         hops AS (SELECT unnest(range(0, 5)) AS hop),
         nfh AS (SELECT CAST(hops.hop AS BIGINT) AS hop,
                   CAST(count(*) AS BIGINT) AS n_pairs
                 FROM hops JOIN nf ON nf.mh <= hops.hop
                 GROUP BY hops.hop),
         mx AS (SELECT CAST(max(n_pairs) AS BIGINT) AS n_pairs_max FROM nfh)
         SELECT CAST(min(hop) AS BIGINT) AS hop_eff,
                (SELECT n_pairs_max FROM mx) AS n_pairs_max
         FROM nfh CROSS JOIN mx
         WHERE n_pairs * 10 >= n_pairs_max * 9""",
    // prev/next purchase per click via bounded join aggregates, the
    // closer-side pick with the backward tie, then the same census
    "q247_asof_nearest" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS cu, event_id AS cid
                    FROM events WHERE event_type = 'click'),
         p0 AS (SELECT user_id, epoch_us(ts) AS pu,
                  CAST(min(event_id) AS BIGINT) AS pid
                FROM events WHERE event_type = 'purchase'
                GROUP BY user_id, epoch_us(ts)),
         prev AS (SELECT c.cid, max(p.pu) AS bpu FROM c
                  LEFT JOIN p0 p ON p.user_id = c.user_id AND p.pu <= c.cu
                  GROUP BY c.cid),
         nxt AS (SELECT c.cid, min(p.pu) AS fpu FROM c
                 LEFT JOIN p0 p ON p.user_id = c.user_id AND p.pu >= c.cu
                 GROUP BY c.cid),
         x AS (SELECT c.user_id, c.cid, c.cu, prev.bpu, nxt.fpu
               FROM c LEFT JOIN prev USING (cid) LEFT JOIN nxt USING (cid)),
         y AS (SELECT user_id, cid, cu,
                 CASE WHEN bpu IS NOT NULL
                        AND (fpu IS NULL OR (cu - bpu) <= (fpu - cu))
                   THEN bpu ELSE fpu END AS mu
               FROM x),
         z AS (SELECT y.user_id, y.cid, y.cu, y.mu, p0.pid
               FROM y LEFT JOIN p0
                 ON p0.user_id = y.user_id AND p0.pu = y.mu)
         SELECT user_id, count(*) AS n_clicks,
                CAST(sum(CASE WHEN pid IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matched,
                CAST(sum(abs(cu - mu)) AS BIGINT) AS sum_abs_dt_us,
                CAST(count(DISTINCT pid) AS BIGINT) AS n_distinct_purch
         FROM z GROUP BY user_id""",
    // the full-drain stream-stream join is exactly the batch interval
    // join; comparisons replayed on epoch micros (Spark's native
    // timestamp unit) so ns-generation fixtures agree too
    "q237_stream_stream_join" ->
      """WITH c AS (SELECT user_id, ts AS cts, event_id AS cid
                    FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS pts, event_id AS pid, value
               FROM events WHERE event_type = 'purchase'),
         j AS (SELECT c.user_id, c.cid, p.pid, p.value
               FROM c JOIN p ON p.user_id = c.user_id
                 AND epoch_us(p.pts) >= epoch_us(c.cts)
                 AND epoch_us(p.pts) <= epoch_us(c.cts) + 1800000000)
         SELECT user_id, count(*) AS n_pairs,
                CAST(count(DISTINCT cid) AS BIGINT) AS n_clicks_attr,
                CAST(count(DISTINCT pid) AS BIGINT) AS n_purch_attr,
                round(sum(value), 2) AS value_sum
         FROM j GROUP BY user_id""",
    // tie-aware Mann–Whitney 2U replayed with a window prefix over the
    // (dim, score) cells — same integer walk the engine folds per dim
    "q238_scorer_auc" ->
      """WITH dims AS (SELECT unnest(range(0, 8)) AS dim),
         pts AS (SELECT CAST(d.dim AS BIGINT) AS dim,
                   CAST(floor(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 1e6)
                     AS BIGINT) AS q,
                   (e.label < 5) AS pos
                 FROM embeddings e CROSS JOIN dims d),
         cells AS (SELECT dim, q,
                     CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
                     CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
                   FROM pts GROUP BY dim, q),
         walk AS (SELECT dim, np, nn,
                    coalesce(sum(nn) OVER (PARTITION BY dim ORDER BY q
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS below
                  FROM cells)
         SELECT dim, CAST(sum(np) AS BIGINT) AS n_pos,
                CAST(sum(nn) AS BIGINT) AS n_neg,
                CAST(sum(np * (2 * below + nn)) AS BIGINT) AS u2,
                round(CAST(sum(np * (2 * below + nn)) AS DOUBLE) /
                  (2.0 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)), 6)
                  AS auc
         FROM walk GROUP BY dim ORDER BY dim""",
    // block-end tie convention replayed with DESC window prefixes; the
    // per-block picounit floor makes the sum order-independent
    "q243_scorer_ap" ->
      """WITH dims AS (SELECT unnest(range(0, 8)) AS dim),
         pts AS (SELECT CAST(d.dim AS BIGINT) AS dim,
                   CAST(floor(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 1e6)
                     AS BIGINT) AS q,
                   (e.label < 5) AS pos
                 FROM embeddings e CROSS JOIN dims d),
         cells AS (SELECT dim, q,
                     CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
                     CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
                   FROM pts GROUP BY dim, q),
         walk AS (SELECT dim, np, nn,
                    coalesce(sum(np) OVER (PARTITION BY dim ORDER BY q DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS pb,
                    coalesce(sum(np + nn) OVER (PARTITION BY dim ORDER BY q DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS tb
                  FROM cells),
         terms AS (SELECT dim, np, nn,
                     CASE WHEN np > 0 THEN
                       CAST(floor(CAST(np * (pb + np) AS DOUBLE)
                         / CAST(tb + np + nn AS DOUBLE) * 1e12) AS BIGINT)
                     ELSE 0 END AS tp
                   FROM walk)
         SELECT dim, CAST(sum(np) AS BIGINT) AS n_pos,
                CAST(sum(nn) AS BIGINT) AS n_neg,
                CAST(sum(tp) AS BIGINT) AS ap_pico,
                round((CAST(sum(tp) AS DOUBLE) / 1e12)
                  / CAST(sum(np) AS BIGINT), 6) AS ap
         FROM terms GROUP BY dim ORDER BY dim""",
    // the five integer sums and the pinned closed form, replayed term
    // for term (sums cast to double first, two products, one subtract)
    "q239_linear_probe" ->
      """WITH dims AS (SELECT unnest(range(0, 8)) AS dim),
         pts AS (SELECT CAST(d.dim AS BIGINT) AS dim,
                   CAST(floor(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 1e6)
                     AS BIGINT) AS x,
                   CAST(e.label AS BIGINT) AS y
                 FROM embeddings e CROSS JOIN dims d),
         st AS (SELECT dim, count(*) AS n,
                  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x * x) AS BIGINT) AS sxx,
                  CAST(sum(x * y) AS BIGINT) AS sxy,
                  CAST(sum(y * y) AS BIGINT) AS syy
                FROM pts GROUP BY dim)
         SELECT dim, n,
           floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS slope,
           floor(((CAST(sy AS DOUBLE)
                   - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                     * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS intercept,
           floor((((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                 * 1e6 + 0.5) / 1e6 AS r2
         FROM st ORDER BY dim""",
    // tie-broken permutation ranks → the exact-integer Σd² closed form
    "q240_spearman_dims" ->
      """WITH dims AS (SELECT unnest(range(0, 4)) AS dim),
         pts AS (SELECT CAST(d.dim AS BIGINT) AS dim, e.vec_id,
                   CAST(floor(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 1e6)
                     AS BIGINT) AS q
                 FROM embeddings e CROSS JOIN dims d),
         r AS (SELECT dim, vec_id,
                 row_number() OVER (PARTITION BY dim ORDER BY q, vec_id) AS rn
               FROM pts),
         p AS (SELECT a.dim AS dim_a, b.dim AS dim_b, a.rn - b.rn AS d
               FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.dim < b.dim)
         SELECT dim_a, dim_b, count(*) AS n,
                CAST(sum(d * d) AS BIGINT) AS sum_d2,
                round(1.0 - 6.0 * CAST(sum(d * d) AS DOUBLE)
                  / (CAST(count(*) AS DOUBLE)
                     * (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)
                        - 1.0)), 6) AS spearman
         FROM p GROUP BY dim_a, dim_b ORDER BY dim_a, dim_b""",
    // the textbook dominance definition, replayed as NOT EXISTS
    "q242_pareto_skyline" ->
      """WITH p AS (SELECT vec_id,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT) AS x,
             CAST(floor(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT) AS y
           FROM embeddings)
         SELECT vec_id, x, y FROM p a
         WHERE NOT EXISTS (SELECT 1 FROM p b
           WHERE b.x >= a.x AND b.y >= a.y AND (b.x > a.x OR b.y > a.y))
         ORDER BY vec_id""",
    // the drained incremental AUC equals the batch walk over the same
    // bucketed scores — same integer 2U as q238, grouped by language
    "q244_stream_auc" ->
      """WITH pts AS (SELECT lang, least(63, n_chars // 10) AS q,
                        (doc_id % 3 = 0) AS pos
                      FROM documents),
         cells AS (SELECT lang, q,
                     CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
                     CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
                   FROM pts GROUP BY lang, q),
         walk AS (SELECT lang, np, nn,
                    coalesce(sum(nn) OVER (PARTITION BY lang ORDER BY q
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS below
                  FROM cells)
         SELECT lang, CAST(sum(np) AS BIGINT) AS n_pos,
                CAST(sum(nn) AS BIGINT) AS n_neg,
                CAST(sum(np * (2 * below + nn)) AS BIGINT) AS u2,
                round(CAST(sum(np * (2 * below + nn)) AS DOUBLE) /
                  (2.0 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)), 6)
                  AS auc
         FROM walk GROUP BY lang ORDER BY lang""",
    // IDENTICAL replay to q245 — the hash-match against the same SQL
    // is precisely the streaming==batch maintenance proof
    "q248_stream_drift" ->
      """WITH q1 AS (SELECT (max(doc_id) + 1) // 4 AS v FROM documents),
         b AS (SELECT least(7, n_chars // 75) AS bin FROM documents
               WHERE doc_id < (SELECT v FROM q1)),
         c AS (SELECT least(7, n_chars // 75) AS bin FROM documents),
         cb AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bin),
         cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY bin),
         tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS tb,
                        (SELECT CAST(count(*) AS BIGINT) FROM c) AS tc),
         j AS (SELECT s.bin, coalesce(cb.n, 0) AS n_base,
                 coalesce(cc.n, 0) AS n_cur, tb, tc
               FROM (SELECT unnest(range(0, 8)) AS bin) s
               LEFT JOIN cb USING (bin) LEFT JOIN cc USING (bin)
               CROSS JOIN tot),
         t AS (SELECT bin, n_base, n_cur,
                 CAST(floor((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 8 AS DOUBLE)
                     - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE))
                   * ln((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 8 AS DOUBLE))
                     / (CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE)))
                   * 1e12) AS BIGINT) AS term_pico
               FROM j)
         SELECT bin, n_base, n_cur, term_pico,
                (SELECT CAST(sum(term_pico) AS BIGINT) FROM t) AS psi_pico,
                round((SELECT CAST(sum(term_pico) AS BIGINT) FROM t) / 1e12, 6)
                  AS psi
         FROM t ORDER BY bin""",
    // version 0 = the first doc_id quartile (the fixture's split
    // formula); smoothing, bin spine, and picounit floors replayed
    "q245_feature_drift" ->
      """WITH q1 AS (SELECT (max(doc_id) + 1) // 4 AS v FROM documents),
         b AS (SELECT least(7, n_chars // 75) AS bin FROM documents
               WHERE doc_id < (SELECT v FROM q1)),
         c AS (SELECT least(7, n_chars // 75) AS bin FROM documents),
         cb AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bin),
         cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY bin),
         tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS tb,
                        (SELECT CAST(count(*) AS BIGINT) FROM c) AS tc),
         j AS (SELECT s.bin, coalesce(cb.n, 0) AS n_base,
                 coalesce(cc.n, 0) AS n_cur, tb, tc
               FROM (SELECT unnest(range(0, 8)) AS bin) s
               LEFT JOIN cb USING (bin) LEFT JOIN cc USING (bin)
               CROSS JOIN tot),
         t AS (SELECT bin, n_base, n_cur,
                 CAST(floor((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 8 AS DOUBLE)
                     - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE))
                   * ln((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 8 AS DOUBLE))
                     / (CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE)))
                   * 1e12) AS BIGINT) AS term_pico
               FROM j)
         SELECT bin, n_base, n_cur, term_pico,
                (SELECT CAST(sum(term_pico) AS BIGINT) FROM t) AS psi_pico,
                round((SELECT CAST(sum(term_pico) AS BIGINT) FROM t) / 1e12, 6)
                  AS psi
         FROM t ORDER BY bin""",
    // χ² replayed with the same pivoted per-class columns and the same
    // pinned term order (de, en, es, fr, zh)
    "q241_chi2_feature_select" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token, lang
                      FROM documents),
         g AS (SELECT token,
                 CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS o_de,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS o_en,
                 CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS o_es,
                 CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS o_fr,
                 CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS o_zh
               FROM tok GROUP BY token),
         ct AS (SELECT CAST(sum(o_de) AS BIGINT) AS c_de,
                  CAST(sum(o_en) AS BIGINT) AS c_en,
                  CAST(sum(o_es) AS BIGINT) AS c_es,
                  CAST(sum(o_fr) AS BIGINT) AS c_fr,
                  CAST(sum(o_zh) AS BIGINT) AS c_zh
                FROM g),
         x AS (SELECT token, o_de, o_en, o_es, o_fr, o_zh,
                 o_de + o_en + o_es + o_fr + o_zh AS r,
                 c_de, c_en, c_es, c_fr, c_zh,
                 c_de + c_en + c_es + c_fr + c_zh AS n
               FROM g CROSS JOIN ct),
         e AS (SELECT token, r,
                 CAST(r AS DOUBLE) * CAST(c_de AS DOUBLE) / CAST(n AS DOUBLE) AS e_de,
                 CAST(r AS DOUBLE) * CAST(c_en AS DOUBLE) / CAST(n AS DOUBLE) AS e_en,
                 CAST(r AS DOUBLE) * CAST(c_es AS DOUBLE) / CAST(n AS DOUBLE) AS e_es,
                 CAST(r AS DOUBLE) * CAST(c_fr AS DOUBLE) / CAST(n AS DOUBLE) AS e_fr,
                 CAST(r AS DOUBLE) * CAST(c_zh AS DOUBLE) / CAST(n AS DOUBLE) AS e_zh,
                 CAST(o_de AS DOUBLE) AS f_de, CAST(o_en AS DOUBLE) AS f_en,
                 CAST(o_es AS DOUBLE) AS f_es, CAST(o_fr AS DOUBLE) AS f_fr,
                 CAST(o_zh AS DOUBLE) AS f_zh
               FROM x),
         c AS (SELECT token, r,
                 (f_de - e_de) * (f_de - e_de) / e_de
                 + (f_en - e_en) * (f_en - e_en) / e_en
                 + (f_es - e_es) * (f_es - e_es) / e_es
                 + (f_fr - e_fr) * (f_fr - e_fr) / e_fr
                 + (f_zh - e_zh) * (f_zh - e_zh) / e_zh AS chi2
               FROM e)
         SELECT token, CAST(r AS BIGINT) AS n_tok,
                CAST(floor(chi2 * 1e6) AS BIGINT) AS chi2_micro,
                round(chi2, 4) AS chi2
         FROM c ORDER BY chi2_micro DESC, token LIMIT 20""",
    "q136_triangle_count" ->
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                   SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
                 GROUP BY v),
         orient AS (SELECT
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN a ELSE b END AS src,
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN b ELSE a END AS dst,
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN db.deg
                           ELSE da.deg END AS dd
                    FROM und JOIN deg da ON und.a = da.v
                      JOIN deg db ON und.b = db.v),
         wedges AS (SELECT e1.u, e1.v, e2.w FROM
                      (SELECT src AS u, dst AS v, dd AS dv FROM orient) e1
                      JOIN (SELECT src AS u, dst AS w, dd AS dw FROM orient) e2
                        USING (u)
                    WHERE (e1.dv, e1.v) < (e2.dw, e2.w)),
         tri AS (SELECT u, v, w FROM wedges
                   JOIN orient o ON wedges.v = o.src AND wedges.w = o.dst),
         corners AS (SELECT unnest([u, v, w]) AS user_id FROM tri)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_triangles
         FROM corners GROUP BY user_id
         ORDER BY n_triangles DESC, user_id LIMIT 10""",
    // same top-100 cut (ties to token asc) and the closed-form OLS sums
    "q134_zipf_fit" ->
      """WITH toks AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
                       FROM documents),
         freqs AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
                   FROM toks WHERE tok <> '' GROUP BY tok),
         top AS (SELECT freq,
                   CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT)
                     AS rank
                 FROM (SELECT tok, freq FROM freqs
                       ORDER BY freq DESC, tok LIMIT 100)),
         pts AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
                   ln(CAST(freq AS DOUBLE)) AS y FROM top),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
                 sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx FROM pts)
         SELECT CAST(n AS BIGINT) AS n_points,
           round((n*sxy - sx*sy) / (n*sxx - sx*sx), 4) AS slope,
           round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 4)
             AS intercept
         FROM s""",
    // vocab/idf/weights/norms/centroids/cosine replayed with the same
    // rounding grid (w->6, norms->8, centroid->6, score->6)
    "q133_domain_classify" ->
      """WITH base AS (SELECT doc_id AS id, source AS cls, text FROM documents),
         toks AS (SELECT id, unnest(string_split_regex(lower(text), '\s+')) AS tok
                  FROM base),
         tk AS (SELECT id, tok FROM toks WHERE tok <> ''),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM base),
         dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
                 FROM (SELECT DISTINCT id, tok FROM tk) GROUP BY tok),
         vocab AS (SELECT tok, round(ln((n_total + 1) / (df + 1)) + 1.0, 6) AS idf
                   FROM (SELECT tok, df FROM dft ORDER BY df DESC, tok LIMIT 50), n),
         w AS (SELECT id, tk.tok, round(count(*) * idf, 6) AS w
               FROM tk JOIN vocab ON tk.tok = vocab.tok
               GROUP BY id, tk.tok, idf),
         dnorm AS (SELECT id, round(sqrt(sum(w*w)), 8) AS dn FROM w GROUP BY id),
         seeds AS (SELECT id, cls FROM (
                     SELECT id, cls,
                       row_number() OVER (PARTITION BY cls ORDER BY id) AS rn
                     FROM base) WHERE rn <= 10),
         sc AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_seed
                FROM seeds GROUP BY cls),
         cent AS (SELECT s.cls, w.tok,
                    round(sum(w.w / d.dn) / sc.n_seed, 6) AS cw
                  FROM w JOIN seeds s USING (id) JOIN dnorm d USING (id)
                    JOIN sc ON s.cls = sc.cls
                  GROUP BY s.cls, w.tok, sc.n_seed),
         cnorm AS (SELECT cls, round(sqrt(sum(cw*cw)), 8) AS cn
                   FROM cent GROUP BY cls),
         dots AS (SELECT w.id, c.cls, sum(w.w * c.cw) AS dot
                  FROM w JOIN cent c ON w.tok = c.tok GROUP BY w.id, c.cls),
         scored AS (SELECT dots.id, dots.cls,
                      round(dot / (dn * cn), 6) AS score
                    FROM dots JOIN dnorm USING (id)
                      JOIN cnorm ON dots.cls = cnorm.cls),
         pred AS (SELECT id, cls AS pred FROM (
                    SELECT id, cls,
                      row_number() OVER (PARTITION BY id
                        ORDER BY score DESC, cls) AS rn
                    FROM scored) WHERE rn = 1)
         SELECT b.cls AS source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p.pred IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_scored,
           CAST(sum(CASE WHEN p.pred = b.cls THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
         FROM base b LEFT JOIN pred p USING (id)
         GROUP BY b.cls""",
    // H = log2(n) - sum(c*log2(c))/n over per-char counts; the engine's
    // sorted-run fold visits exactly these run lengths
    "q132_char_entropy" ->
      """WITH chars AS (SELECT doc_id, unnest(string_split(text, '')) AS c
                        FROM documents),
         runs AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS cnt
                  FROM chars GROUP BY doc_id, c),
         tot AS (SELECT doc_id, sum(cnt) AS n FROM runs GROUP BY doc_id)
         SELECT r.doc_id,
           round(log2(t.n) - sum(r.cnt * log2(r.cnt)) / t.n, 4) AS entropy
         FROM runs r JOIN tot t USING (doc_id)
         GROUP BY r.doc_id, t.n""",
    // replays the 8 BPE fit rounds: per-round MATERIALIZED CTEs (plain
    // CTE inlining would duplicate the scan 4^8 times), sentinel-coded
    // words, adjacent-pair recount, (freq desc, l, r) argmax, literal
    // sentinel replace as the non-overlapping left-to-right merge pass
    "q123_bpe_merges" ->
      """WITH wf AS (
           SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
             SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
             FROM documents) WHERE w <> '' GROUP BY w),
         s0 AS MATERIALIZED (SELECT chr(1) ||
             array_to_string(string_split(w, ''), chr(2)||chr(1)) || chr(2) AS s,
             freq FROM wf),
         p1 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s0),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s1 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p1)||chr(2)||chr(1)||(SELECT r FROM p1)||chr(2),
             chr(1)||(SELECT l FROM p1)||(SELECT r FROM p1)||chr(2)) AS s, freq FROM s0),
         p2 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s1),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s2 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p2)||chr(2)||chr(1)||(SELECT r FROM p2)||chr(2),
             chr(1)||(SELECT l FROM p2)||(SELECT r FROM p2)||chr(2)) AS s, freq FROM s1),
         p3 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s2),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s3 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p3)||chr(2)||chr(1)||(SELECT r FROM p3)||chr(2),
             chr(1)||(SELECT l FROM p3)||(SELECT r FROM p3)||chr(2)) AS s, freq FROM s2),
         p4 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s3),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s4 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p4)||chr(2)||chr(1)||(SELECT r FROM p4)||chr(2),
             chr(1)||(SELECT l FROM p4)||(SELECT r FROM p4)||chr(2)) AS s, freq FROM s3),
         p5 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s4),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s5 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p5)||chr(2)||chr(1)||(SELECT r FROM p5)||chr(2),
             chr(1)||(SELECT l FROM p5)||(SELECT r FROM p5)||chr(2)) AS s, freq FROM s4),
         p6 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s5),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s6 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p6)||chr(2)||chr(1)||(SELECT r FROM p6)||chr(2),
             chr(1)||(SELECT l FROM p6)||(SELECT r FROM p6)||chr(2)) AS s, freq FROM s5),
         p7 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s6),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s7 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p7)||chr(2)||chr(1)||(SELECT r FROM p7)||chr(2),
             chr(1)||(SELECT l FROM p7)||(SELECT r FROM p7)||chr(2)) AS s, freq FROM s6),
         p8 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s7),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1)
         SELECT CAST(1 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p1
         UNION ALL SELECT CAST(2 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p2
         UNION ALL SELECT CAST(3 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p3
         UNION ALL SELECT CAST(4 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p4
         UNION ALL SELECT CAST(5 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p5
         UNION ALL SELECT CAST(6 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p6
         UNION ALL SELECT CAST(7 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p7
         UNION ALL SELECT CAST(8 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p8""",
    // sentinel-delimited words, eight literal replaces in merge-rank
    // order (replace IS the non-overlapping left-to-right merge pass),
    // then unwrap and count
    "q129_bpe_encode" ->
      """WITH w AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
                    FROM documents),
         ww AS (SELECT w FROM w WHERE w <> ''),
         s0 AS (SELECT chr(1) || array_to_string(string_split(w, ''),
                         chr(2) || chr(1)) || chr(2) AS s FROM ww),
         s1 AS (SELECT replace(s, chr(1)||'t'||chr(2)||chr(1)||'h'||chr(2),
                               chr(1)||'th'||chr(2)) AS s FROM s0),
         s2 AS (SELECT replace(s, chr(1)||'th'||chr(2)||chr(1)||'e'||chr(2),
                               chr(1)||'the'||chr(2)) AS s FROM s1),
         s3 AS (SELECT replace(s, chr(1)||'i'||chr(2)||chr(1)||'n'||chr(2),
                               chr(1)||'in'||chr(2)) AS s FROM s2),
         s4 AS (SELECT replace(s, chr(1)||'a'||chr(2)||chr(1)||'n'||chr(2),
                               chr(1)||'an'||chr(2)) AS s FROM s3),
         s5 AS (SELECT replace(s, chr(1)||'e'||chr(2)||chr(1)||'r'||chr(2),
                               chr(1)||'er'||chr(2)) AS s FROM s4),
         s6 AS (SELECT replace(s, chr(1)||'o'||chr(2)||chr(1)||'n'||chr(2),
                               chr(1)||'on'||chr(2)) AS s FROM s5),
         s7 AS (SELECT replace(s, chr(1)||'r'||chr(2)||chr(1)||'e'||chr(2),
                               chr(1)||'re'||chr(2)) AS s FROM s6),
         s8 AS (SELECT replace(s, chr(1)||'a'||chr(2)||chr(1)||'t'||chr(2),
                               chr(1)||'at'||chr(2)) AS s FROM s7),
         toks AS (SELECT unnest(string_split(trim(s, chr(1) || chr(2)),
                           chr(2) || chr(1))) AS token
                  FROM s8)
         SELECT token, CAST(count(*) AS BIGINT) AS cnt
         FROM toks GROUP BY token
         ORDER BY cnt DESC, token LIMIT 15""",
    // capacity 512 >= every per-lang count at the correctness SF: the
    // KLL sketch never compacts, so it reports percentile_disc exactly
    "q127_quantile_sketch" ->
      """SELECT lang,
           CAST(quantile_disc(CAST(n_chars AS DOUBLE), 0.25) AS DOUBLE) AS q25,
           CAST(quantile_disc(CAST(n_chars AS DOUBLE), 0.5) AS DOUBLE) AS q50,
           CAST(quantile_disc(CAST(n_chars AS DOUBLE), 0.75) AS DOUBLE) AS q75,
           CAST(quantile_disc(CAST(n_chars AS DOUBLE), 0.95) AS DOUBLE) AS q95
         FROM documents GROUP BY lang""",
    // capacity 512 > ~250 distinct keys: the MG counters are exact counts
    "q112_heavy_hitters" ->
      """SELECT item, cnt, rank FROM (
           SELECT l_returnflag || '|' || strftime(l_shipdate, '%Y-%m') AS item,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(row_number() OVER (
               ORDER BY count(*) DESC,
                 l_returnflag || '|' || strftime(l_shipdate, '%Y-%m'))
               AS BIGINT) AS rank
           FROM lineitem GROUP BY 1)
         WHERE rank <= 10""",
    "q70_cms_frequency" ->
      """WITH h(j, a, b) AS (VALUES (0, 824633720837 % 1000000007, 97),
                                    (1, 479001599, 179426549),
                                    (2, 715827883, 15485863)),
         cells AS (
           SELECT j, ((a * (user_id % 1000000007) + b) % 1000000007) % 512 AS bucket
           FROM events, h),
         sketch AS (SELECT j, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
         probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 10),
         pcells AS (
           SELECT user_id, j,
             ((a * (user_id % 1000000007) + b) % 1000000007) % 512 AS bucket
           FROM probes, h)
         SELECT user_id, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cms_estimate
         FROM pcells LEFT JOIN sketch USING (j, bucket)
         GROUP BY user_id""",
    "q71_pmi_cooccurrence" ->
      """WITH words AS (
           SELECT DISTINCT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
             FROM documents) t
           WHERE w <> ''),
         dfreq AS (SELECT w, count(*) AS df FROM words GROUP BY w),
         vocab AS (SELECT w, df FROM dfreq ORDER BY df DESC, w LIMIT 40),
         iv AS (SELECT words.doc_id, words.w, vocab.df
                FROM words JOIN vocab USING (w)),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         pairs AS (
           SELECT a.w AS word_a, b.w AS word_b, count(*) AS n_pair,
             min(a.df) AS dfa, min(b.df) AS dfb
           FROM iv a JOIN iv b ON a.doc_id = b.doc_id AND a.w < b.w
           GROUP BY 1, 2),
         r AS (SELECT word_a, word_b, n_pair,
             round(ln(CAST(n_pair AS DOUBLE) * n_docs /
               (CAST(dfa AS DOUBLE) * dfb)), 4) AS pmi,
             row_number() OVER (ORDER BY n_pair DESC, word_a, word_b) AS rn
           FROM pairs, n)
         SELECT word_a, word_b, n_pair, pmi FROM r WHERE rn <= 20""",
    "q50_contamination_screen" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         sh AS (SELECT doc_id, unnest(fset) AS sh FROM sets),
         bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20),
         hits AS (
           SELECT s.doc_id, count(*) AS n_shared
           FROM sh s JOIN bench b USING (sh)
           WHERE s.doc_id >= 20
           GROUP BY s.doc_id)
         SELECT doc_id, n_shared FROM hits WHERE n_shared >= 5""",
    "q48_stratified_sample" ->
      """WITH k AS (
           SELECT lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS b
           FROM documents)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE
             WHEN lang = 'en' AND b < '8000' THEN 1
             WHEN lang = 'de' AND b < '4000' THEN 1
             WHEN lang = 'fr' AND b < '2000' THEN 1
             WHEN lang NOT IN ('en','de','fr') AND b < '1000' THEN 1
             ELSE 0 END) AS BIGINT) AS n_sampled
         FROM k GROUP BY lang""",
    "q49_token_shards" ->
      """WITH d AS (
           SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         packed AS (
           SELECT source, n_tokens,
             CAST(floor(coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 5000.0)
               AS BIGINT) AS shard
           FROM d)
         SELECT source, shard, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
         FROM packed GROUP BY source, shard""",
    "q95_sequence_packing" ->
      """WITH d AS (
           SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         pos AS (
           SELECT source, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
           FROM d WHERE n_tokens > 0),
         spans AS (
           SELECT source, s, s + n_tokens AS e,
             CAST(floor(s / 2048.0) AS BIGINT) AS f,
             CAST(floor((s + n_tokens - 1) / 2048.0) AS BIGINT) AS l
           FROM pos),
         ex AS (
           SELECT source, s, e, f, l, unnest(generate_series(f, l)) AS seq_id
           FROM spans)
         SELECT source, seq_id, count(*) AS n_docs,
           CAST(sum(CASE WHEN f < l THEN 1 ELSE 0 END) AS BIGINT) AS n_fragments,
           CAST(sum(least(e, (seq_id + 1) * 2048) - greatest(s, seq_id * 2048)) AS BIGINT) AS seq_tokens
         FROM ex GROUP BY source, seq_id""",
    "q96_cdf_dv_changes" ->
      """SELECT n_nationkey, n_name, 'insert' AS change_type,
           CAST(0 AS BIGINT) AS commit_version FROM nation
         UNION ALL
         SELECT n_nationkey, n_name, 'delete', CAST(1 AS BIGINT)
         FROM nation WHERE n_regionkey = 2
         UNION ALL
         SELECT n_nationkey, n_name, 'delete', CAST(2 AS BIGINT)
         FROM nation WHERE n_regionkey > 2""",
    "q118_remote_dv_cdf" ->
      """SELECT n_nationkey, n_name, 'insert' AS change_type,
           CAST(0 AS BIGINT) AS commit_version FROM nation
         UNION ALL
         SELECT n_nationkey, n_name, 'delete', CAST(1 AS BIGINT)
         FROM nation WHERE n_regionkey = 2
         UNION ALL
         SELECT n_nationkey, n_name, 'delete', CAST(2 AS BIGINT)
         FROM nation WHERE n_regionkey > 2""",
    "q122_ngram_novelty" ->
      """WITH sets AS (SELECT doc_id, list_distinct(list_transform(
             range(0, greatest(length(text) - 5, 0) + 1),
             i -> substr(text, CAST(1 + i AS INT), 5))) AS fset
           FROM documents WHERE text IS NOT NULL),
         g AS (SELECT doc_id, unnest(fset) AS g FROM sets),
         df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY g)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           round(sum(CASE WHEN df = 1 THEN CAST(1 AS DOUBLE)
                          ELSE CAST(0 AS DOUBLE) END) / count(*), 4) AS novelty
         FROM g JOIN df USING (g) GROUP BY doc_id""",
    "q121_lm_quality" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
         idx AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks),
         pairs AS (SELECT doc_id,
                     CASE WHEN i = 1 THEN '<s>'
                          ELSE t[CAST(i - 1 AS INT)] END AS prev,
                     t[CAST(i AS INT)] AS cur
                   FROM idx),
         big AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS cbg
                 FROM pairs GROUP BY prev, cur),
         pref AS (SELECT prev, CAST(count(*) AS BIGINT) AS cp
                  FROM pairs GROUP BY prev),
         voc AS (SELECT CAST(count(DISTINCT cur) AS BIGINT) AS v FROM pairs),
         lp AS (SELECT doc_id,
                  ln((CAST(cbg AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
                     (CAST(cp AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(v AS DOUBLE))) AS lp
                FROM pairs JOIN big USING (prev, cur) JOIN pref USING (prev), voc)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(lp), 4) AS avg_logprob
         FROM lp GROUP BY doc_id""",
    "q120_kmeans_curation" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         seed AS (SELECT CAST(id AS INT) AS cluster, v FROM e ORDER BY id LIMIT 4),
         d1 AS (SELECT e.id, s.cluster,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i] - s.v[i]) * (e.v[i] - s.v[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM e, seed s),
         a1 AS (SELECT id, cluster FROM (
                  SELECT id, cluster,
                    row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
                  FROM d1) WHERE rn = 1),
         u AS (SELECT a1.cluster, dim.i AS dim,
                 round(round(sum(e.v[dim.i]), 4) / count(*), 6) AS m
               FROM a1 JOIN e USING (id)
                 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dim
               GROUP BY a1.cluster, dim.i),
         c2 AS (SELECT cluster, list(m ORDER BY dim) AS v FROM u GROUP BY cluster),
         d2 AS (SELECT e.id, c.cluster,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65),
                      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))),
                    (x, y) -> x + y), 8) AS d
                FROM e, c2 c),
         a2 AS (SELECT id, cluster FROM (
                  SELECT id, cluster,
                    row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
                  FROM d2) WHERE rn = 1),
         uf AS (SELECT a2.cluster, dim.i AS dim,
                  round(round(sum(e.v[dim.i]), 4) / count(*), 6) AS m
                FROM a2 JOIN e USING (id)
                  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dim
                GROUP BY a2.cluster, dim.i),
         cf AS (SELECT cluster, list(m ORDER BY dim) AS v FROM uf GROUP BY cluster),
         dist AS (SELECT a2.id, a2.cluster,
                    round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, 65),
                        i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))),
                      (x, y) -> x + y)), 6) AS dd
                  FROM a2 JOIN e USING (id) JOIN cf c ON a2.cluster = c.cluster)
         SELECT CAST(cluster AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n,
           round(avg(dd), 4) AS mean_dist
         FROM dist GROUP BY cluster""",
    "q119_hybrid_retrieval" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                      FROM documents),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS tot_dl FROM dl),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
                WHERE tok IN ('hash', 'join', 'spark') GROUP BY doc_id, tok),
         df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         scored AS (
           SELECT tf.doc_id, tf.tok,
             ln(CAST(1 AS DOUBLE) +
                (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
                (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
             * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1)) /
               (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                 (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) /
                   (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS contrib
           FROM tf, df, dl, stats
           WHERE tf.tok = df.tok AND tf.doc_id = dl.doc_id),
         summed AS (
           SELECT doc_id,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(contrib ORDER BY tok)), (a, b) -> a + b), 4) AS score
           FROM scored GROUP BY doc_id),
         bm AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_bm
                FROM (SELECT doc_id, score FROM summed
                      ORDER BY score DESC, doc_id LIMIT 20)),
         q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         cos AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS r_cos
                 FROM (SELECT e.vec_id AS doc_id,
                         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                           CAST(q.embedding AS DOUBLE[])) AS sim
                       FROM embeddings e, q
                       ORDER BY sim DESC, doc_id LIMIT 20))
         SELECT COALESCE(bm.doc_id, cos.doc_id) AS doc_id,
           round(COALESCE(CAST(1 AS DOUBLE) / (60 + r_bm), 0) +
                 COALESCE(CAST(1 AS DOUBLE) / (60 + r_cos), 0), 6) AS rrf
         FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 10""",
    "q46_column_mapping_scan" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
           round(CAST(sum(c_acctbal) AS DOUBLE), 0) AS total_acctbal
         FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
         GROUP BY c_mktsegment""",
    "q43_dedup_clusters" ->
      """WITH RECURSIVE sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         edges AS (
           SELECT u, v FROM pairs
           UNION SELECT v AS u, u AS v FROM pairs
           UNION SELECT u, u AS v FROM pairs
           UNION SELECT v AS u, v FROM pairs),
         reach AS (
           SELECT u AS n, v AS m FROM edges
           UNION
           SELECT r.n, e.v AS m FROM reach r JOIN edges e ON r.m = e.u)
         SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n""",
    "q126_dedup_report" ->
      """WITH RECURSIVE sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         edges AS (
           SELECT u, v FROM pairs
           UNION SELECT v AS u, u AS v FROM pairs
           UNION SELECT u, u AS v FROM pairs
           UNION SELECT v AS u, v FROM pairs),
         reach AS (
           SELECT u AS n, v AS m FROM edges
           UNION
           SELECT r.n, e.v AS m FROM reach r JOIN edges e ON r.m = e.u),
         comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
         best AS (SELECT doc_id FROM (
           SELECT c.doc_id,
             row_number() OVER (PARTITION BY c.component
               ORDER BY octet_length(encode(d.text)) DESC, c.doc_id) AS rn
           FROM comp c JOIN documents d USING (doc_id)) WHERE rn = 1),
         dropped AS (SELECT c.doc_id FROM comp c
                     WHERE c.doc_id NOT IN (SELECT doc_id FROM best))
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           round(sum(CASE WHEN dr.doc_id IS NOT NULL
                          THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) /
                 count(*), 4) AS dup_rate
         FROM documents d LEFT JOIN dropped dr USING (doc_id)
         GROUP BY source""",
    "q125_winnowing" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         h AS (SELECT doc_id,
                 list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                   i -> CAST(concat('0x',
                     substr(md5(substr(text, CAST(i AS INT), 5)), 1, 12)) AS BIGINT)) AS hs
               FROM d),
         s1 AS (SELECT doc_id, hs, len(hs) AS nh FROM h),
         fps AS (SELECT doc_id, hs,
                   list_sort(list_distinct(list_transform(
                     range(1, greatest(nh - 3, 1) + 1),
                     s -> list_reduce(
                            list_prepend({'fp': 9223372036854775807, 'pos': -1},
                              list_transform(range(0, least(4, nh)),
                                off -> {'fp': hs[CAST(s + off AS INT)],
                                        'pos': CAST(s + off AS INT)})),
                            (acc, x) -> CASE WHEN x.fp <= acc.fp
                                             THEN x ELSE acc END).pos))) AS sel
                 FROM s1)
         SELECT doc_id, CAST(len(sel) AS BIGINT) AS n_fps,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(sel, p -> hs[CAST(p AS INT)])), (a, b) -> a + b)
             AS BIGINT) AS fp_sum,
           CAST(sel[1] AS BIGINT) AS first_pos
         FROM fps""",
    "q124_dedup_keep_best" ->
      """WITH RECURSIVE sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         edges AS (
           SELECT u, v FROM pairs
           UNION SELECT v AS u, u AS v FROM pairs
           UNION SELECT u, u AS v FROM pairs
           UNION SELECT v AS u, v FROM pairs),
         reach AS (
           SELECT u AS n, v AS m FROM edges
           UNION
           SELECT r.n, e.v AS m FROM reach r JOIN edges e ON r.m = e.u),
         comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
         best AS (SELECT doc_id FROM (
           SELECT c.doc_id,
             row_number() OVER (PARTITION BY c.component
               ORDER BY octet_length(encode(d.text)) DESC, c.doc_id) AS rn
           FROM comp c JOIN documents d USING (doc_id)) WHERE rn = 1)
         SELECT d.doc_id, CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes
         FROM documents d
         WHERE d.doc_id NOT IN (
           SELECT c.doc_id FROM comp c
           WHERE c.doc_id NOT IN (SELECT doc_id FROM best))""",
    "q44_repetition_signals" ->
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents WHERE doc_id < 200),
         base AS (
           SELECT doc_id, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_uniq,
             CASE WHEN len(toks) >= 2 THEN
               1.0 - len(list_distinct(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])))::DOUBLE
                     / (len(toks) - 1)::DOUBLE
             ELSE 0.0 END AS dup_bg
           FROM d),
         tokc AS (
           SELECT doc_id, tok, count(*) AS c
           FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY doc_id, tok),
         top AS (SELECT doc_id, max(c) AS topc FROM tokc GROUP BY doc_id)
         SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           round(b.n_uniq::DOUBLE / b.n_tokens::DOUBLE, 4) AS uniq_ratio,
           round(t.topc::DOUBLE / b.n_tokens::DOUBLE, 4) AS top_token_frac,
           round(b.dup_bg, 4) AS dup_bigram_frac
         FROM base b JOIN top t USING (doc_id)""",
    // Final orders_cdf state = the two inserts (< 1999) minus the delete
    // (status F before 1996); the update touched only o_orderpriority, so
    // its pre/postimage legs cancel in every maintained column.
    "q72_cdf_incremental_agg" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
         FROM orders
         WHERE o_orderdate < TIMESTAMP '1999-01-01'
           AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')
         GROUP BY o_orderstatus""",
    "q73_bloom_semi_join" ->
      """SELECT l_returnflag, count(*) AS n_items,
           round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem
         WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
         GROUP BY l_returnflag""",
    "q74_token_chunks" ->
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents WHERE doc_id < 100),
         spans AS (
           SELECT doc_id, toks, len(toks) AS n,
             unnest(range(0, len(toks), 24)) AS start
           FROM d)
         SELECT doc_id, CAST(start / 24 AS BIGINT) AS chunk_idx,
           CAST(least(32, n - start) AS BIGINT) AS n_tok,
           toks[CAST(start AS INT) + 1] AS first_tok
         FROM spans""",
    "q80_stratified_weighted_sample" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM (
           SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY
               -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                         AS BIGINT) + 1.0) / power(16.0, 13))
                 / CAST(n_chars AS DOUBLE)) AS rk
           FROM documents)
         WHERE rk <= 10""",
    "q79_weighted_sample" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM (
           SELECT doc_id, n_chars,
             -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                       AS BIGINT) + 1.0) / power(16.0, 13))
               / CAST(n_chars AS DOUBLE) AS race
           FROM documents)
         ORDER BY race LIMIT 50""",
    "q78_compacted_scan" ->
      """WITH t AS (
           SELECT s_nationkey, s_acctbal FROM supplier
           UNION ALL
           SELECT s_nationkey, s_acctbal * 0.5 FROM supplier)
         SELECT s_nationkey, count(*) AS n_suppliers,
           CAST(sum(CAST(round(s_acctbal * 1000) AS BIGINT)) AS BIGINT) AS total_bal_mils
         FROM t GROUP BY s_nationkey""",
    "q77_sql_catalog" ->
      """SELECT l_linestatus, count(*) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem WHERE l_orderkey < 500
         GROUP BY l_linestatus""",
    "q76_event_pagerank" ->
      """WITH steps AS (
           SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
                  event_type AS dst
           FROM events),
         edges AS (
           SELECT src, dst,
             count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY src) AS p
           FROM steps WHERE src IS NOT NULL GROUP BY src, dst),
         nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
         r1 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM edges e JOIN r0 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node)),
         r2 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM edges e JOIN r1 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node)),
         r3 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM edges e JOIN r2 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node))
         SELECT node AS event_type, round(rank, 6) AS rank FROM r3""",
    "q75_unigram_surprisal" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
         total AS (SELECT sum(tf) AS total FROM freq)
         SELECT t.doc_id, count(*) AS n_tokens,
           round(avg(-ln(f.tf::DOUBLE / total.total::DOUBLE)), 3) AS surprisal
         FROM toks t JOIN freq f USING (tok) CROSS JOIN total
         GROUP BY t.doc_id""",
    // restore to v0 ⇒ the scan equals the raw supplier projection
    "q97_restore_scan" ->
      """SELECT s_nationkey, count(*) AS n_supp,
         CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM supplier GROUP BY 1""",
    // the clone references the source lineitem files ⇒ same rows
    "q98_shallow_clone_scan" ->
      """SELECT l_returnflag, count(*) AS n_items,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1""",
    // create(even keys) + valid append(odd keys) = all customers; the
    // violating batch commits nothing
    "q99_check_constraints" ->
      """SELECT c_nationkey, count(*) AS n_cust,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM customer GROUP BY 1""",
    // per-rule replay: same token split, regex, and mean-word-length math
    "q107_c4_filter" ->
      """WITH f AS (
           SELECT doc_id,
             len(string_split(text, ' ')) AS nw,
             length(text) AS nc,
             regexp_matches(text, '[.!?"'']$') AS tp,
             NOT contains(text, '{') AS ncb,
             NOT contains(lower(text), 'lorem ipsum') AS nli
           FROM documents),
         r AS (
           SELECT doc_id,
             nw >= 5 AS p_min, nw <= 100000 AS p_max, tp AS p_tp,
             ncb AS p_ncb, nli AS p_nli,
             ((nc - (nw - 1))::DOUBLE / nw) >= 2.0 AND
               ((nc - (nw - 1))::DOUBLE / nw) <= 12.0 AS p_mwl
           FROM f)
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p_min AND p_max AND p_tp AND p_ncb AND p_nli
                         AND p_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN NOT p_min THEN 1 ELSE 0 END) AS BIGINT) AS fail_min_words,
           CAST(sum(CASE WHEN NOT p_max THEN 1 ELSE 0 END) AS BIGINT) AS fail_max_words,
           CAST(sum(CASE WHEN NOT p_tp THEN 1 ELSE 0 END) AS BIGINT) AS fail_terminal_punct,
           CAST(sum(CASE WHEN NOT p_ncb THEN 1 ELSE 0 END) AS BIGINT) AS fail_no_curly_brace,
           CAST(sum(CASE WHEN NOT p_nli THEN 1 ELSE 0 END) AS BIGINT) AS fail_no_lorem_ipsum,
           CAST(sum(CASE WHEN NOT p_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len
         FROM r""",
    // non-R rows unchanged, R rows replaced by their +100 counterparts
    "q106_replace_where" ->
      """SELECT l_returnflag, count(*) AS n_items,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity + 100
                       ELSE l_quantity END) AS BIGINT) AS sum_qty
         FROM lineitem GROUP BY 1""",
    // the four row generations: base rows backfilled by the frozen
    // exists default, a partial append under the original defaults, an
    // explicit append, and a partial append after SET DEFAULT risk=9
    "q108_column_defaults" ->
      """WITH rows AS (
           SELECT 'standard' AS priority_class, 3 AS risk, o_totalprice FROM orders
           UNION ALL
           SELECT 'standard', 3, o_totalprice FROM orders WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT 'high', CAST((o_orderkey + 60000000) % 5 AS INT), o_totalprice
           FROM orders WHERE o_orderkey % 11 = 0
           UNION ALL
           SELECT 'standard', 9, o_totalprice FROM orders WHERE o_orderkey % 13 = 0)
         SELECT priority_class, risk, count(*) AS n_rows,
           CAST(round(sum(o_totalprice), 0) AS BIGINT) AS sum_price
         FROM rows GROUP BY 1, 2""",
    // same quota arithmetic (pow/round on doubles) and the same
    // content-addressed draw ordering (13-hex-char md5 uniform)
    "q115_temperature_mix" ->
      """WITH counts AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
                         FROM documents GROUP BY 1),
         w AS (SELECT source, pow(n, 0.5) AS w FROM counts),
         z AS (SELECT sum(w) AS z FROM w),
         quota AS (SELECT source, CAST(round(300 * w / z) AS BIGINT) AS q
                   FROM w, z),
         ranked AS (
           SELECT d.doc_id, d.source, q.q,
             row_number() OVER (PARTITION BY d.source ORDER BY
               (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT
                 + 1.0) / 4503599627370496.0,
               d.doc_id) AS rk
           FROM documents d JOIN quota q USING (source))
         SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM ranked WHERE rk <= q GROUP BY 1""",
    // both generations (base + the %5 append); layout-only reclustering
    // never changes content
    "q113_incremental_cluster" ->
      """WITH rows AS (
           SELECT o_custkey, CAST(floor(o_totalprice) AS BIGINT) AS price
           FROM orders
           UNION ALL
           SELECT o_custkey, CAST(floor(o_totalprice) AS BIGINT)
           FROM orders WHERE o_orderkey % 5 = 0)
         SELECT count(*) AS n_rows, CAST(sum(price) AS BIGINT) AS sum_price,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
         FROM rows WHERE price >= 50000 AND o_custkey >= 100""",
    // variant_get extraction inverts the to_json construction exactly
    "q109_variant_extract" ->
      """SELECT lang, source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY 1, 2""",
    // both generations: narrow ints and the +100 wide append
    "q110_type_widening" ->
      """WITH rows AS (
           SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qty
           FROM lineitem
           UNION ALL
           SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) + 100
           FROM lineitem)
         SELECT l_returnflag, count(*) AS n_rows,
           CAST(sum(qty) AS BIGINT) AS sum_qty
         FROM rows WHERE qty >= 1 GROUP BY 1""",
    // same md5 permutation key, bucket, and rank in SQL
    "q105_epoch_shuffle" ->
      """WITH keyed AS (
           SELECT doc_id,
             md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS k,
             ('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 8 AS shard
           FROM documents)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
         FROM keyed""",
    // per-character replay of the removal set: a char survives iff no
    // covering 50-gram occurrence is a duplicated non-first occurrence
    "q104_exact_substring_dedup" ->
      """WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents),
         grams AS (
           SELECT doc_id, i AS pos, md5(substr(text, CAST(i + 1 AS INT), 50)) AS g
           FROM base, UNNEST(generate_series(0, n - 50)) AS u(i)
           WHERE n >= 50),
         marked AS (
           SELECT doc_id, pos,
             count(*) OVER (PARTITION BY g) AS c,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk
           FROM grams),
         removals AS (SELECT doc_id, pos FROM marked WHERE c > 1 AND rk > 1),
         chars AS (
           SELECT b.doc_id, i AS p, substr(b.text, CAST(i + 1 AS INT), 1) AS ch
           FROM base b, UNNEST(generate_series(0, b.n - 1)) AS u(i)
           WHERE b.n > 0),
         kept AS (
           SELECT c.doc_id, c.p, c.ch
           FROM chars c LEFT JOIN removals r
             ON r.doc_id = c.doc_id AND r.pos BETWEEN c.p - 49 AND c.p
           GROUP BY c.doc_id, c.p, c.ch
           HAVING count(r.pos) = 0),
         agg AS (
           SELECT doc_id, string_agg(ch, '' ORDER BY p) AS cleaned
           FROM kept GROUP BY doc_id)
         SELECT b.doc_id, coalesce(a.cleaned, '') AS cleaned,
           CAST(b.n - length(coalesce(a.cleaned, '')) AS BIGINT) AS removed_chars
         FROM base b LEFT JOIN agg a USING (doc_id)""",
    // the identity allocation (sorted single-partition batches) and the
    // generated column replay exactly as rank arithmetic
    "q103_generated_identity" ->
      """WITH src AS (
           SELECT c_custkey, c_acctbal,
             row_number() OVER (ORDER BY c_custkey) - 1 AS rn
           FROM customer)
         SELECT CAST(1000 + 2 * rn AS BIGINT) AS id, c_custkey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
         FROM src""",
    // the Hilbert recluster is layout-only: the filtered aggregate equals
    // the plain-lineitem oracle
    "q102_clustered_scan" ->
      """SELECT l_suppkey, count(*) AS n_items,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice), 0) AS sum_price
         FROM lineitem
         WHERE l_partkey < 200 AND l_suppkey < 50
         GROUP BY 1""",
    // row ids were assigned in o_orderkey order at create (v0); the DV
    // delete and the compaction must both leave them untouched
    "q101_row_tracking" ->
      """WITH src AS (
           SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
           FROM orders WHERE o_orderkey <= 2000)
         SELECT o_orderkey, rid AS _row_id,
           CAST(0 AS BIGINT) AS _row_commit_version
         FROM src WHERE o_orderkey % 7 <> 0""",
    // replay of the hashed-unigram importance models: same md5 buckets,
    // same add-one smoothing, same (rounded score, id) selection order
    "q100_importance_resample" ->
      """WITH b AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1024 AS b
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents)),
         tt AS (SELECT b.b, count(*) AS t FROM b
                JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY 1),
         cc AS (SELECT b, count(*) AS c FROM b GROUP BY 1),
         tot AS (SELECT
             (SELECT count(*) FROM b JOIN documents d USING (doc_id)
              WHERE d.lang = 'en') AS ttot,
             (SELECT count(*) FROM b) AS ctot),
         dom AS (SELECT range AS b FROM range(1024)),
         lr AS (SELECT dom.b,
             ln((COALESCE(tt.t, 0) + 1.0) / (tot.ttot + 1024)) -
             ln((COALESCE(cc.c, 0) + 1.0) / (tot.ctot + 1024)) AS lr
           FROM dom CROSS JOIN tot
           LEFT JOIN tt ON dom.b = tt.b
           LEFT JOIN cc ON dom.b = cc.b)
         SELECT doc_id, score FROM (
           SELECT b.doc_id, round(avg(lr.lr), 3) AS score
           FROM b JOIN lr ON b.b = lr.b GROUP BY 1)
         ORDER BY score DESC, doc_id LIMIT 50"""
  )

  /** Expected per-change-type counts of the orders_cdf fixture history
    * (insert/insert/delete/update commits derived from `orders`), shared
    * by the three CDF queries (programmatic API, DataSource option,
    * streaming).
    */
  private val cdfOracle: String =
    """SELECT 'insert' AS _change_type, count(*) AS n FROM orders
         WHERE o_orderdate < TIMESTAMP '1999-01-01'
       UNION ALL
       SELECT 'delete', count(*) FROM orders
         WHERE o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01'
       UNION ALL
       SELECT 'update_preimage', count(*) FROM orders
         WHERE o_totalprice > 400000 AND o_orderdate < TIMESTAMP '1999-01-01'
           AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')
       UNION ALL
       SELECT 'update_postimage', count(*) FROM orders
         WHERE o_totalprice > 400000 AND o_orderdate < TIMESTAMP '1999-01-01'
           AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')"""
}
