package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `llm_pipeline`: a fixed list of `SparkEntry` queries over the seeded
  * input tables, each written to the noop sink and run cold the way
  * `graft.Bench` runs them. No share, REST or log layer runs, so this is
  * the control for metadata changes.
  */
object LlmPipeline {
  val Queries = Seq("q03_star_join_revenue", "q35_ngram_jaccard_dedup",
    "q93_minhash_lsh_near_dup", "q191_kn_trigram", "q192_curation_datacard",
    "q236_neighborhood_function")

  /** (rows, order-insensitive content hash) of each query's answer on the
    * base tables, whose answers match the DuckDB oracle bit-exactly
    * (`graft.Verify` + `tools/check.py --strict` at sf0.01). Every seed only
    * reorders and re-splits the base rows, so every seed must reproduce them.
    */
  val Pinned: Map[String, (Long, Long)] = Map(
    "q03_star_join_revenue" -> (5L, 1097940238184L),
    "q35_ngram_jaccard_dedup" -> (25L, -1642679276666L),
    "q93_minhash_lsh_near_dup" -> (25L, 973388483941L),
    "q191_kn_trigram" -> (20L, 1139537510223L),
    "q192_curation_datacard" -> (9L, -360008197442L),
    "q236_neighborhood_function" -> (5L, 169186424436L))

  /** Row count and an order-insensitive hash of `df`'s rows. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val h = shiftright(xxhash64(df.columns.map(c => col(s"`$c`")): _*), 24)
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def cold(spark: SparkSession): Unit = {
    graft.ops.Dedup.releasePersisted()
    spark.catalog.clearCache()
  }

  private def noop(spark: SparkSession, q: String, dir: String): Unit = {
    cold(spark)
    spark.sparkContext.setJobDescription(q)
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
  }

  /** Row count and content hash of query `q`'s answer, run cold. */
  def answer(spark: SparkSession, q: String, dir: String): (Long, Long) = {
    cold(spark)
    fingerprint(SparkEntry.queries(q)(spark, dir))
  }

  private def verify(spark: SparkSession, dir: String): Map[String, (Long, Long)] =
    Queries.map(q => q -> answer(spark, q, dir)).toMap

  def run(spark: SparkSession, a: Args): Outcome = {
    // set-up, three times: read and digest every input table
    val tables = Seq("lineitem", "orders", "customer", "supplier", "nation", "region",
      "documents", "events")
    val (setupS, _) = Clock.medianOf(3) { _ =>
      tables.map(t => fingerprint(spark.read.parquet(s"${a.inputs}/$t.parquet")))
    }
    Clock.phase("set-up done")
    // warm-up: one verified pass pays class loading, JIT and codegen
    val (warmMs, warmAnswers) = Clock.timeMs(verify(spark, a.inputs))
    Queries.foreach(q => noop(spark, q, a.inputs))

    Clock.phase("warm-up done")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val gc0 = Jvm.gcMs()
    val perQuery = scala.collection.mutable.Map.empty[String, Seq[(Double, Double)]]
    val passMs = Seq.newBuilder[Double]
    val lat = Seq.newBuilder[Double]
    var attempted = 0L
    var failed = 0L
    val cpu0 = Jvm.cpuNs()
    val t0 = System.nanoTime()
    val end = t0 + a.seconds * 1000000000L
    while (System.nanoTime() < end) {
      val pass = Trace.newRequest()
      passMs += Clock.timeMs(Trace.span("pipeline.pass", pass) {
        Queries.foreach { q =>
          val cpu0 = counters.cpuNs.get
          val (ms, ok) = Clock.timeMs {
            try { Trace.span(s"ops.$q", pass)(noop(spark, q, a.inputs)); true }
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"llm_pipeline: $q failed: $e"); false }
          }
          attempted += 1
          if (!ok) failed += 1
          lat += ms
          perQuery(q) = perQuery.getOrElse(q, Nil) :+ (ms, (counters.cpuNs.get - cpu0) / 1e9)
        }
      })._1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Jvm.cpuNs() - cpu0) / 1e9
    spark.sparkContext.removeSparkListener(counters)
    val sparkLayer = counters.layer(Jvm.gcMs() - gc0)
    // answers: the warm-up pass and one pass after the measured phase
    val after = verify(spark, a.inputs)
    val wrong = Queries.filter(q => Pinned.get(q).exists(p => warmAnswers(q) != p || after(q) != p))
    val unpinned = Queries.filterNot(Pinned.contains)
    wrong.foreach(q => System.err.println(
      s"llm_pipeline: $q answered ${warmAnswers(q)} / ${after(q)}, pinned ${Pinned(q)}"))
    val detail = Map(
      "pipeline_s" -> Stats.median(passMs.result()) / 1000.0,
      "warmup_s" -> warmMs / 1000.0,
      "passes" -> passMs.result().size.toDouble) ++
      perQuery.flatMap { case (q, xs) =>
        Seq(s"ops.${q}_s" -> Stats.median(xs.map(_._1)) / 1000.0,
          s"ops.${q}_cpu_s" -> Stats.median(xs.map(_._2)))
      }
    val heapMb = Jvm.retainedHeapMb()
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else sparkLayer
    if (unpinned.nonEmpty) System.err.println(
      s"llm_pipeline: no pinned answer for ${unpinned.mkString(",")}: " +
        unpinned.map(q => s""""$q" -> (${after(q)._1}L, ${after(q)._2}L)""").mkString(", "))
    val latencies = lat.result()
    Outcome(attempted, failed + wrong.size, failed == 0 && wrong.isEmpty && unpinned.isEmpty,
      attempted / measuredS, setupS, cpuS * 1000 / attempted, Stats.median(latencies),
      Stats.tail(latencies, 0.95), Stats.tailLevel(latencies.size, 0.95), latencies.size,
      measuredS, heapMb, detail, layers)
  }
}
