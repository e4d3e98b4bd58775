package graft.perfbench

import scala.collection.mutable

import graft.model.JsonUtils

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --inputs <dir> --work <dir> --record <file>
  * Main --selftest <dir> --seed <n>
  * }}}
  *
  * A run writes one JSON record (generic end-to-end figures, the
  * workload's named figures, layer figures when traced, the effective
  * Spark conf and JVM GC time) and, when traced, its spans beside it.
  */
object Main {
  /** The first two are the ones `BENCHMARK.json` lists; the others run by
    * hand with the same command.
    */
  val Workloads = Seq("share_meta", "recipient", "commit_follow", "llm_pipeline")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.contains("selftest")) { selfTest(kv("selftest"), kv("seed").toLong); return }
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("inputs"), kv("work"), kv("record"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    Trace.enabled = a.trace
    Clock.phase("start")
    val gc0 = Jvm.gcMs()
    val (out, sparkConf) = a.workload match {
      case "share_meta" => (ShareMeta.run(a), Map.empty[String, String])
      case w =>
        val spark = Sessions.spark(a.work)
        try {
          val o = w match {
            case "recipient" => Recipient.run(spark, a)
            case "commit_follow" => CommitFollow.run(spark, a)
            case "llm_pipeline" => LlmPipeline.run(spark, a)
          }
          (o, spark.conf.getAll)
        } finally spark.stop()
    }
    Clock.phase("measured phase done")
    val e2e = Map(
      "ops_per_s" -> out.opsPerS,
      "op_p50_ms" -> out.opP50Ms,
      "op_tail_ms" -> out.opTailMs,
      "setup_s" -> out.setupS,
      "setup_cpu_s" -> Clock.setupCpuS,
      "cpu_ms_per_op" -> out.cpuMsPerOp,
      "heap_retained_mb" -> out.heapMb)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "attempted" -> out.attempted, "failed" -> out.failed,
      "correct" -> out.correct, "samples" -> out.samples,
      "tail_level" -> out.tailLevel, "measured_s" -> out.measuredS,
      "e2e" -> e2e, "detail" -> out.detail, "layers" -> out.layers,
      "jvm_gc_ms" -> (Jvm.gcMs() - gc0), "spark_conf" -> sparkConf)
    if (a.trace) {
      Trace.write(a.record.stripSuffix(".json") + ".spans.jsonl")
      record("spans") = Trace.all.size
    }
    val w = new java.io.PrintWriter(a.record, "UTF-8")
    try w.println(JsonUtils.toJson(record.toMap)) finally w.close()
  }

  /** The same seed must give byte-identical generated inputs and another
    * seed different ones; prints one JSON line and fails on a mismatch.
    * (The parquet inputs are staged, and checked, by `run.py`.)
    */
  private def selfTest(dir: String, seed: Long): Unit = {
    def digests(s: Long, tag: String): Map[String, String] = Map(
      "share_meta" -> ShareMeta.inputsDigest(s, s"$dir/$tag"),
      "commit_follow" -> CommitFollow.inputsDigest(s, s"$dir/$tag"),
      "recipient" -> Recipient.inputsDigest(s, s"$dir/$tag"))
    val a = digests(seed, "a")
    val b = digests(seed, "b")
    val c = digests(seed + 1, "c")
    val same = a == b
    val differ = a.keys.forall(k => a(k) != c(k))
    println(JsonUtils.toJson(Map("same_seed_identical" -> same,
      "other_seed_differs" -> differ, "digests" -> a)))
    if (!same || !differ) sys.exit(1)
  }
}
