package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.log.{GraftCatalog, GraftLog, TableBuilder}
import graft.model._
import graft.server.{GraftServer, ServerConfig}

/** `commit_follow`: a provider appends beside a remote streaming recipient
  * on one table. The table starts with a seeded 10,000-file history (100
  * versions, metadata only); the provider then appends 2,000 real rows
  * stamped with a sequence number, and a `readStream.format("graft")`
  * recipient records when each sequence number arrives. The loop is
  * closed: the next commit starts when the stream has delivered the last
  * one. (On an open loop the commits queue behind one another whenever the
  * host slows, and the queue, not the system, sets the latency.) An
  * operation, a commit and its delivery, takes about 0.7 s at 4 cores, so
  * a window of s seconds holds about 1.4 s of them, one in ten writing a
  * checkpoint; fewer than 20 samples leave no ten beyond any percentile
  * above the median, so `op_tail_ms` here is the median and the
  * checkpoint's cost shows in `log.checkpoint_commit_ms`.
  */
object CommitFollow {
  val HistoryVersions = 100
  val HistoryFilesPerVersion = 100
  val RowsPerCommit = 2000
  val Token = "perfbench"
  val Table = "follow"
  val Fqn = s"share1.default.$Table"

  val schema: StructType = StructType(Seq(
    StructField("seq", LongType), StructField("row", LongType),
    StructField("payload", StringType)))

  /** The seeded metadata-only history: 100 versions of 100 AddFiles. */
  def historyActions(seed: Long, v: Int): Seq[Action] = {
    val rng = new scala.util.Random(seed * 7919L + v)
    val files = (0 until HistoryFilesPerVersion).map { j =>
      val n = 1000L + rng.nextInt(9000)
      AddFile(
        path = f"history/v$v%03d-$j%03d.parquet",
        size = 10000L + rng.nextInt(90000),
        modificationTime = 1700000000000L + v,
        stats = Some(FileStats(numRecords = n,
          minValues = Map("seq" -> (-1 - v).toString, "row" -> "0"),
          maxValues = Map("seq" -> (-1 - v).toString, "row" -> (n - 1).toString),
          nullCount = Map("seq" -> 0L, "row" -> 0L, "payload" -> 0L))),
        version = v,
        timestamp = 1700000000000L + v * 1000L)
    }
    if (v == 0)
      Seq(Protocol(), Metadata(id = "perfbench-follow", name = Table,
        schemaString = schema.json)) ++ files
    else files
  }

  def writeHistory(seed: Long, path: String, conf: Configuration,
      versions: Int = HistoryVersions): Unit = {
    Jvm.rmrf(new java.io.File(path))
    Counters.invalidate(path)
    (0 until versions).foreach(v => GraftLog.commit(path, v, historyActions(seed, v), conf))
  }

  /** The rows of commit `seq`; the payload is seeded. */
  def payload(seed: Long, seq: Long): Seq[Row] = {
    val rng = new scala.util.Random(seed * 1000003L + seq)
    (0 until RowsPerCommit).map { r =>
      Row(seq, r.toLong, java.lang.Long.toHexString(rng.nextLong()))
    }
  }

  def inputsDigest(seed: Long, dir: String): String = {
    val path = s"$dir/follow"
    writeHistory(seed, path, new Configuration())
    Digest.files(new java.io.File(path)) +
      Digest.string((0 until 5).flatMap(s => payload(seed, s)).mkString("\n"))
  }

  def append(spark: SparkSession, path: String, seed: Long, seq: Long): Long = {
    val df = spark.createDataFrame(payload(seed, seq).asJava, schema)
    TableBuilder.append(spark, df, path, timestamp = System.currentTimeMillis())
  }

  def checkpointFiles(path: String): Int =
    Option(new java.io.File(s"$path/${GraftLog.LOG_DIR}").listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".checkpoint.json"))

  def run(spark: SparkSession, a: Args): Outcome = {
    val conf = spark.sessionState.newHadoopConf()
    val path = s"${a.work}/follow"
    val (setupS, _) = Clock.medianOf(3) { _ =>
      writeHistory(a.seed, path, conf)
      new GraftLog(path, conf).snapshot(None).files.size
    }
    Clock.phase("set-up done")
    GraftCatalog.register(Fqn, path)
    val server = new GraftServer(ServerConfig(bearerToken = Some(Token)), conf).start()
    try measure(spark, a, path, server, setupS)
    finally { server.stop(); GraftCatalog.unregister(Fqn) }
  }

  private case class Batch(id: Long, endNs: Long, rows: Map[Long, Long])

  private def measure(spark: SparkSession, a: Args, path: String, server: GraftServer,
      setupS: Double): Outcome = {
    // warm-up commits carry negative sequence numbers
    val warmSeqs = (-6L to -1L)
    append(spark, path, a.seed, warmSeqs.head)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    }
    spark.streams.addListener(listener)
    val stream = spark.readStream.format("graft")
      .option("url", server.url).option("token", Token).option("table", Fqn)
      .option("startingVersion", HistoryVersions.toString)
      .option("queryTableVersionIntervalSeconds", "0")
      .load()
    val foreach: (DataFrame, Long) => Unit = (df, id) => {
      Trace.span("streaming.batch", id) {
        val rows = Trace.span("spark.collect", id) {
          df.groupBy(col("seq")).count().collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        batches.add(Batch(id, System.nanoTime(), rows))
      }
    }
    val query = stream.writeStream
      .option("checkpointLocation", s"${a.work}/follow-checkpoint")
      .foreachBatch(foreach)
      .start()
    try {
      def seen(): Map[Long, Long] = batches.asScala.toSeq.flatMap(_.rows)
        .groupMapReduce(_._1)(_._2)(_ + _)
      def await(seqs: Set[Long], timeoutMs: Long): Boolean = {
        val end = System.currentTimeMillis() + timeoutMs
        while (!seqs.subsetOf(seen().keySet) && System.currentTimeMillis() < end)
          Thread.sleep(5)
        seqs.subsetOf(seen().keySet)
      }
      warmSeqs.tail.foreach(s => append(spark, path, a.seed, s))
      require(await(warmSeqs.toSet, 60000), "warm-up commits never reached the stream")

      Clock.phase("warm-up done")
      val counters = new SparkCounters
      spark.sparkContext.addSparkListener(counters)
      val gc0 = Jvm.gcMs()
      val signs0 = Counters.signs(server)
      val ckpt0 = checkpointFiles(path)
      val progress0 = progress.size
      val batches0 = batches.size
      /** One operation: commit `seq` (`version`) from `startNs` to
        * `committedNs`, delivered at `arrivedNs` (0 if never), and the JVM
        * CPU time it took.
        */
      case class Op(seq: Long, version: Long, startNs: Long, committedNs: Long, arrivedNs: Long,
          cpuMs: Double)
      // closed loop: commit k, wait until the stream has delivered it, go on
      val t0 = System.nanoTime()
      val end = t0 + a.seconds * 1000000000L
      val ops = Seq.newBuilder[Op]
      var k = 0L
      var delivered = true
      while (delivered && System.nanoTime() < end) {
        val cpu0 = Jvm.cpuNs()
        val start = System.nanoTime()
        val v = Trace.span("log.append", k)(append(spark, path, a.seed, k))
        val committed = System.nanoTime()
        delivered = await(Set(k), 60000)
        val arrived = if (delivered) batches.asScala.find(_.rows.contains(k)).get.endNs else 0L
        ops += Op(k, v, start, committed, arrived, (Jvm.cpuNs() - cpu0) / 1e6)
        k += 1
      }
      val measuredS = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(counters)
      val sparkLayer = counters.layer(Jvm.gcMs() - gc0)
      val done = ops.result()
      val n = done.size

      val measured = batches.asScala.toSeq.drop(batches0)
      val counts = seen()
      val okSeq = done.map { op =>
        op.arrivedNs > 0 && counts.get(op.seq).contains(RowsPerCommit.toLong) &&
          measured.count(_.rows.contains(op.seq)) == 1
      }
      val stray = counts.keySet -- done.map(_.seq) -- warmSeqs
      val failed = okSeq.count(!_) + stray.size
      val delivery = done.filter(_.arrivedNs > 0)
      val opMs = delivery.map(op => (op.arrivedNs - op.startNs) / 1e6)
      val commitMs = done.map(op => (op.committedNs - op.startNs) / 1e6)
      val lagMs = delivery.map(op => (op.arrivedNs - op.committedNs) / 1e6)
      val detail = Map(
        "commit_p50_ms" -> Stats.median(commitMs),
        "commit_p95_ms" -> Stats.tail(commitMs, 0.95),
        "follow_lag_p50_ms" -> (if (lagMs.isEmpty) 0.0 else Stats.median(lagMs)),
        "follow_lag_p95_ms" -> (if (lagMs.isEmpty) 0.0 else Stats.tail(lagMs, 0.95)),
        "commits" -> n.toDouble)
      val heapMb = Jvm.retainedHeapMb()

      val layers =
        if (!a.trace) Map.empty[String, Double]
        else {
          val ps = progress.asScala.toSeq.drop(progress0)
          val nonEmpty = ps.filter(_.numInputRows > 0)
          def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
            Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
          val cpCommits = done.filter(_.version % GraftLog.CHECKPOINT_INTERVAL == 0)
            .map(op => (op.committedNs - op.startNs) / 1e6)
          val replay = (0 until 5).map { _ =>
            Clock.timeMs(Trace.span("log.append_replay", -1L)(
              new GraftLog(path, spark.sessionState.newHadoopConf()).snapshot(None)))._1
          }
          sparkLayer ++ Map(
            "log.append_replay_ms" -> Stats.median(replay),
            "log.checkpoints" -> (checkpointFiles(path) - ckpt0).toDouble,
            "log.checkpoint_commit_ms" -> (if (cpCommits.isEmpty) 0.0 else Stats.median(cpCommits)),
            "streaming.triggers" -> ps.size.toDouble,
            "streaming.empty_trigger_ratio" ->
              (if (ps.isEmpty) 0.0 else (ps.size - nonEmpty.size).toDouble / ps.size),
            "streaming.latest_offset_ms" -> Stats.mean(ps.map(dur(_, "latestOffset"))),
            "streaming.get_batch_ms" -> Stats.mean(nonEmpty.map(dur(_, "getBatch"))),
            "streaming.batch_ms" -> Stats.mean(nonEmpty.map(dur(_, "triggerExecution"))),
            "streaming.signs_per_batch" ->
              (if (nonEmpty.isEmpty) 0.0 else (Counters.signs(server) - signs0).toDouble / nonEmpty.size))
        }
      val p50 = if (opMs.isEmpty) Double.MaxValue else Stats.median(opMs)
      Outcome(n, failed, delivered && failed == 0, 1000 / p50, setupS,
        Stats.median(done.map(_.cpuMs)), p50,
        if (opMs.isEmpty) Double.MaxValue else Stats.tail(opMs, 0.95),
        Stats.tailLevel(opMs.size, 0.95), opMs.size, measuredS, heapMb, detail, layers)
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }
  }
}
