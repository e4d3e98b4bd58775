package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.client.{GraftRestClient, GraftUrlCache}
import graft.log.{GraftCatalog, GraftLog, TableBuilder}
import graft.server.{GraftServer, ServerConfig}

/** `recipient`: one recipient's rounds against an in-process server, one
  * closed-loop client. Each round runs
  *
  *  - six Spark scans through the remote `graft` relation, in a seeded
  *    order, over tables built from the seeded input parquet in the
  *    shared-fixture layouts (lineitem in 8 l_orderkey ranges, orders
  *    partitioned by year, a 4-version CDF orders table, events), each
  *    answer checked against the same aggregate over the raw input parquet;
  *  - one `llm_pipeline` query (`OpsQuery`, local tables, run cold), the
  *    recipient's own curation step, checked against its pinned answer;
  *  - one provider commit of 2,000 rows stamped with the round's sequence
  *    number to a table with a ~10,000-file metadata-only history, and the
  *    recipient's `readStream.format("graft")` catching up on it
  *    (`Trigger.AvailableNow`, one checkpoint across rounds), checked to
  *    deliver exactly that sequence number's 2,000 rows.
  *
  * Every round does the same work, so the figures are medians over rounds.
  * The history ends two versions short of a multiple of ten, so after the
  * two warm-up rounds the window's first commit writes a checkpoint.
  */
object Recipient extends AdaptiveSparkPlanHelper {
  val Token = "perfbench"
  val Share = "share1.default"
  val Tables = Seq("lineitem", "orders", "orders_cdf", "events")
  val Follow = "follow"
  /** The followed table's history: 98 versions of 100 AddFiles. */
  val HistoryVersions = 98
  val Shapes = Seq("lineitem_agg", "stats_skip", "year_prune", "time_travel", "cdf", "events_proj")
  /** The round's `ops` query: `graft.ops.TextOps`, CPU-bound. */
  val OpsQuery = "q191_kn_trigram"

  private def ts(s: String) = lit(s).cast("timestamp")

  /** One scan: its shape, the seeded parameter, and the two ways to
    * compute it (remote relation, raw parquet).
    */
  case class Op(shape: String, param: Long) {
    def remote(spark: SparkSession, url: String): DataFrame = {
      def t(name: String, opts: (String, String)*) = opts.foldLeft(
        spark.read.format("graft").option("url", url).option("token", Token)
          .option("table", s"$Share.$name")) { case (r, (k, v)) => r.option(k, v) }.load()
      query(name => t(name), name => t(name, "versionAsOf" -> param.toString),
        () => t("orders_cdf", "readChangeFeed" -> "true", "startingVersion" -> param.toString))
    }

    def raw(spark: SparkSession, inputs: String): DataFrame = {
      def p(name: String) = {
        val df = spark.read.parquet(s"$inputs/$name.parquet")
        if (name == "orders") df.withColumn("o_year", year(col("o_orderdate"))) else df
      }
      val o = spark.read.parquet(s"$inputs/orders.parquet")
      query(p, _ => Recipient.expectedVersion(o, param),
        () => Recipient.expectedCdf(o, param))
    }

    private def query(table: String => DataFrame, versioned: String => DataFrame,
        cdf: () => DataFrame): DataFrame = shape match {
      case "lineitem_agg" =>
        table("lineitem").filter(expr(s"l_shipdate <= timestamp'1998-12-01' - INTERVAL $param DAYS"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("qty"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("price"))
      case "stats_skip" =>
        table("lineitem").filter(col("l_orderkey") < param && col("l_discount") > 0.05)
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("qty"))
      case "year_prune" =>
        table("orders").filter(col("o_year") === param)
          .agg(count(lit(1)).as("n"), sum(round(col("o_totalprice") * 100).cast("long")).as("price"))
      case "time_travel" =>
        versioned("orders_cdf")
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("keys"))
      case "cdf" =>
        cdf().groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
      case "events_proj" =>
        table("events").filter(col("user_id") % 8 === param)
          .select(col("event_id"), col("event_type"), col("value"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("v"))
    }
  }

  // `orders_cdf`'s history: v0 inserts orders before 1997, v1 those of
  // 1997-1998, v2 deletes finished orders before 1996, v3 updates the
  // priority of orders above 400,000
  private val deleted = col("o_orderstatus") === "F" && col("o_orderdate") < ts("1996-01-01")

  /** The rows of `orders_cdf` at version `v`. */
  def expectedVersion(o: DataFrame, v: Long): DataFrame = v match {
    case 0 => o.filter(col("o_orderdate") < ts("1997-01-01"))
    case 1 => o.filter(col("o_orderdate") < ts("1999-01-01"))
    case _ => o.filter(col("o_orderdate") < ts("1999-01-01") && !deleted)
  }

  /** The change feed `orders_cdf` serves from version `start`. */
  def expectedCdf(o: DataFrame, start: Long): DataFrame = {
    val live = o.filter(col("o_orderdate") < ts("1999-01-01"))
    val updated = live.filter(!deleted && col("o_totalprice") > 400000)
    val parts = Seq(
      0L -> o.filter(col("o_orderdate") < ts("1997-01-01")).select(lit("insert").as("_change_type")),
      1L -> o.filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1999-01-01"))
        .select(lit("insert").as("_change_type")),
      2L -> live.filter(deleted).select(lit("delete").as("_change_type")),
      3L -> updated.select(lit("update_preimage").as("_change_type")),
      3L -> updated.select(lit("update_postimage").as("_change_type")))
    parts.filter(_._1 >= start).map(_._2).reduce(_ unionByName _)
  }

  /** The seeded rotation: each round runs every scan once, in a seeded
    * order. Shapes whose cost depends on their parameter (year, version,
    * CDF start) take one fixed value, so every seed does the same work; the
    * others take a seeded literal.
    */
  final class Rotation(seed: Long, maxKey: Long) {
    private val rng = new scala.util.Random(seed * 31L + 17L)
    /** Every scan of a round. */
    val variants: Seq[Op] = Seq(
      Op("lineitem_agg", 60L + rng.nextInt(60)),
      // inside the 5th of the 8 l_orderkey ranges, so 5 files are kept
      Op("stats_skip", (maxKey * (0.53 + 0.06 * rng.nextDouble())).toLong),
      Op("year_prune", 1995L),
      Op("time_travel", 1L),
      Op("cdf", 2L),
      Op("events_proj", rng.nextInt(8).toLong))

    val rounds: Iterator[Seq[Op]] = Iterator.continually(rng.shuffle(variants))
  }

  /** Digest of the generated inputs besides the staged parquet: the scan
    * order and literals, the followed table's history and commit payloads.
    */
  def inputsDigest(seed: Long, dir: String): String = {
    val path = s"$dir/follow"
    CommitFollow.writeHistory(seed, path, new org.apache.hadoop.conf.Configuration(),
      HistoryVersions)
    Digest.string(new Rotation(seed, 60000L).rounds.take(10).flatten.mkString("\n")) +
      Digest.files(new java.io.File(path)) +
      Digest.string((0 until 5).flatMap(s => CommitFollow.payload(seed, s)).mkString("\n"))
  }

  /** Build every table of the share under `root`. */
  private def build(spark: SparkSession, inputs: String, root: String, seed: Long): Unit = {
    Jvm.rmrf(new java.io.File(root))
    Tables.foreach(t => Counters.invalidate(s"$root/$t"))
    CommitFollow.writeHistory(seed, s"$root/$Follow", spark.sessionState.newHadoopConf(),
      HistoryVersions)
    def in(name: String) = spark.read.parquet(s"$inputs/$name.parquet")
    val li = in("lineitem")
    TableBuilder.create(spark, li.repartitionByRange(8, col("l_orderkey")),
      s"$root/lineitem", name = "lineitem")
    val o = in("orders")
    TableBuilder.create(spark, o.withColumn("o_year", year(col("o_orderdate"))),
      s"$root/orders", partitionCols = Seq("o_year"), name = "orders")
    val c = s"$root/orders_cdf"
    TableBuilder.create(spark, o.filter(col("o_orderdate") < ts("1997-01-01")).repartition(2),
      c, name = "orders_cdf", configuration = Map("enableChangeDataFeed" -> "true"))
    TableBuilder.append(spark, o.filter(col("o_orderdate") >= ts("1997-01-01") &&
      col("o_orderdate") < ts("1999-01-01")).repartition(2), c, timestamp = 1000L)
    TableBuilder.deleteWhere(spark, c,
      col("o_orderstatus") === "F" && col("o_orderdate") < ts("1996-01-01"), timestamp = 2000L)
    TableBuilder.updateWhere(spark, c, col("o_totalprice") > 400000,
      Seq("o_orderpriority" -> lit("9-UPDATED")), timestamp = 3000L)
    TableBuilder.create(spark, in("events").repartition(4), s"$root/events", name = "events")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Force the remote listing and physical planning of `df`. */
  private def plan(df: DataFrame): Unit = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec =>
      a.inputPlan.foreach { case s: FileSourceScanExec => s.inputRDD; case _ => () }
    case p => p.foreach { case s: FileSourceScanExec => s.inputRDD; case _ => () }
  }

  /** Rows the executed file scans of `df` produced. */
  private def scannedRows(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum


  def run(spark: SparkSession, a: Args): Outcome = {
    val root = s"${a.work}/shares"
    val (setupS, _) = Clock.medianOf(3)(_ => build(spark, a.inputs, root, a.seed))
    Clock.phase("set-up done")
    val shared = Tables :+ Follow
    shared.foreach(t => GraftCatalog.register(s"$Share.$t", s"$root/$t"))
    val server = new GraftServer(ServerConfig(bearerToken = Some(Token)),
      spark.sessionState.newHadoopConf()).start()
    try measure(spark, a, server, s"$root/$Follow", setupS)
    finally { server.stop(); shared.foreach(t => GraftCatalog.unregister(s"$Share.$t")) }
  }

  /** One timed operation of a round: its kind (a scan shape, `ops`,
    * `commit` or `follow`), wall and JVM CPU milliseconds, and the share of
    * the host's CPU that went to other guests meanwhile.
    */
  private case class Timed(kind: String, ms: Double, cpuMs: Double, steal: Double)

  private def timed[T](kind: String)(body: => T): (Timed, T) = {
    val h0 = Host.ticks()
    val c0 = Jvm.cpuNs()
    val t0 = System.nanoTime()
    val r = body
    (Timed(kind, (System.nanoTime() - t0) / 1e6, (Jvm.cpuNs() - c0) / 1e6,
      Host.stealShare(h0, Host.ticks())), r)
  }

  /** One round: its timed operations, how many answers were wrong, the
    * commit's version, the `ops` query's executor CPU seconds, the stream's
    * progress, and the signatures the server made for the scans and for the
    * stream.
    */
  private case class Round(ops: Seq[Timed], failed: Int, version: Long, opsCpuS: Double,
      progress: Seq[StreamingQueryProgress], scanSigns: Long, followSigns: Long) {
    def ms(kind: String): Double = ops.filter(_.kind == kind).map(_.ms).sum
  }

  private def measure(spark: SparkSession, a: Args, server: GraftServer, followPath: String,
      setupS: Double): Outcome = {
    val maxKey = spark.read.parquet(s"${a.inputs}/lineitem.parquet")
      .agg(max(col("l_orderkey"))).head().getLong(0)
    val rotation = new Rotation(a.seed, maxKey)
    // every scan of a round, answered once from the raw parquet
    val expected = rotation.variants.map(op => op -> rows(op.raw(spark, a.inputs))).toMap
    val opsPinned = LlmPipeline.Pinned(OpsQuery)
    // executor CPU of the `ops` query, read as deltas
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val planMs = Seq.newBuilder[Double]
    var scanRows = 0L
    var executeMs = 0.0

    def scan(op: Op, traced: Boolean): Boolean = {
      val req = Trace.newRequest()
      try Trace.span(s"client.scan.${op.shape}", req) {
        val df = op.remote(spark, server.url)
        if (traced) {
          planMs += Clock.timeMs(Trace.span("sources.plan", req)(plan(df)))._1
        }
        val (exMs, got) = Clock.timeMs(Trace.span("spark.execute", req)(rows(df)))
        if (traced) {
          scanRows += scannedRows(df)
          executeMs += exMs
        }
        if (got != expected(op)) System.err.println(
          s"recipient: $op answered $got, expected ${expected(op)}")
        got == expected(op)
      } catch { case NonFatal(e) => System.err.println(s"recipient: $op failed: $e"); false }
    }

    def opsQuery(): Boolean = {
      val req = Trace.newRequest()
      try Trace.span(s"ops.$OpsQuery", req)(
        LlmPipeline.answer(spark, OpsQuery, a.inputs) == opsPinned)
      catch { case NonFatal(e) => System.err.println(s"recipient: $OpsQuery failed: $e"); false }
    }

    // the recipient's stream: one Trigger.AvailableNow run per round, on one
    // checkpoint, so each run delivers what was committed since the last
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val foreach: (DataFrame, Long) => Unit = (df, id) => Trace.span("streaming.batch", id) {
      df.groupBy(col("seq")).count().collect()
        .foreach(r => delivered.add((r.getLong(0), r.getLong(1))))
    }
    def follow(): (Seq[(Long, Long)], Seq[StreamingQueryProgress]) = {
      delivered.clear()
      val q = spark.readStream.format("graft")
        .option("url", server.url).option("token", Token).option("table", s"$Share.$Follow")
        .option("startingVersion", HistoryVersions.toString)
        .option("queryTableVersionIntervalSeconds", "0")
        .load()
        .writeStream
        .option("checkpointLocation", s"${a.work}/follow-checkpoint")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(foreach)
        .start()
      q.awaitTermination()
      (delivered.asScala.toSeq, q.recentProgress.toSeq)
    }

    def round(seq: Long, traced: Boolean): Round = {
      val signs0 = Counters.signs(server)
      val scans = rotation.rounds.next().map(op => timed(op.shape)(scan(op, traced)))
      val signs1 = Counters.signs(server)
      val cpu0 = counters.cpuNs.get
      val (ops, opsOk) = timed("ops")(opsQuery())
      val opsCpuS = (counters.cpuNs.get - cpu0) / 1e9
      val req = Trace.newRequest()
      val (commit, version) = timed("commit")(Trace.span("log.append", req)(
        CommitFollow.append(spark, followPath, a.seed, seq)))
      val signs2 = Counters.signs(server)
      val (follow_, (got, progress)) = timed("follow") {
        try Trace.span("streaming.follow", req)(follow())
        catch { case NonFatal(e) => System.err.println(s"recipient: follow failed: $e"); (Nil, Nil) }
      }
      val followOk = got == Seq(seq -> CommitFollow.RowsPerCommit.toLong)
      if (!followOk) System.err.println(s"recipient: commit $seq delivered as $got")
      Round(scans.map(_._1) ++ Seq(ops, commit, follow_),
        scans.count(!_._2) + Seq(opsOk, followOk).count(!_), version, opsCpuS, progress,
        signs1 - signs0, Counters.signs(server) - signs2)
    }

    // warm-up: two rounds pay class loading, JIT and codegen
    (-2L to -1L).foreach { seq =>
      require(round(seq, traced = false).failed == 0, "warm-up answers wrong")
    }

    Clock.phase("warm-up done")
    val window = new SparkCounters
    spark.sparkContext.addSparkListener(window)
    val gc0 = Jvm.gcMs()
    val ckpt0 = CommitFollow.checkpointFiles(followPath)
    // rounds until the window's end, or longer while the host was busy;
    // the round running then finishes
    val t0 = System.nanoTime()
    val rounds = mutable.ArrayBuffer.empty[Round]
    def elapsedS = (System.nanoTime() - t0) / 1e9
    def ops = rounds.flatMap(_.ops)
    while (elapsedS < a.seconds || Host.extend(
        ops.count(_.steal <= Host.QuietShare), ops.size, elapsedS, a.seconds)) {
      rounds += round(rounds.size.toLong, a.trace)
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(window)
    spark.sparkContext.removeSparkListener(counters)
    val sparkLayer = window.layer(Jvm.gcMs() - gc0)
    val rs = rounds.toSeq
    val perRound = Shapes.size + 2 // the scans, the `ops` query, the commit and its delivery
    val failed = rs.map(_.failed).sum.toLong

    // per kind of operation, the median over its calm samples; a round's
    // figures are the sums of these over the kinds
    val timedOps = rs.flatMap(_.ops)
    def calmMedian(kind: String, f: Timed => Double): Double = {
      val xs = timedOps.filter(_.kind == kind)
      val keep = Host.calm(xs.map(_.steal))
      Stats.median(xs.indices.filter(keep).map(i => f(xs(i))))
    }
    val kinds = Shapes ++ Seq("ops", "commit", "follow")
    val roundMs = kinds.map(calmMedian(_, _.ms)).sum
    val roundCpuMs = kinds.map(calmMedian(_, _.cpuMs)).sum
    val shapeMs = Shapes.map(calmMedian(_, _.ms))
    val scanMs = rs.flatMap(r => Shapes.map(r.ms))
    val commitMs = rs.map(_.ms("commit"))
    val followMs = rs.map(_.ms("follow"))
    val opsMs = calmMedian("ops", _.ms)
    val detail = Map(
      "scan_p50_ms" -> Stats.median(scanMs),
      "scan_p95_ms" -> Stats.tail(scanMs, 0.95),
      "round_ms" -> roundMs,
      s"ops.${OpsQuery}_s" -> opsMs / 1000.0,
      "commit_p50_ms" -> Stats.median(commitMs),
      "commit_p95_ms" -> Stats.tail(commitMs, 0.95),
      "follow_lag_p50_ms" -> Stats.median(followMs),
      "follow_lag_p95_ms" -> Stats.tail(followMs, 0.95),
      "steal_share" -> Stats.mean(timedOps.map(_.steal)),
      "rounds" -> rs.size.toDouble) ++
      Shapes.zip(shapeMs).map { case (sh, ms) => s"scan_ms.$sh" -> ms }
    val heapMb = Jvm.retainedHeapMb()

    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        // URL resolution: re-register one lineitem listing and resolve each id
        val client = new GraftRestClient(server.url, Some(Token))
        val listed = client.query("share1", "default", "lineitem").files
        GraftUrlCache.register("perfbench-probe",
          listed.map(f => f.id -> GraftUrlCache.Entry(f.url, f.expirationTimestamp.longValue())).toMap,
          () => Map.empty)
        val resolveMs = (0 until 20).flatMap(_ => listed.map { f =>
          Clock.timeMs(GraftUrlCache.resolve(f.id))._1
        })
        GraftUrlCache.unregister("perfbench-probe")
        val replay = (0 until 5).map { _ =>
          Clock.timeMs(Trace.span("log.append_replay", -1L)(
            new GraftLog(followPath, spark.sessionState.newHadoopConf()).snapshot(None)))._1
        }
        val cpCommits = rs.filter(_.version % GraftLog.CHECKPOINT_INTERVAL == 0).map(_.ms("commit"))
        val ps = rs.flatMap(_.progress)
        val nonEmpty = ps.filter(_.numInputRows > 0)
        def dur(p: StreamingQueryProgress, k: String) =
          Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
        sparkLayer ++ Map(
          s"ops.${OpsQuery}_s" -> opsMs / 1000.0,
          s"ops.${OpsQuery}_cpu_s" -> Stats.median(rs.map(_.opsCpuS)),
          "client.url_resolve_ms" -> Stats.median(resolveMs),
          "sources.plan_ms" -> Stats.median(planMs.result()),
          // every file the server lists for a scan is signed once
          "sources.files_read" -> rs.map(_.scanSigns).sum.toDouble / scanMs.size,
          "sources.rows_read" -> scanRows.toDouble / scanMs.size,
          "sources.rows_per_s" -> scanRows / (executeMs / 1000),
          "log.append_replay_ms" -> Stats.median(replay),
          "log.checkpoints" -> (CommitFollow.checkpointFiles(followPath) - ckpt0).toDouble,
          "log.checkpoint_commit_ms" -> (if (cpCommits.isEmpty) 0.0 else Stats.median(cpCommits)),
          "streaming.triggers" -> ps.size.toDouble / rs.size,
          "streaming.empty_trigger_ratio" ->
            (if (ps.isEmpty) 0.0 else (ps.size - nonEmpty.size).toDouble / ps.size),
          "streaming.latest_offset_ms" -> Stats.mean(ps.map(dur(_, "latestOffset"))),
          "streaming.get_batch_ms" -> Stats.mean(nonEmpty.map(dur(_, "getBatch"))),
          "streaming.batch_ms" -> Stats.mean(nonEmpty.map(dur(_, "triggerExecution"))),
          "streaming.signs_per_batch" ->
            (if (nonEmpty.isEmpty) 0.0 else rs.map(_.followSigns).sum.toDouble / nonEmpty.size))
      }
    // latency: the mean over the six scan shapes of each one's median, and
    // the slowest shape's median
    Outcome(rs.size.toLong * perRound, failed, failed == 0, perRound * 1000 / roundMs, setupS,
      roundCpuMs / perRound, Stats.mean(shapeMs), shapeMs.max, 0.5, scanMs.size,
      measuredS, heapMb, detail, layers)
  }
}
