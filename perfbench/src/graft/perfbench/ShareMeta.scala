package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.client.GraftRestClient
import graft.log.{GraftCatalog, GraftLog}
import graft.model._
import graft.predicates.{FileSkippingEvaluator, JsonPredicates}
import graft.server.{GraftServer, PartitionHintPruner, ServerConfig, wire}

/** `share_meta`: the metadata engine at 10^5 files. A seeded synthetic
  * table (20 commits of 5,000 AddFiles, checkpoint at v10, 200 `ds` dates,
  * `id` min/max stats that tile one range) is served by an in-process
  * server to 3 closed-loop clients. Every expected file count comes from
  * the generator's layout, never from the program.
  */
object ShareMeta {
  val Files = 100000
  val Commits = 20
  val PerCommit: Int = Files / Commits
  val Dates = 200
  /** Three client threads and the server's handlers keep the host's 4 cores
    * busy without queueing on them.
    */
  val Clients = 3
  /** One client walks the whole snapshot back to back; the other two
    * send pruned queries. A walk costs as much as ~50 pruned queries, so a
    * walk drawn at random into every client's stream would make the
    * window's work depend on how many walks it happened to hold.
    */
  val Walker = 2
  val Token = "perfbench"
  val Table = "meta"
  val Fqn = s"share1.default.$Table"

  private val Schema =
    """{"type":"struct","fields":[
      |{"name":"id","type":"long","nullable":false,"metadata":{}},
      |{"name":"amount","type":"double","nullable":true,"metadata":{}},
      |{"name":"category","type":"string","nullable":true,"metadata":{}},
      |{"name":"ds","type":"string","nullable":false,"metadata":{}}
      |]}""".stripMargin.replaceAll("\n", "")

  def date(d: Int): String = java.time.LocalDate.of(2026, 1, 1).plusDays(d).toString

  /** The seeded table layout: per file, its row count, id range and date. */
  final class Layout(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val dateOffset = rng.nextInt(Dates)
    val rows: Array[Long] = Array.fill(Files)(1000000L + rng.nextInt(8000001))
    val sizes: Array[Long] = Array.fill(Files)(100000000L + rng.nextInt(900000000))
    val lo: Array[Long] = rows.scanLeft(0L)(_ + _).take(Files)
    def hi(i: Int): Long = lo(i) + rows(i) - 1
    def dateOf(i: Int): Int = (i + dateOffset) % Dates
    def path(i: Int): String = s"ds=${date(dateOf(i))}/part-$i.parquet"

    /** perCommitDate(c)(d): files of commit c on date d. */
    private val perCommitDate: Array[Array[Int]] = {
      val a = Array.fill(Commits, Dates)(0)
      (0 until Files).foreach(i => a(i / PerCommit)(dateOf(i)) += 1)
      a
    }

    /** Files a `ds` range [a, b] keeps at version v. */
    def dateCount(a: Int, b: Int, v: Int): Int =
      (0 to v).map(c => (a to b).map(perCommitDate(c)(_)).sum).sum

    /** Files whose id range overlaps [l, h]. */
    def idCount(l: Long, h: Long): Int = {
      val first = java.util.Arrays.binarySearch(lo, l) match {
        case i if i >= 0 => i
        case i => -i - 2 // the file holding l
      }
      val last = java.util.Arrays.binarySearch(lo, h) match {
        case i if i >= 0 => i
        case i => -i - 2
      }
      last - math.max(first, 0) + 1
    }

    /** Cumulative rows before each file in the server's path order. */
    private lazy val sortedPrefix: Array[Long] = {
      val order = (0 until Files).sortBy(path)
      order.map(rows(_)).scanLeft(0L)(_ + _).toArray
    }

    /** Files a `limitHint` of `limit` rows keeps: every file listed while
      * the rows before it are still short of the limit.
      */
    def limitCount(limit: Long): Int = {
      val p = sortedPrefix
      var lo0 = 0
      var hi0 = Files // count of prefixes p(j) < limit, j in [0, Files)
      while (lo0 < hi0) {
        val m = (lo0 + hi0) >>> 1
        if (p(m) < limit) lo0 = m + 1 else hi0 = m
      }
      lo0
    }

    def actions(v: Int): Seq[Action] = {
      val files = (v * PerCommit until (v + 1) * PerCommit).map { i =>
        AddFile(
          path = path(i),
          partitionValues = Map("ds" -> date(dateOf(i))),
          size = sizes(i),
          modificationTime = 1700000000000L + i,
          stats = Some(FileStats(
            numRecords = rows(i),
            minValues = Map("id" -> lo(i).toString, "amount" -> "0.01",
              "category" -> s"cat${i % 7}"),
            maxValues = Map("id" -> hi(i).toString, "amount" -> "9999.99",
              "category" -> s"cat${i % 7}"),
            nullCount = Map("id" -> 0L, "amount" -> 3L, "category" -> 0L))),
          version = v,
          timestamp = 1700000000000L + v * 60000L)
      }
      if (v == 0)
        Seq(Protocol(), Metadata(id = "perfbench-meta", name = Table,
          schemaString = Schema, partitionColumns = Seq("ds"))) ++ files
      else files
    }

    /** Write the table's log (the automatic checkpoint lands at v10). */
    def write(path: String, conf: Configuration): Unit = {
      Jvm.rmrf(new java.io.File(path))
      Counters.invalidate(path)
      (0 until Commits).foreach(v => GraftLog.commit(path, v, actions(v), conf))
    }
  }

  sealed trait Req { def kind: String; def expected: Int }
  case class DateReq(a: Int, b: Int, version: Option[Int], expected: Int) extends Req {
    def kind: String = if (version.isDefined) "pinned" else "pruned"
    def hint: String = s"ds >= '${date(a)}' AND ds <= '${date(b)}'"
  }
  case class IdReq(l: Long, h: Long, expected: Int) extends Req {
    def kind = "pruned"
    def json: String =
      s"""{"op":"and","children":[""" +
        s"""{"op":"greaterThanOrEqual","children":[{"op":"column","name":"id","valueType":"long"},""" +
        s"""{"op":"literal","value":"$l","valueType":"long"}]},""" +
        s"""{"op":"lessThanOrEqual","children":[{"op":"column","name":"id","valueType":"long"},""" +
        s"""{"op":"literal","value":"$h","valueType":"long"}]}]}"""
  }
  case class LimitReq(limit: Long, expected: Int) extends Req { def kind = "limit" }
  case object WalkReq extends Req { def kind = "walk"; def expected: Int = Files }

  def request(r: Req): wire.QueryRequest = r match {
    case d: DateReq => wire.QueryRequest(predicateHints = Seq(d.hint),
      version = d.version.map(v => java.lang.Long.valueOf(v.toLong)).orNull)
    case i: IdReq => wire.QueryRequest(jsonPredicateHints = i.json)
    case l: LimitReq => wire.QueryRequest(limitHint = java.lang.Long.valueOf(l.limit))
    case WalkReq => wire.QueryRequest()
  }

  /** The seeded request stream: the mix, the hot set (drawn from
    * `hotSeed`) and every literal.
    */
  final class Schedule(layout: Layout, seed: Long, hotSeed: Long) {
    def this(layout: Layout, seed: Long) = this(layout, seed, seed)
    // widths: 1-2 dates (500-1,000 files); id ranges of 250-1,000 files
    private def dateReq(rng: scala.util.Random, width: Int, version: Option[Int]): DateReq = {
      val a = rng.nextInt(Dates - width + 1)
      val b = a + width - 1
      DateReq(a, b, version, layout.dateCount(a, b, version.getOrElse(Commits - 1)))
    }
    private def idReq(rng: scala.util.Random, k: Int): IdReq = {
      val s = rng.nextInt(Files - k)
      val e = s + k - 1
      val l = layout.lo(s) + (rng.nextDouble() * layout.rows(s)).toLong
      val h = layout.lo(e) + (rng.nextDouble() * layout.rows(e)).toLong
      IdReq(l, h, layout.idCount(l, h))
    }
    /** Recipients pin one of a few versions, as they do a release. */
    private val pinnable = Seq(5, 10, 15)
    private def freshDate(rng: scala.util.Random): DateReq = dateReq(rng, 1 + rng.nextInt(2), None)
    private def freshId(rng: scala.util.Random): IdReq = idReq(rng, 250 + rng.nextInt(751))
    private def freshPinned(rng: scala.util.Random): DateReq =
      dateReq(rng, 1 + rng.nextInt(2), Some(pinnable(rng.nextInt(pinnable.size))))

    /** 3 hot predicates, one `ds` range, one `id` range and one pinned
      * `ds` range. Their sizes are fixed and only their positions seeded,
      * so the hot set's cost is the same for every seed.
      */
    val hot: IndexedSeq[Req] = {
      val rng = new scala.util.Random(hotSeed ^ 0x5eedL)
      IndexedSeq(dateReq(rng, 2, None), idReq(rng, 625), dateReq(rng, 1, Some(15)))
    }

    /** The request stream of one pruning client, in decks of 16 in one
      * fixed order: each hot predicate twice, and 10 fresh ones (4 `ds`
      * ranges, 3 `id` ranges, 1 version-pinned `ds` range, 2 limit
      * queries). Hot predicates come back every 7-9 requests and both
      * pruning clients send them, so most hot repeats hit the server's one
      * 10-entry filtered-listing cache and fresh ones miss; a larger hot set
      * or a larger hot share would push the hot keys out. The deck fixes the
      * mix and its order, so a run's work and its cache hits do not depend
      * on how the kinds happened to fall for a seed; client `c` starts
      * `c` half-decks in, so the two do not send one hot key at once.
      */
    def client(c: Int): Iterator[Req] = {
      val rng = new scala.util.Random(seed * 1000003L + c)
      val deck: Seq[Either[Int, String]] = Seq(Left(0), Right("date"), Right("id"), Left(1),
        Right("date"), Right("pinned"), Left(2), Right("id"), Right("limit"), Left(0),
        Right("date"), Right("id"), Left(1), Right("date"), Right("limit"), Left(2))
      Iterator.continually(deck).flatten.drop(c * deck.size / 2).map {
        case Left(h) => hot(h)
        case Right("limit") =>
          val limit = 1000000L + (rng.nextDouble() * 40000000L).toLong
          LimitReq(limit, layout.limitCount(limit))
        case Right("date") => freshDate(rng)
        case Right("id") => freshId(rng)
        case Right(_) => freshPinned(rng)
      }
    }
  }

  /** Share of cache hits among the window's requests, by the class
    * `classOf` gives each, in a model of the server's filtered-listing
    * cache: one LRU of `GraftCatalog.SNAPSHOT_CACHE_SIZE` entries keyed by
    * (version, query). The model is fed every request (request, start, end)
    * of the warm-up and then of the window in start order, a walk as its
    * pages spread evenly over the walk; only the window's count.
    */
  def modelHits(warm: Seq[(Req, Long, Long)], window: Seq[(Req, Long, Long)],
      classOf: Req => String): Map[String, Double] = {
    val pages = math.ceil(Files / 10000.0).toInt
    def touches(rs: Seq[(Req, Long, Long)]) = rs.flatMap {
      case (WalkReq, s, e) => (0 until pages).map(j => (s + (e - s) * j / pages, WalkReq: Req))
      case (r, s, _) => Seq((s, r))
    }.sortBy(_._1).map(_._2)
    val lru = new java.util.LinkedHashMap[Req, java.lang.Boolean](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Req, java.lang.Boolean]): Boolean =
        size() > GraftCatalog.SNAPSHOT_CACHE_SIZE
    }
    def touch(r: Req): Boolean = {
      val hit = lru.get(r) != null
      if (!hit) lru.put(r, true)
      hit
    }
    touches(warm).foreach(touch)
    touches(window).map(r => classOf(r) -> touch(r))
      .groupMap(_._1)(_._2).map { case (k, hits) => k -> hits.count(identity).toDouble / hits.size }
  }

  /** Digest of every generated input of a seed: the synthetic log files
    * and the first requests of each client.
    */
  def inputsDigest(seed: Long, dir: String): String = {
    val layout = new Layout(seed)
    val path = s"$dir/meta"
    layout.write(path, new Configuration())
    val sched = new Schedule(layout, seed)
    val reqs = (0 until Clients).flatMap(c => sched.client(c).take(200)).mkString("\n")
    Digest.files(new java.io.File(path)) + Digest.string(reqs)
  }

  def check(r: Req, res: GraftRestClient#QueryResult): Boolean = r match {
    case WalkReq => res.files.size == Files && res.files.map(_.id).distinct.size == Files
    case _ => res.files.size == r.expected
  }

  def run(a: Args): Outcome = {
    val conf = new Configuration()
    val layout = new Layout(a.seed)
    val path = s"${a.work}/meta"
    // set-up, three times: generate the log and replay it once
    val (setupS, _) = Clock.medianOf(3) { _ =>
      layout.write(path, conf)
      new GraftLog(path, conf).snapshot(None).files.size
    }
    Clock.phase("set-up done")
    GraftCatalog.register(Fqn, path)
    val server = new GraftServer(ServerConfig(bearerToken = Some(Token)), conf).start()
    try measure(a, layout, path, server, setupS)
    finally { server.stop(); GraftCatalog.unregister(Fqn) }
  }

  private def measure(a: Args, layout: Layout, path: String, server: GraftServer,
      setupS: Double): Outcome = {
    val sched = new Schedule(layout, a.seed)
    val clients = IndexedSeq.fill(Clients)(new GraftRestClient(server.url, Some(Token)))
    case class Done(req: Req, ms: Double, ok: Boolean, startNs: Long, endNs: Long) {
      def kind: String = req.kind
    }
    /** A reading at a second of the window: time, JVM CPU nanoseconds,
      * host CPU ticks.
      */
    case class Mark(ns: Long, cpuNs: Long, host: (Long, Long))
    /** The requests of one closed loop, when it started and stopped, and a
      * mark at each second of it, the last one at the deadline.
      */
    case class Window(all: Seq[Done], t0: Long, deadline: Long, marks: IndexedSeq[Mark])

    /** All clients for `seconds`, or longer while the host was busy (see
      * [[Host.extend]]); requests still running at the end finish and are
      * checked.
      */
    def closedLoop(sched: Schedule, seconds: Int, walker: Boolean): Window = {
      val results = Array.fill(Clients)(mutable.ArrayBuffer.empty[Done])
      val stop = new AtomicBoolean(false)
      val t0 = System.nanoTime()
      val marks = mutable.ArrayBuffer(Mark(t0, Jvm.cpuNs(), Host.ticks()))
      val threads = (0 until Clients).filter(c => walker || c != Walker).map { c =>
        val th = new Thread(() => {
          val it = if (c == Walker) Iterator.continually(WalkReq) else sched.client(c)
          while (!stop.get()) {
            val r = it.next()
            val req = Trace.newRequest()
            val start = System.nanoTime()
            val (ms, ok) = Clock.timeMs {
              try Trace.span(s"client.query.${r.kind}", req) {
                check(r, clients(c).query("share1", "default", Table, request(r)))
              } catch { case scala.util.control.NonFatal(e) =>
                System.err.println(s"share_meta: request failed: $e"); false }
            }
            results(c) += Done(r, ms, ok, start, System.nanoTime())
          }
        }, s"perfbench-client-$c")
        th.start()
        th
      }
      // the window's CPU ends at the deadline, not after the last walk
      def quiet = (1 until marks.size).count(i =>
        Host.stealShare(marks(i - 1).host, marks(i).host) <= Host.QuietShare)
      var k = 0
      while (k < seconds || Host.extend(quiet, k, k, seconds)) {
        k += 1
        val wait = t0 + k * 1000000000L - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        marks += Mark(System.nanoTime(), Jvm.cpuNs(), Host.ticks())
      }
      stop.set(true)
      threads.foreach(_.join())
      Window(results.flatten.toSeq, t0, marks.last.ns, marks.toIndexedSeq)
    }

    // warm-up: one walk, then the pruning clients on fresh requests the run
    // does not use and the run's hot set, which fills the cache
    require(check(WalkReq, clients(Walker).query("share1", "default", Table, request(WalkReq))),
      "warm-up walk wrong")
    val warm = closedLoop(new Schedule(layout, a.seed + 7919L, a.seed), 4, walker = false)
    require(warm.all.forall(_.ok), "warm-up answers wrong")
    Clock.phase("warm-up done")

    val listings0 = Counters.fullListings()
    // only requests done inside the window are timed; each counts toward
    // throughput and CPU per request by the share of it done inside the window
    val w = closedLoop(sched, a.seconds, walker = true)
    val all = w.all
    val deadline = w.deadline
    val measuredS = (deadline - w.t0) / 1e9
    val done = all.filter(_.endNs <= deadline)
    val listings = Counters.fullListings() - listings0
    // walks outlast the window: time every walk the walker finished
    val walkMs = Stats.median(all.filter(_.kind == "walk").map(_.ms))

    def rate(ds: Seq[Done]) = ds.map(d => Stats.doneBy(d.startNs, d.endNs, deadline)).sum / measuredS
    // per second of the window: pruned requests done in it (one running
    // across a boundary counts by its share on each side), the CPU it took,
    // and the share of the host's CPU that went to other guests
    val prunedAll = all.filter(_.kind != "walk")
    val seconds = w.marks.sliding(2).map { case Seq(a, b) =>
      val n = prunedAll.map(d => Stats.doneIn(d.startNs, d.endNs, a.ns, b.ns)).sum
      (n / ((b.ns - a.ns) / 1e9), (b.cpuNs - a.cpuNs) / 1e6 / n, Host.stealShare(a.host, b.host))
    }.toIndexedSeq
    // the figures count the calm seconds only, and the requests that ran
    // within them
    val calm = Host.calm(seconds.map(_._3))
    val perSecond = seconds.indices.filter(calm).map(seconds)
    def second(ns: Long) = math.min(seconds.size - 1, ((ns - w.t0) / 1000000000L).toInt)
    val prunedDone = done.filter(_.kind != "walk")
    val pruned = prunedDone.filter(d => calm(second(d.startNs)) && calm(second(d.endNs))).map(_.ms)
    val hotSet = sched.hot.toSet
    def classOf(r: Req): String = if (r == WalkReq) "walk" else if (hotSet(r)) "hot" else "fresh"
    def spans(ds: Seq[Done]) = ds.map(d => (d.req, d.startNs, d.endNs))
    val hits = modelHits(spans(warm.all), spans(all), classOf)
    def classP50(k: String) = {
      val xs = done.filter(d => d.kind != "walk" && classOf(d.req) == k).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val detail = Map(
      "meta_rps" -> rate(all),
      "calm_seconds" -> calm.size.toDouble,
      "steal_share" -> Stats.mean(seconds.map(_._3)),
      "meta_walks_per_s" -> rate(all.filter(_.kind == "walk")),
      "meta_pruned_p50_ms" -> Stats.median(prunedDone.map(_.ms)),
      "meta_pruned_p99_ms" -> Stats.tail(prunedDone.map(_.ms)),
      "meta_pruned_tail_level" -> Stats.tailLevel(prunedDone.size),
      "meta_pruned_samples" -> prunedDone.size.toDouble,
      "meta_walk_ms" -> walkMs,
      "meta_hot_share" -> all.count(d => classOf(d.req) == "hot").toDouble / all.count(_.kind != "walk"),
      "meta_hot_p50_ms" -> classP50("hot"),
      "meta_fresh_p50_ms" -> classP50("fresh")) ++
      hits.map { case (k, v) => s"meta_cache_hit_ratio.$k" -> v }

    val heapMb = Jvm.retainedHeapMb()
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        def kindMs(k: String) = {
          val xs = done.filter(_.kind == k).map(_.ms)
          if (xs.isEmpty) 0.0 else Stats.median(xs)
        }
        Map(
          "log.full_listings" -> listings.toDouble,
          "client.query_ms.pruned" -> kindMs("pruned"),
          "client.query_ms.pinned" -> kindMs("pinned"),
          "client.query_ms.limit" -> kindMs("limit"),
          "client.query_ms.walk" -> walkMs) ++
          probes(a, layout, path, server, sched, clients(0))
      }
    val failed = all.count(!_.ok)
    Outcome(all.size, failed, failed == 0, Stats.median(perSecond.map(_._1)), setupS,
      Stats.median(perSecond.map(_._2)), Stats.median(pruned), Stats.tail(pruned),
      Stats.tailLevel(pruned.size), pruned.size, measuredS, heapMb, detail, layers)
  }

  /** Single-threaded calls into `log`, `predicates` and `server` after the
    * measured phase, for the traced run's layer figures.
    */
  private def probes(a: Args, layout: Layout, path: String, server: GraftServer,
      sched: Schedule, client: GraftRestClient): Map[String, Double] = {
    // server phases, signatures and client self time per request, on the
    // run's first 20 requests and one walk replayed one at a time
    val replay = sched.client(0).take(20).toSeq :+ WalkReq
    val perReq = replay.map { r =>
      val p0 = Counters.serverPhases(server)
      val s0 = Counters.signs(server)
      val (ms, _) = Clock.timeMs(client.query("share1", "default", Table, request(r)))
      val d = Counters.serverPhases(server).map { case (k, v) => k -> (v - p0.getOrElse(k, 0L)) / 1e6 }
      val pages = if (r == WalkReq) math.ceil(Files / 10000.0) else 1.0
      (d, Counters.signs(server) - s0, ms - d.values.sum, pages)
    }
    val requests = perReq.map(_._4).sum
    def phaseMs(k: String) = perReq.map(_._1.getOrElse(k, 0.0)).sum / requests

    val conf = new Configuration()
    val req = Trace.newRequest()
    val cold = (0 until 3).map { _ =>
      Counters.invalidate(path)
      Clock.timeMs(Trace.span("log.snapshot_cold", req)(new GraftLog(path, conf).snapshot(None)))._1
    }
    val warm = (0 until 3).map { _ =>
      Clock.timeMs(Trace.span("log.snapshot_warm", req)(new GraftLog(path, conf).snapshot(None)))._1
    }
    val snap = new GraftLog(path, conf).snapshot(None)
    val sample = sched.client(0).take(400).toSeq
    val ids = sample.collect { case r: IdReq => r }.take(20)
    val dates = sample.collect { case r: DateReq if r.version.isEmpty => r }.take(20)
    val skip = ids.map { r =>
      val op = Some(JsonPredicates.fromJson(r.json))
      val (ms, kept) = Clock.timeMs(Trace.span("predicates.skip_eval", req)(
        FileSkippingEvaluator.filterFiles(op, Seq("ds"), snap.files)))
      (ms, kept.size.toDouble / Files)
    }
    val pSchema = StructType(Seq(StructField("ds", StringType, nullable = false)))
    val hint = dates.map { r =>
      val (ms, kept) = Clock.timeMs(Trace.span("predicates.hint_prune", req)(
        PartitionHintPruner.prune(Seq(r.hint), pSchema, snap.files)))
      (ms, kept.size.toDouble / Files)
    }

    // listing phase of one request, cache hit vs miss, and response bytes
    val http = HttpClient.newHttpClient()
    def post(r: Req): (Long, Int) = {
      val body = JsonUtils.toJson(request(r))
      val before = server.phaseNanos.get("listing").map(_.get).getOrElse(0L)
      val resp = http.send(HttpRequest.newBuilder(URI.create(
        s"${server.url}/shares/share1/schemas/default/tables/$Table/query"))
        .header("Authorization", s"Bearer $Token")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      require(resp.statusCode() == 200, s"probe query failed: ${resp.statusCode()}")
      (server.phaseNanos.get("listing").map(_.get).getOrElse(0L) - before, resp.body().length)
    }
    val fresh = new Schedule(layout, a.seed + 104729L).client(1)
      .filter(r => r.kind == "pruned").take(10).toSeq
    val coldListing = fresh.map(r => post(r))
    val hotListing = fresh.take(5).map(r => post(r)._1)
    Map(
      "log.snapshot_cold_ms" -> Stats.median(cold),
      "log.snapshot_warm_ms" -> Stats.median(warm),
      "predicates.skip_eval_ms" -> Stats.median(skip.map(_._1)),
      "predicates.kept_ratio.skip" -> Stats.mean(skip.map(_._2)),
      "predicates.hint_prune_ms" -> Stats.median(hint.map(_._1)),
      "predicates.kept_ratio.hint" -> Stats.mean(hint.map(_._2)),
      "server.listing_ms.cold" -> Stats.median(coldListing.map(_._1 / 1e6)),
      "server.listing_ms.hot" -> Stats.median(hotListing.map(_ / 1e6)),
      "server.bytes_per_req" -> Stats.mean(coldListing.map(_._2.toDouble)),
      "server.snapshot_ms_per_req" -> phaseMs("snapshot"),
      "server.listing_ms_per_req" -> phaseMs("listing"),
      "server.render_ms_per_req" -> phaseMs("render"),
      "server.signs_per_req" -> perReq.map(_._2).sum / requests,
      "client.pages_per_query" -> requests / perReq.size,
      "client.self_ms" -> Stats.median(perReq.map(_._3)))
  }
}

/** Content digests for the seed-determinism self-test. */
object Digest {
  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  def string(s: String): String =
    hex(java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))

  /** Digest over every file under `root`: relative name and bytes. */
  def files(root: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(root).foreach { f =>
      md.update(root.toPath.relativize(f.toPath).toString.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    hex(md.digest())
  }
}
