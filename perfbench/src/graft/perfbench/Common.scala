package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. `inputs` holds the seeded
  * parquet tables staged by `run.py`; `work` is a scratch directory the run
  * owns; `record` is where the run writes its JSON record.
  */
case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    inputs: String, work: String, record: String)

/** What a workload hands back: operations attempted and failed, and its
  * end-to-end figures, each a median over the measured window so that a
  * stall in part of it does not set the figure: throughput (each workload
  * defines its operation), set-up time, CPU per operation, median and tail
  * latency (`tailLevel` and `samples` say which percentile of how many
  * latencies), the heap retained after the window, the window's length
  * `measuredS`, the workload's own named figures, and (traced runs) its
  * layer figures.
  */
case class Outcome(
    attempted: Long,
    failed: Long,
    correct: Boolean,
    opsPerS: Double,
    setupS: Double,
    cpuMsPerOp: Double,
    opP50Ms: Double,
    opTailMs: Double,
    tailLevel: Double,
    samples: Int,
    measuredS: Double,
    heapMb: Double,
    detail: Map[String, Double],
    layers: Map[String, Double])

/** One span: a timed call into a layer, recorded by the benchmark around
  * that call. Spans of one operation share `req`; `parent` is the span that
  * caused it (0 = none).
  */
case class Span(id: Long, parent: Long, req: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled (untraced runs) it only runs the body. */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def newRequest(): Long = ids.incrementAndGet()

  def span[T](name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

object Stats {
  /** Nearest-rank percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.min(s.size - 1, math.ceil(q * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest percentile (at most `cap`) that leaves at least ten
    * samples beyond it; never below the median.
    */
  def tailLevel(n: Int, cap: Double = 0.99): Double =
    math.max(0.5, math.min(cap, 1.0 - 10.0 / n))

  def tail(xs: Seq[Double], cap: Double = 0.99): Double = pct(xs, tailLevel(xs.size, cap))

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Share of an operation that ran from `startNs` to `endNs` done by
    * `deadline`: whole operations count 1, one still running a fraction, so
    * a window's throughput does not jump by a whole slow operation.
    */
  def doneBy(startNs: Long, endNs: Long, deadline: Long): Double =
    if (endNs <= deadline) 1.0
    else if (startNs >= deadline) 0.0
    else (deadline - startNs).toDouble / (endNs - startNs)

  /** The share of an operation from `startNs` to `endNs` that falls in
    * `[a, b)`; over back-to-back spans the shares sum to [[doneBy]].
    */
  def doneIn(startNs: Long, endNs: Long, a: Long, b: Long): Double =
    doneBy(startNs, endNs, b) - doneBy(startNs, endNs, a)
}

/** Closed timing helpers. */
object Clock {
  private val start = System.nanoTime()

  /** Log a phase boundary to stderr, seconds since the JVM's first call. */
  def phase(name: String): Unit =
    System.err.println(f"perfbench: $name at ${(System.nanoTime() - start) / 1e9}%.2f s")

  def timeMs[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e6, r)
  }

  /** Run `build` `k` times and return the median seconds and the last
    * result: set-up is measured several times in a run so one stall does
    * not set the figure.
    */
  def medianOf[T](k: Int)(build: Int => T): (Double, T) = {
    var last: Option[T] = None
    val times = (0 until k).map { i =>
      val cpu0 = Jvm.cpuNs()
      val (ms, r) = timeMs(build(i))
      last = Some(r)
      (ms / 1000.0, (Jvm.cpuNs() - cpu0) / 1e9)
    }
    setupCpuS = Stats.median(times.map(_._2))
    (Stats.median(times.map(_._1)), last.get)
  }

  /** Median JVM CPU seconds of the last [[medianOf]]. */
  @volatile var setupCpuS = 0.0
}

/** CPU time the hypervisor gives to other guests ("steal"), read from the
  * first line of /proc/stat. On a shared host it comes in bursts of
  * seconds that slow every figure of the time they hit, whatever the
  * program does, so each workload computes its figures over the calmer
  * part of its window.
  */
object Host {
  /** (steal ticks, all ticks), summed over CPUs; zeros where /proc/stat is missing. */
  def ticks(): (Long, Long) =
    try {
      val r = new java.io.BufferedReader(new java.io.FileReader("/proc/stat"))
      val f = try r.readLine().trim.split("\\s+") finally r.close()
      // cpu user nice system idle iowait irq softirq steal ...
      (f(8).toLong, f.slice(1, 9).map(_.toLong).sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Share of the CPU time between two readings that went to other guests. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** A stretch of time counts as quiet at or below this steal share: on 4
    * CPUs, 2 of the 400 ticks of a second.
    */
  val QuietShare = 0.005

  /** Whether a window that has `n` stretches, `quiet` of them quiet, and
    * has run `elapsedS` of its nominal `seconds` should go on: while fewer
    * than half of its stretches are quiet, up to half as long again, so
    * that a burst of steal costs time rather than the figure.
    */
  def extend(quiet: Int, n: Int, elapsedS: Double, seconds: Int): Boolean =
    quiet * 2 < n && elapsedS < seconds * 1.5

  /** Indices of the samples to count, given each one's steal share: every
    * quiet one if at least half are quiet, else the calmer half.
    */
  def calm(shares: Seq[Double]): Set[Int] = {
    val quiet = shares.indices.filter(i => shares(i) <= QuietShare)
    if (quiet.size * 2 >= shares.size) quiet.toSet
    else shares.indices.sortBy(shares).take((shares.size + 1) / 2).toSet
  }
}

object Jvm {
  /** CPU time of every thread of this JVM. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Used heap after a full collection, in MiB: the least of five
    * collections 200 ms apart, so that an object some background thread
    * holds for a moment is not counted as retained.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
  }

  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }
}

/** Spark task/job totals, read through a listener over a window. */
class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val runMs = new AtomicLong
  val taskMaxMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      taskMaxMs.accumulateAndGet(m.executorRunTime, (a, b) => math.max(a, b))
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** The `spark.*` layer figures since the listener was added. */
  def layer(gcMsInWindow: Long): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.executor_cpu_s" -> cpuNs.get / 1e9,
      "spark.executor_run_s" -> runMs.get / 1e3,
      "spark.task_max_ms" -> taskMaxMs.get.toDouble,
      "spark.shuffle_read_mb" -> shuffleRead.get / mb,
      "spark.shuffle_write_mb" -> shuffleWrite.get / mb,
      "spark.spill_mb" -> spill.get / mb,
      "spark.jvm_gc_ms" -> gcMsInWindow.toDouble)
  }
}

object Sessions {
  /** `graft.Bench`'s session at 4 cores, plus scratch paths inside the
    * run's own directory.
    */
  def spark(work: String): SparkSession = {
    val cpus = "4"
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "256m")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** The `graft.*` counters the layers already keep, read as deltas. */
object Counters {
  def serverPhases(server: graft.server.GraftServer): Map[String, Long] =
    server.phaseNanos.map { case (k, v) => k -> v.get }.toMap

  def signs(server: graft.server.GraftServer): Long = server.signCount.get()

  def fullListings(): Long = graft.log.GraftLog.fullListings.get()

  def invalidate(path: String): Unit = graft.log.GraftLog.invalidateListing(path)
}
