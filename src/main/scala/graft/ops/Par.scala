package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Execution primitives shared by the operators: the parallelism floor
  * ([[widen]]) and the one way a frame is pinned ([[pin]], [[cut]],
  * [[persist]]) and released ([[unpin]], the query drain).
  *
  * PIN LIFECYCLE. Every pin is registered, when it is made, with the
  * query that made it; it is released by [[unpin]] or by that query's
  * drain (`Dedup.releasePersisted`, which Verify, Bench and the tools run
  * between queries). A function may therefore return a frame built on its
  * last pin: a caller's action may re-plan it (DataFrameWriter builds a
  * fresh QueryExecution, so registered shuffle outputs are not reused)
  * and read the pinned data again, up to the drain. The query is the
  * calling thread's, carried to the threads it starts (stream
  * micro-batch threads included) by a SparkContext local property, so
  * one query's drain never releases another query's pins.
  *
  * RELIABILITY follows the session: with a checkpoint directory set
  * (`SparkContext.setCheckpointDir`) pins are written there and survive
  * an executor loss, at the cost of writing and reading the pinned frame;
  * without one they are executor-local `localCheckpoint` blocks with the
  * lineage cut, and a lost executor fails the query.
  */
object Par {
  /** Pin a MULTI-CONSUMER frame: one materialization every downstream
    * branch reads, instead of one re-execution of the frame's whole
    * subtree per branch. The dedup cascades fan one prepared frame into
    * 2-3 aggregation branches whose pushed filters/pruning differ, so
    * exchange reuse does not fire and the scan + kernel (and any widen
    * exchange) re-run per branch — per-stage metrics showed the widen
    * map executing 3x serially in q93 and the md5 signature aggregate
    * 3x in q180. A checkpoint (lineage truncated) is the house pattern:
    * persist() is defeated by HOF-lambda plan canonicalization.
    * Streaming frames pass through (checkpointing a streaming frame is
    * unsupported; their operators run per micro-batch).
    */
  def pin(df: DataFrame): DataFrame =
    if (df.isStreaming) df else cut(df, eager = true)

  /** Cut the lineage of an iterative loop's state. `eager = false`
    * leaves materialization to the round's own next action (one job per
    * round instead of two). Release a superseded round with [[unpin]].
    */
  def cut(df: DataFrame, eager: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    sc.getCheckpointDir match {
      case Some(dir) =>
        val cp = df.checkpoint(eager)
        val files = GraftSqlBridge.checkpointRdd(cp)
          .map(rdd => new Path(dir, s"rdd-${rdd.id}"))
        register(sc, cp, () => files.foreach(p =>
          p.getFileSystem(sc.hadoopConfiguration).delete(p, true)))
      case None =>
        val cp = df.localCheckpoint(eager)
        register(sc, cp, () =>
          GraftSqlBridge.checkpointRdd(cp).foreach(_.unpersist(blocking = false)))
    }
  }

  /** Persist MEMORY_AND_DISK under the pin lifecycle — for a frame whose
    * lineage should stay (recomputable) while several consumers read it.
    */
  def persist(df: DataFrame): DataFrame = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    register(df.sparkSession.sparkContext, cached,
      () => cached.unpersist(blocking = false))
  }

  /** Release a pin of the calling query now, ahead of its drain. */
  def unpin(df: DataFrame): Unit = {
    val pins = queries.get(current(df.sparkSession.sparkContext))
    if (pins != null)
      pins.forEach(p => if ((p.df eq df) && pins.remove(p)) p.free())
  }

  /** Run `body` as a query of its own: the pins it makes are released
    * when it returns, and the enclosing query's pins are untouched.
    */
  def scoped[A](body: => A): A = {
    val q = newQuery()
    try within(q)(body) finally close(q)
  }

  /** Pin the frame `build` returns on the enclosing query, then release
    * every pin `build` made — for a stage built by a cascade whose
    * internals nothing reads once the stage is pinned.
    */
  def pinScoped(build: => DataFrame): DataFrame = {
    val q = newQuery()
    try pin(within(q)(build)) finally close(q)
  }

  /** Release every pin of the calling query. */
  private[graft] def drain(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(s => drain(current(s.sparkContext)))

  private final class Pin(val df: DataFrame, release: () => Unit) {
    def free(): Unit =
      try release() catch { case NonFatal(_) => }
  }

  /** Pins per query. STRONG references: a persisted plan stays pinned by
    * CacheManager, and a checkpoint's data stays until released, whether
    * or not a frame object is still reachable.
    */
  private val queries = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Pin]]
  private val queryIds = new AtomicLong
  /** The query the calling thread runs. Not inherited: a thread started
    * by a query's thread is a query of its own, unless Spark started it
    * for a stream (below).
    */
  private val own = new ThreadLocal[String]
  private val QueryKey = "graft.pin.query"
  /** Local property Spark sets on a stream's micro-batch thread. */
  private val StreamKey = "sql.streaming.queryId"

  private def register(sc: SparkContext, df: DataFrame,
      release: () => Unit): DataFrame = {
    queries.computeIfAbsent(current(sc), _ => new ConcurrentLinkedQueue[Pin])
      .add(new Pin(df, release))
    df
  }

  private def current(sc: SparkContext): String = own.get match {
    case null =>
      val started = sc.getLocalProperty(QueryKey)
      if (started != null && sc.getLocalProperty(StreamKey) != null) started
      else enter(sc, newQuery())
    case q => q
  }

  private def newQuery(): String = s"pins-${queryIds.incrementAndGet()}"

  private def enter(sc: SparkContext, q: String): String = {
    own.set(q)
    sc.setLocalProperty(QueryKey, q)
    q
  }

  private def within[A](q: String)(body: => A): A = {
    val sc = SparkSession.active.sparkContext
    val (outer, outerKey) = (own.get, sc.getLocalProperty(QueryKey))
    enter(sc, q)
    try body finally {
      own.set(outer)
      sc.setLocalProperty(QueryKey, outerKey)
    }
  }

  private def drain(q: String): Unit = {
    val pins = queries.get(q)
    if (pins != null) {
      var p = pins.poll()
      while (p != null) { p.free(); p = pins.poll() }
    }
  }

  private def close(q: String): Unit = { drain(q); queries.remove(q) }

  /** Scale-gated parallelism floor for CPU-heavy row-local kernels.
    *
    * The fixture tables are single parquet files, so their scans plan as
    * ONE input partition; a per-row kernel that costs real CPU (md5/MinHash
    * signatures, image/audio decode + DCT, trigram LM walks, classifier
    * scoring) then serializes on one core while the other 31 idle —
    * measured via per-stage task metrics: e.g. the q28 SimHash map was a
    * single task with 9.3 s of CPU, q189's phash decode 17.7 s across ≤4
    * tasks (optimization guide §2.5: input parallelism — repartition
    * immediately after the read; §1.2: fix the distributed shape before
    * per-task work).
    *
    * Raises the partition count to the scheduler's default parallelism
    * ONLY when the input has fewer partitions — at production scale a
    * 100 TB scan already plans thousands of splits, so the gate makes this
    * a provable no-op (no extra exchange is ever added at scale; the
    * round-robin shuffle exists exactly and only in the
    * tiny-input/expensive-kernel regime it repairs). Round-robin
    * repartition sorts its input before distributing (SPARK-23207, on by
    * default), so the row→partition assignment is deterministic under
    * retries.
    *
    * Call it on the RAW input frame BEFORE the expensive projection — a
    * projection written below the exchange would still execute in the
    * original single map task.
    */
  def widen(df: DataFrame): DataFrame = {
    // Streaming frames cannot be partition-inspected (.rdd is a batch-only
    // surface) — their parallelism is the micro-batch source's concern;
    // pass through untouched.
    if (df.isStreaming) return df
    val sc = df.sparkSession.sparkContext
    val target = sc.defaultParallelism
    val cur = df.queryExecution.toRdd.getNumPartitions
    if (cur > 0 && cur < target) df.repartition(target) else df
  }
}
