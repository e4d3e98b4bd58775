package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed per-group ranking and the operators built on it.
  *
  * The rank is NEVER a `Window.partitionBy(group)` over the raw table — a
  * low-cardinality group key would funnel the whole table through a
  * handful of reducers (the q64 finding). Instead: range-partition on
  * (group, order) so each task holds one contiguous slice, rank locally
  * per (partition, group), and add per-(group, partition)
  * exclusive-prefix-sum offsets from a ≤ groups×partitions-row broadcast
  * (prefix sums computed inside one collect_list row with higher-order
  * functions — no low-cardinality window anywhere, no driver round-trip).
  * Work per task is bounded by its range slice at any scale.
  */
object Quantiles {

  /** `df` plus `__rn` (1-based global rank within each group under
    * `orderCols`) and `__n` (group size). `orderCols` should end with a
    * tiebreaker unique within the group when downstream semantics depend
    * on exact row membership (e.g. NTILE bucket boundaries).
    */
  def withGroupRank(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val keys = (groupCols ++ orderCols).map(col)
    // The stamped frame is consumed by TWO branches (local ranks +
    // per-partition offsets). Range-exchange boundaries are SAMPLED with
    // an RDD-id-dependent seed, so if column pruning gives the branches
    // different exchange subtrees (it does whenever `df` carries payload
    // columns beyond the keys — the offsets branch never needs them),
    // exchange reuse does not fire, each branch samples its OWN
    // boundaries, and the broadcast offsets no longer correspond to the
    // ranked branch's partition ids — silently scrambled global ranks.
    // Found via a consecutive-rank self-join whose pairs flaked run to
    // run (9,256/9,995 wrong pairings in one execution); every previous
    // caller happened to get exchange reuse. Par.pin pins ONE
    // physical partitioning that both branches read — the correctness of
    // the rank now no longer depends on an optimizer reuse heuristic.
    val parts = Par.pin(df.repartitionByRange(nParts, keys: _*)
      .withColumn("__pid", spark_partition_id()))
    val ranked = parts.withColumn("__local", row_number().over(
      Window.partitionBy(("__pid" +: groupCols).map(col): _*)
        .orderBy(orderCols.map(col): _*)))
    val offsets = parts
      .groupBy(("__pid" +: groupCols).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(groupCols.map(col): _*)
      .agg(array_sort(collect_list(struct(col("__pid"), col("__c")))).as("__pcs"))
      .select(groupCols.map(col) ++ Seq(
        expr("aggregate(__pcs, 0L, (acc, x) -> acc + x.__c)").as("__n"),
        explode(expr(
          """transform(__pcs, (p, i) -> struct(
            |  p.__pid as __pid,
            |  aggregate(slice(__pcs, 1, i), 0L, (acc, x) -> acc + x.__c) as __off))"""
            .stripMargin)).as("__po")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__po.__pid").as("__pid"), col("__po.__off").as("__off"), col("__n")): _*)
    // Null-safe join: a USING join drops rows whose group key is NULL,
    // but NULL is a legitimate group (matching NTILE / GROUP BY
    // semantics). Join with <=> per group column and discard the
    // offset-side key copies.
    val offs = offsets.select(
      (col("__pid").as("__o_pid") +:
        groupCols.zipWithIndex.map { case (g, i) => col(g).as(s"__o_g$i") }) ++
        Seq(col("__off"), col("__n")): _*)
    val cond = groupCols.zipWithIndex
      .map { case (g, i) => ranked(g) <=> offs(s"__o_g$i") }
      .foldLeft(ranked("__pid") === offs("__o_pid"))(_ && _)
    ranked.join(broadcast(offs), cond)
      .withColumn("__rn", col("__off") + col("__local"))
      .drop(("__pid" :: "__o_pid" :: "__local" :: "__off" :: Nil) ++
        groupCols.indices.map(i => s"__o_g$i"): _*)
  }

  /** Exact equi-depth histogram per group: `buckets` NTILE buckets (SQL
    * NTILE semantics — the first `n mod k` buckets take the extra row)
    * with per-bucket row count and inclusive [lo, hi] bounds of
    * `valueCol`. Row-for-row replayable by any engine's
    * `ntile(k) OVER (PARTITION BY group ORDER BY order…)` when
    * `orderCols` carries a unique tiebreaker.
    */
  def equiDepthHistogram(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      orderCols: Seq[String],
      buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val ranked = withGroupRank(df, groupCols, orderCols)
    // NTILE(k): size = n div k, rem = n mod k; buckets 1..rem hold
    // size+1 rows. Pure integer `div`/`%` — no float can disagree
    // between engines.
    val b = buckets
    ranked
      .withColumn("bucket", expr(
        s"""CASE WHEN __rn <= (__n % $b) * ((__n div $b) + 1)
           |     THEN (__rn - 1) div ((__n div $b) + 1) + 1
           |     ELSE (__n % $b) +
           |          (__rn - (__n % $b) * ((__n div $b) + 1) - 1)
           |            div greatest(__n div $b, 1) + 1
           |END""".stripMargin))
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n_rows"),
        min(col(valueCol)).as("lo"),
        max(col(valueCol)).as("hi"))
  }
}
