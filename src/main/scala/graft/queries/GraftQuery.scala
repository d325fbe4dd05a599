package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine capability: a Spark query over the TESTDATA tables
  * plus (when SQL-expressible) the equivalent ANSI SQL for the DuckDB
  * oracle. Column names are part of the contract — the driver's compare
  * sorts columns by name before hashing, so every computed column is
  * aliased identically on both sides.
  *
  * Float determinism rule: any aggregate over doubles is computed by
  * casting the per-row double expression to DECIMAL and summing exactly,
  * then casting the exact sum back to DOUBLE. Per-row IEEE-754 arithmetic
  * is identical across engines; only aggregation *order* differs, and
  * decimal sums are order-insensitive — so the result is bit-identical in
  * Spark and DuckDB regardless of partitioning.
  */
final case class GraftQuery(
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object GraftQuery {
  def sql(doc: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(run, Some(oracle), doc)

  /** Run `body` with a temporarily reduced shuffle-partition count, then
    * restore. For queries whose state is tiny relative to the session
    * default (a streaming query opens one state store per shuffle
    * partition and commits each one every micro-batch; iterative loops
    * pay per-stage scheduling on near-empty partitions). Results are
    * partitioning-invariant by construction — asserted by the invariance
    * tests. */
  def withShufflePartitions[A](spark: SparkSession, n: Int)(body: => A): A =
    withConfs(spark, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Run `body` with temporary session-conf overrides, then restore.
    * Streaming queries read these at start(), so scoping them here gives
    * per-query control over knobs that are otherwise session-global
    * (state-store provider, shuffle partitions). */
  def withConfs[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The RocksDB state store for queries started in `body`, over the
    * in-memory default of Engine.configure: the one place that selects
    * it, around `transformWithState`, which Spark runs only on RocksDB.
    * The checkpoint's offset log pins the provider for restarts. */
  def withRocksDBStateStore[A](spark: SparkSession)(body: => A): A =
    withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Online-serve planning regime (r16): inside a broadcast-pinned
    * small-batch serve — every join hinted, every scan bucket-pruned,
    * hop frames localCheckpointed within this scope — AQE contributes
    * nothing to plan CHOICE (the joins are pinned, the shuffled frames
    * are beam-sized) but costs one stage-materialization job per
    * exchange per hop frame, and the serve loop runs 8-12 such frames
    * per batch. SIZE-conditional, not host-conditional: the same entry
    * points serving an offline millions-of-queries batch (above the
    * broadcast cutoff) keep AQE's coalescing + skew splitting, where
    * they matter. localCheckpoint pins each hop frame's physical plan
    * at call time, so the scope reliably covers the whole hop loop.
    *
    * Thread-robust by DEPTH COUNT, not capture/restore: serves overlap
    * (the hier gates run two serves from Future threads, suites share
    * one session) and two interleaved capture/restore scopes can
    * restore in the wrong order, leaving the session non-adaptive for
    * everything that follows. The conf flips off when the FIRST serve
    * scope enters and back on when the LAST one exits; the baseline is
    * Engine.configure's pinned `true`, so restoring to the literal is
    * exact. */
  private val serveScopeDepth =
    scala.collection.mutable.Map.empty[SparkSession, Int]
  def withOnlineServePlanning[A](spark: SparkSession, small: Boolean)(
      body: => A): A =
    if (!small) body
    else {
      val key = "spark.sql.adaptive.enabled"
      serveScopeDepth.synchronized {
        val d = serveScopeDepth.getOrElse(spark, 0)
        if (d == 0) spark.conf.set(key, "false")
        serveScopeDepth(spark) = d + 1
      }
      try body finally serveScopeDepth.synchronized {
        val d = serveScopeDepth(spark) - 1
        if (d == 0) { serveScopeDepth.remove(spark); spark.conf.set(key, "true") }
        else serveScopeDepth(spark) = d
      }
    }

  /** Non-SQL-expressible op — driver records a weaker rows-only check. */
  def rowsOnly(doc: String)(
      run: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(run, None, doc)
}
