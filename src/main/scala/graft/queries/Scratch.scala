package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-gate scratch-block lifecycle.
  *
  * Several gates eagerly materialize PRIVATE intermediate frames with
  * `localCheckpoint()` (plan-truncation + one-materialization semantics —
  * see DedupQueries.shingleDf's comment for why). A checkpointed frame's
  * RDD blocks, however, are only freed by the ContextCleaner after the
  * frame becomes unreachable AND a GC runs — in a long single-JVM session
  * running the full 113-query inventory, those unreferenced blocks
  * accumulate in the block manager and late-run queries pay the memory /
  * GC pressure (measured round 4: q_knn_predict 13.5 s in-session vs
  * 1.2 s solo on identical code).
  *
  * Fix: gates route private checkpoints through [[checkpoint]], which
  * records exactly the RDDs the call materialized; the harness (Bench,
  * Verify, the smoke suite) calls [[release]] after each gate's action
  * completes, unpersisting them synchronously instead of waiting for GC.
  * The session-keyed [[Memo]] builds (the shingle/band/gram/vec/q8
  * corpus frames and the rest) bypass this on purpose — they are the
  * tables a cluster pipeline would write to storage once per corpus,
  * and stay resident by design.
  *
  * Released frames must not be re-executed: a locally-checkpointed RDD's
  * blocks are its ONLY copy (lineage is truncated), so `release` is
  * correct precisely because gate-private frames are rebuilt from scratch
  * on every invocation and never escape their gate.
  */
object Scratch {
  private val pending = scala.collection.mutable.LinkedHashSet.empty[Int]

  /** Eagerly localCheckpoint a gate-private frame, recording the RDD ids
    * it persisted so [[release]] can free their blocks. Builds/serves
    * call this concurrently from Future threads (r15 overlap), so the
    * registration diff runs under one lock (see [[track]]); the eager
    * materialization job runs OUTSIDE the lock so overlapped
    * checkpoints still overlap their compute. */
  def checkpoint(df: DataFrame): DataFrame = track(df, eager = true)

  /** [[checkpoint]] with `eager = false`: the plan is truncated NOW (the
    * returned frame reads a LogicalRDD) but no materializing count job
    * runs — the blocks populate on the FIRST downstream action. The
    * serve loops pair every checkpoint with an immediately following
    * driver-metadata collect over it (bucket ids, entry groups), so the
    * collect doubles as the materialization and the per-hop count job —
    * pure fixed overhead, ~half the actions of a beam serve — disappears
    * (guide §1.2: per-task/fixed work, after the algorithm is right).
    * Everything else (Scratch tracking, release discipline, lineage
    * truncation, single-computation of twice-referenced frames via RDD
    * dedup in the DAG) is [[checkpoint]]'s. */
  def checkpointLazy(df: DataFrame): DataFrame = track(df, eager = false)

  /** The registration diff (getPersistentRDDs before/after the
    * localCheckpoint CALL, which registers the persist in both modes)
    * is atomic under this object's lock, so two concurrent track()
    * calls can never attribute each other's RDD. Eager mode registers
    * lazily INSIDE the lock (no job) and materializes OUTSIDE it, so
    * concurrent eager checkpoints still overlap their compute. A
    * concurrent non-Scratch persist (a [[Memo]] build's corpus frame)
    * could in principle land inside the microseconds-wide diff window
    * of another thread; each key's build runs once, under its [[Memo]]
    * lock, before any overlapped serve uses it, so the window is not
    * reachable in practice. */
  private def track(df: DataFrame, eager: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val out = synchronized {
      val before = sc.getPersistentRDDs.keySet
      val o = df.localCheckpoint(eager = false)
      pending ++= sc.getPersistentRDDs.keySet -- before
      o
    }
    // first action over the LogicalRDD computes and persists every
    // partition — the lazy-registration + count form of eager mode
    if (eager) out.count()
    out
  }

  /** Synchronously drop every scratch block recorded since the last
    * release. Call AFTER the gate's action has fully materialized its
    * result — the checkpointed data is unrecoverable afterwards. */
  def release(spark: SparkSession): Unit = {
    val ids = synchronized { val s = pending.toSeq; pending.clear(); s }
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Number of currently tracked (not yet released) scratch RDDs. */
  def trackedCount: Int = synchronized(pending.size)
}
