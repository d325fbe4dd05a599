package graft.streaming

import graft.operators.{GraftStream, KeyedGraftStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming drivers for the reference's continuously-emitting
  * pipelines (SURVEY.md §3: source → keyed running state → update sink).
  *
  * The reference runs an always-on mailbox loop per task
  * (`MailboxProcessor.java:158`); the Spark-native equivalent is
  * micro-batch execution — each trigger re-runs the incremental plan and
  * the state store carries keyed state across batches
  * (≙ HeapKeyedStateBackend: InPlaceStateStoreProvider's heap map, updated
  * in place over delta checkpoints; RocksDB remains available and is used
  * where Spark requires it).
  */
object Streams {

  /** Streaming scratch root on tmpfs: checkpoint I/O (one commit-log +
    * state-store snapshot per micro-batch) is pure latency at gate-sized
    * state, and /tmp is disk-backed in this container — the r3 driver
    * bench spent most of its streaming-gate time in store/checkpoint
    * writes. Production puts checkpoints on reliable shared storage; the
    * gate's tmpfs is the single-node stand-in for "fast checkpoint
    * medium", not a semantics change. */
  /** Overridable so concurrent drivers over the same sf dirs can isolate
    * their scratch (stable gate names assume ONE driver per root, the
    * same single-process invariant as the memoized query caches). */
  val scratchRoot: String =
    sys.env.getOrElse("GRAFT_STREAM_SCRATCH", "/dev/shm/graft-stream")

  def ckpt(name: String): String = s"$scratchRoot/ckpt/$name"

  /** Stable per-(gate, sf dir) scratch name, WIPED on entry: every
    * invocation overwrites its own previous scratch (staged source files,
    * checkpoint, sink output) instead of accumulating nanoTime-unique
    * copies — unbounded tmpfs growth across bench reps was real, and a
    * finished query's checkpoint can never be reused anyway (resuming it
    * would emit nothing), so the wipe is also what makes the stable name
    * correct. Deletion at START (not end) keeps the returned lazy
    * DataFrame readable until the caller materializes it. */
  def fresh(gate: String, dir: String): String = {
    val name = s"${gate}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    Seq("src", "ckpt", "sink", "split", "cdc", "ivm", "cms", "embed",
        "graph").foreach { kind =>
      val root = new java.io.File(s"$scratchRoot/$kind/$name")
      PartitionedStore.removeTree(root)
      // a silently failed wipe would RESUME the previous run's finished
      // checkpoint and emit nothing — fail loudly here instead
      require(!root.exists(), s"could not wipe scratch ${root.getPath}")
    }
    name
  }

  /** Stage a batch DataFrame as `files` parquet part-files under a fresh
    * scratch dir (one batch write job — never a driver collect), to serve
    * as an unbounded-source stand-in. */
  def stage(df: DataFrame, name: String, files: Int,
      mode: String = "overwrite"): String = {
    val dir = s"$scratchRoot/src/$name"
    df.repartition(files).write.mode(mode).parquet(dir)
    dir
  }

  /** Open a rate-limited file stream over a staged dir: the reference's
    * S2 custom-source surface (`SourceFunction.java:29-52` run loop)
    * mapped to Spark's maxFilesPerTrigger-bounded file source — the
    * production pattern for streaming a landed 100 TB corpus through a
    * pipeline at a controlled rate (G2's buffer/rate knob, as a source
    * option instead of a per-operator buffer timeout). One footer read
    * supplies the schema (streaming sources must not infer). */
  def fileStream(spark: SparkSession, dir: String,
      filesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(dir)

  /** stage + fileStream in one step for single-wave sources. */
  def stagedFileStream(spark: SparkSession, df: DataFrame, name: String,
      files: Int, filesPerTrigger: Int = 1): DataFrame =
    fileStream(spark, stage(df, name, files), filesPerTrigger)

  /** Stage `slice` as `files` source files and drain it through
    * `onBatch` (`filesPerTrigger` files per micro-batch) under `name`'s
    * checkpoint, with `partitions` shuffle partitions for the staging
    * write and every trigger. Returns once all staged files are
    * processed; the query is stopped even when a batch throws. */
  def drainStaged(spark: SparkSession, slice: DataFrame, name: String,
      files: Int, filesPerTrigger: Int, partitions: Int)(
      onBatch: (DataFrame, Long) => Unit): Unit =
    graft.queries.GraftQuery.withShufflePartitions(spark, partitions) {
      val q = stagedFileStream(spark, slice, name, files, filesPerTrigger)
        .writeStream.queryName(name)
        .option("checkpointLocation", ckpt(name))
        .foreachBatch(onBatch)
        .start()
      try q.processAllAvailable() finally q.stop()
    }

  /** The WordCount pipeline (the reference's single executable spec,
    * `WordCount.java:14-35`: fromElements → flatMap → filter → keyBy →
    * running reduce → sink), run as a real Structured Streaming job over a
    * MemoryStream source.
    *
    * Feeding one batch per element reproduces the reference's per-element
    * emission trace exactly (SURVEY.md §7.4.1); feeding all elements in
    * one batch yields one final update per key. Returns the memory sink's
    * update log (one row per (key, updated running count) per batch).
    */
  def wordCount(spark: SparkSession, batches: Seq[Seq[String]],
      queryName: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val running = wordCountPipeline(spark, source)
    val query = running
      .toDF("word", "cnt")
      .writeStream
      .queryName(queryName)
      .outputMode("update")
      .format("memory")
      .option("checkpointLocation", ckpt(queryName))
      .start()
    // One processAllAvailable per addData = one micro-batch per feed step.
    batches.foreach { b =>
      source.addData(b)
      query.processAllAvailable()
    }
    query.stop()
    spark.table(queryName)
  }

  /** Per-element update LOG of the running reduce — the reference's
    * defining T5 semantics (`StreamGroupedReduce.java:35-53`: every input
    * element emits the key's NEW running aggregate downstream). Feeds one
    * element per micro-batch and captures the full (batch_id, word,
    * running cnt) update trace through foreachBatch. The per-batch
    * collect() gathers only the UPDATE SET (a handful of changed keys per
    * element) — this is the golden-trace gate, the one place driver-side
    * capture is the point. */
  def wordCountLog(spark: SparkSession, batches: Seq[String],
      queryName: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    // Native update-mode running aggregate (r16, guide §4 — built-ins
    // over closures in the hot path): the update-LOG trace — every
    // batch emits each updated key's NEW running count — is exactly
    // Structured Streaming's update-mode aggregation semantics, so the
    // typed flatMap/filter/keyBy/runningReduce chain (object-mode per
    // trigger: encoder boundaries, closure execution, per-batch
    // re-analysis of the typed plan — the dominant cost at 50 batches)
    // is expressed as the whole-stage-codegen explode/filter/count
    // pipeline. Per-batch rows are identical (same \W+ tokenizer, same
    // length filter, same running totals — oracle hash-exact); the
    // GraftStream operator chain itself stays gated by
    // q_stream_wordcount, the reference-surface pin.
    val running = source.toDS().toDF("text")
      .select(explode(split(lower(col("text")), "\\W+")).as("word"))
      .filter(length(col("word")) >= 4)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val log = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val query = running.writeStream
      .queryName(queryName)
      .outputMode("update")
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        df.collect().foreach(r => log.add((batchId, r.getString(0), r.getLong(1))))
      }
      .option("checkpointLocation", ckpt(queryName))
      .start()
    batches.foreach { b =>
      source.addData(b)
      query.processAllAvailable()
    }
    query.stop()
    import scala.jdk.CollectionConverters._
    log.asScala.toSeq.toDF("batch_id", "word", "cnt")
  }

  private def wordCountPipeline(spark: SparkSession,
      source: MemoryStream[String]) = {
    import spark.implicits._
    val counts = new GraftStream(source.toDS())
      .flatMap(_.toLowerCase.split("\\W+").toSeq)
      .filter(w => w.length >= 4)
      .keyBy(identity[String])
      .kv.mapValues(_ => 1L)
    new KeyedGraftStream(counts).runningReduce(_ + _)
  }
}
