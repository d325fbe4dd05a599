package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-seq`: a DataSource V2 custom source — the reference's S2 surface
  * (`SourceFunction.java:29-52`: a user-defined run loop emitting elements
  * into the stream, wrapped by `StreamSource.java:43`) expressed as Spark's
  * production connector API instead of a thread with a lock.
  *
  * Semantics: emits the deterministic sequence `[start, end)` as typed
  * records `(id, ts, key, value)` — every payload column a pure function
  * of the sequence index, so any range replays identically (the reference's
  * SourceFunction emits arbitrary typed `T`; this connector's record shape
  * is the Spark-native equivalent of that data-bearing surface):
  *
  *  - `id  BIGINT`     — the index itself
  *  - `ts  TIMESTAMP`  — 2024-01-01T00:00:00Z + id seconds (event time for
  *                       watermarked consumers)
  *  - `key BIGINT`     — id % `keys` (the keyed-stream dimension; ranges
  *                       longer than `keys` wrap around and REPLAY the key
  *                       space — the natural duplicate generator)
  *  - `value DOUBLE`   — (id % 1000) / 10.0 (a measure column)
  *
  * Everything that makes a V2 *streaming* connector a connector is here
  * and real:
  *
  *  - **Offsets are the contract.** A [[SeqOffset]] is "rows offered so
  *    far"; it serializes to JSON in the checkpoint's offset log, and any
  *    `[start', end')` range is replayable on demand — exactly-once
  *    delivery falls out of deterministic range replay + the sink's
  *    transactionality, never from source-side dedup state.
  *  - **Admission control.** [[SupportsAdmissionControl]]: each trigger
  *    the engine passes the last available offset + a [[ReadLimit]], and
  *    the source admits at most `rowsPerBatch` more — the G2 rate knob as
  *    a source property (≙ `maxOffsetsPerTrigger`), bounding per-batch
  *    work no matter how far behind the query is. `ReadAllAvailable`
  *    (Trigger.Once / the engine explicitly asking for a full drain)
  *    overrides the rate knob and admits everything up to the cap, exactly
  *    like Kafka's maxOffsetsPerTrigger under Trigger.Once.
  *  - **Partitioned reads.** Each micro-batch's range splits into
  *    `numPartitions` contiguous slices, one [[PartitionReader]] per
  *    slice, so a batch scans in parallel across executors; the reader
  *    itself is O(1)-memory (a counter, not a buffer).
  *  - **Column pruning.** The ScanBuilder implements
  *    [[SupportsPushDownRequiredColumns]]: a consumer that selects only
  *    `id` gets rows with ONE field materialized — at 100 TB-rate
  *    ingestion the pruned columns are never computed, the DSv2 analog of
  *    parquet's ReadSchema pruning (PlanSpec asserts the pruned scan).
  *  - **Restart recovery.** A restarted query passes the checkpoint log's
  *    last offset straight into `latestOffset(start, limit)`, so a cold
  *    connector instance resumes exactly after the last commit with no
  *    duplicate or skipped range (SeqSourceSpec drives cold
  *    grown-`end` runs + a draining restart over one checkpoint).
  *
  * The batch path (`spark.read.format("graft-seq")`) shares the same
  * partition planning and reader — one connector, both execution modes
  * (TableCapability.BATCH_READ + MICRO_BATCH_READ).
  */
class SeqSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-seq"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SeqSource.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SeqTable(SeqOptions.from(properties))
}

object SeqSource {
  val SCHEMA: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("key", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** 2024-01-01T00:00:00Z in epoch MICROseconds (TimestampType's physical
    * representation); the oracle mirrors it as a TIMESTAMP literal. */
  val TS_BASE_MICROS: Long = 1704067200000000L
}

/** Validated connector options; analysis-time failure on bad config. */
final case class SeqOptions(
    start: Long, end: Long, rowsPerBatch: Long, numPartitions: Int, keys: Long)

object SeqOptions {
  def from(props: util.Map[String, String]): SeqOptions = {
    // DSv2 convention: data source options are case-insensitive
    val ci = new CaseInsensitiveStringMap(props)
    def opt(k: String): Option[String] =
      Option(ci.get(k)).map(_.trim).filter(_.nonEmpty)
    val end = opt("end").map(_.toLong).getOrElse(
      throw new IllegalArgumentException(
        "graft-seq: required option 'end' (exclusive upper bound) is missing"))
    val start = opt("start").map(_.toLong).getOrElse(0L)
    require(start >= 0, s"graft-seq: start ($start) must be >= 0")
    require(end >= start, s"graft-seq: end ($end) must be >= start ($start)")
    val rowsPerBatch =
      opt("rowsPerBatch").map(_.toLong).getOrElse(math.max(end - start, 1L))
    require(rowsPerBatch > 0,
      s"graft-seq: rowsPerBatch ($rowsPerBatch) must be positive")
    val numPartitions = opt("numPartitions").map(_.toInt).getOrElse(4)
    require(numPartitions > 0,
      s"graft-seq: numPartitions ($numPartitions) must be positive")
    val keys = opt("keys").map(_.toLong).getOrElse(100L)
    require(keys > 0, s"graft-seq: keys ($keys) must be positive")
    SeqOptions(start, end, rowsPerBatch, numPartitions, keys)
  }
}

final class SeqTable(opts: SeqOptions) extends Table with SupportsRead {
  override def name(): String = s"graft-seq[${opts.start},${opts.end})"
  override def schema(): StructType = SeqSource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SeqScanBuilder(opts)
}

/** Column pruning lives here: the engine narrows the required schema
  * before `build()`, and only the surviving fields are ever computed. */
final class SeqScanBuilder(opts: SeqOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = SeqSource.SCHEMA
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new SeqScan(opts, required)
}

final class SeqScan(opts: SeqOptions, schema: StructType) extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft-seq [${opts.start}, ${opts.end}) x${opts.numPartitions} " +
      s"cols=${schema.fieldNames.mkString(",")}"
  override def toBatch: Batch = new SeqBatch(opts, schema)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SeqMicroBatchStream(opts, schema)
}

/** Offset = count of rows offered from the head of the sequence. */
final case class SeqOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

final class SeqMicroBatchStream(opts: SeqOptions, schema: StructType)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** End snapshot for a Trigger.AvailableNow run (the backfill-drain
    * pattern: process everything available at start, in rate-limited
    * batches, then terminate). The sequence's head is statically `end`,
    * so the snapshot is a constant; a feed-backed connector would capture
    * its current head offset here. */
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(opts.end)

  override def initialOffset(): Offset = SeqOffset(opts.start)

  /** Admission control proper: the engine hands in the last available
    * offset (deserialized from the checkpoint log on restart) and the read
    * limit, and the source answers "how far may this trigger go" — pure
    * arithmetic, no connector-instance state, so recovery is correct by
    * construction (a cold instance resumes exactly after the last commit).
    *
    * ReadLimit semantics match the built-in sources: ReadMaxRows bounds
    * the step; ReadAllAvailable (Trigger.Once, or an engine-requested
    * drain) overrides the rate knob and admits the full remaining range;
    * a CompositeReadLimit admits the tightest of its bounding members
    * (ReadMinRows members don't bound above and are ignored here). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SeqOffset].n
    val cap = availableNowCap.getOrElse(opts.end)
    def step(l: ReadLimit): Long = l match {
      case r: ReadMaxRows => r.maxRows()
      case _: ReadAllAvailable => math.max(cap - s, 0L)
      case c: CompositeReadLimit =>
        val bounds = c.getReadLimits.map(step)
        if (bounds.isEmpty) math.max(cap - s, 0L) else bounds.min
      case _ => math.max(cap - s, 0L) // ReadMinRows etc.: no upper bound
    }
    SeqOffset(math.min(cap, s + math.max(step(limit), 0L)))
  }

  /** The G2 rate knob as the connector's declared default limit. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(opts.rowsPerBatch)

  /** True head of the unbounded range (progress reporting / backlog). */
  override def reportLatestOffset(): Offset = SeqOffset(opts.end)

  /** With SupportsAdmissionControl the engine always calls the two-arg
    * variant; the legacy path cannot know the restart position. */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-seq uses SupportsAdmissionControl.latestOffset(start, limit)")

  override def deserializeOffset(json: String): Offset =
    SeqOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    SeqBatch.slices(
      start.asInstanceOf[SeqOffset].n,
      end.asInstanceOf[SeqOffset].n,
      opts.numPartitions)

  override def createReaderFactory(): PartitionReaderFactory =
    SeqReaderFactory(schema.fieldNames, opts.keys)

  override def stop(): Unit = ()
}

final class SeqBatch(opts: SeqOptions, schema: StructType) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    SeqBatch.slices(opts.start, opts.end, opts.numPartitions)
  override def createReaderFactory(): PartitionReaderFactory =
    SeqReaderFactory(schema.fieldNames, opts.keys)
}

object SeqBatch {
  /** `[s, e)` as `n` contiguous slices (empty slices dropped). Bounds are
    * computed as `base*i + min(i, rem)` — never `i * total`, which
    * overflows Long for ranges past ~Long.MaxValue/n and would silently
    * plan garbage slices. The first `rem` slices carry one extra row. */
  def slices(s: Long, e: Long, n: Int): Array[InputPartition] = {
    val total = math.max(e - s, 0L)
    val base = total / n
    val rem = total % n
    def lo(i: Int): Long = s + base * i + math.min(i.toLong, rem)
    (0 until n).iterator
      .map(i => SeqInputPartition(lo(i), lo(i + 1)))
      .filter(p => p.hi > p.lo)
      .toArray
  }
}

final case class SeqInputPartition(lo: Long, hi: Long) extends InputPartition

/** Emits only the pruned fields, each a pure function of the index, into
  * ONE reused row (valid until the next `next()`, as DSv2 allows) through
  * typed setters resolved once per reader: no per-row allocation or boxing. */
final case class SeqReaderFactory(fields: Array[String], keys: Long)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SeqInputPartition]
    val row = new SpecificInternalRow(fields.map(SeqSource.SCHEMA(_).dataType).toSeq)
    val setters: Array[Long => Unit] = fields.zipWithIndex.map {
      case ("id", j) => (i: Long) => row.setLong(j, i)
      case ("ts", j) => (i: Long) => row.setLong(j, SeqSource.TS_BASE_MICROS + i * 1000000L)
      case ("key", j) => (i: Long) => row.setLong(j, i % keys)
      case ("value", j) => (i: Long) => row.setDouble(j, (i % 1000L) / 10.0)
      case (other, _) => throw new IllegalArgumentException(
        s"graft-seq: unknown column '$other'")
    }
    new PartitionReader[InternalRow] {
      private var cur = p.lo - 1
      override def next(): Boolean = { cur += 1; cur < p.hi }
      override def get(): InternalRow = { setters.foreach(_(cur)); row }
      override def close(): Unit = ()
    }
  }
}
