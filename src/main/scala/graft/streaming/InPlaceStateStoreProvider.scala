package graft.streaming

import java.io.DataOutputStream
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.io.{CompressionCodec, LZ4CompressionCodec, LZFCompressionCodec,
  SnappyCompressionCodec, ZStdCompressionCodec}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform

/** The engine's state store: one heap map per partition, updated in place
  * at each commit — the shape of mini-flink's keyed state
  * (`NestedStateMap.java:41`) — over the checkpoint files of Spark's
  * `HDFSBackedStateStoreProvider`.
  *
  * Spark's HDFS-backed provider copies the whole previous version into a
  * new map on every `getStore`, so each micro-batch pays for every key of
  * the partition. Here memory holds only the latest committed version:
  *   - `getStore(v)`/`getReadStore(v)` at the held version are views of the
  *     held map, not copies. A writer's puts and removes go to a small
  *     overlay (so it reads its own writes) and are streamed to
  *     `<v+1>.delta` in the HDFS provider's record format and codec.
  *   - `commit` closes the delta file and folds the overlay into the map; a
  *     value of unchanged byte size is copied into the existing row, so a
  *     running reduce makes no long-lived object per updated key.
  *   - any other version (restart, retry after the map moved on, a second
  *     writer at the held version, the `statestore` reader) is loaded from
  *     the files by a throwaway HDFS provider, so recovery is Spark's.
  *   - maintenance writes `<v>.snapshot` in the HDFS format every
  *     `minDeltasForSnapshot` commits; the wrapped HDFS provider deletes
  *     files that are no longer needed.
  * Prefix-key, column-family and multi-value state (session windows, for
  * one) is served by the wrapped HDFS provider unchanged.
  *
  * Rows returned by `get` or an iterator may change at the next commit;
  * operators already copy any row they keep, as RocksDB reuses rows too. */
class InPlaceStateStoreProvider extends StateStoreProvider {
  import InPlaceStateStoreProvider._

  private var storeId: StateStoreId = _
  private var storeConf: StateStoreConf = _
  private var hadoopConf: Configuration = _
  private var newHdfs: () => StateStoreProvider = _
  private var hdfs: StateStoreProvider = _
  private var inPlace = false
  private var fm: CheckpointFileManager = _
  private var codec: CompressionCodec = _

  // guarded by this
  private var held: Rows = _
  private var heldVersion = -1L
  private var writer: Store = _
  private var commitsSinceSnapshot = 0

  override def init(stateStoreId: StateStoreId, keySchema: StructType,
      valueSchema: StructType, keyStateEncoderSpec: KeyStateEncoderSpec,
      useColumnFamilies: Boolean, storeConfs: StateStoreConf, hadoopConf: Configuration,
      useMultipleValuesPerKey: Boolean,
      stateSchemaProvider: Option[StateSchemaProvider]): Unit = {
    storeId = stateStoreId
    storeConf = storeConfs
    this.hadoopConf = hadoopConf
    newHdfs = () => {
      val p = StateStoreProvider.create(HdfsProvider)
      p.init(stateStoreId, keySchema, valueSchema, keyStateEncoderSpec, useColumnFamilies,
        storeConfs, hadoopConf, useMultipleValuesPerKey, stateSchemaProvider)
      p
    }
    hdfs = newHdfs() // its init makes the store directory
    inPlace = !useColumnFamilies && !useMultipleValuesPerKey &&
      keyStateEncoderSpec.isInstanceOf[NoPrefixKeyStateEncoderSpec]
    if (inPlace) {
      fm = CheckpointFileManager.create(stateStoreId.storeCheckpointLocation(), hadoopConf)
      codec = compressionCodec(storeConfs.compressionCodec)
    }
  }

  override def stateStoreId: StateStoreId = storeId

  override def getStore(version: Long, uniqueId: Option[String]): StateStore =
    if (!inPlace || uniqueId.isDefined) hdfs.getStore(version, uniqueId)
    else {
      val shared = synchronized {
        if (version == heldVersion && writer == null) {
          writer = new Store(version, held)
          Some(writer)
        } else None
      }
      shared.getOrElse(new Store(version, load(version)))
    }

  override def getReadStore(version: Long, uniqueId: Option[String]): ReadStateStore =
    if (!inPlace || uniqueId.isDefined) hdfs.getReadStore(version, uniqueId)
    else {
      val rows = synchronized(if (version == heldVersion) held else null)
      new ReadStore(version, if (rows != null) rows else load(version))
    }

  override def doMaintenance(): Unit = {
    if (inPlace) synchronized {
      if (held != null && commitsSinceSnapshot >= storeConf.minDeltasForSnapshot) {
        writeFile(new Path(storeId.storeCheckpointLocation(), s"$heldVersion.snapshot"),
          out => held.map.forEach((k, v) => writeRow(out, k, v)))
        commitsSinceSnapshot = 0
      }
    }
    hdfs.doMaintenance()
  }

  override def close(): Unit = {
    synchronized {
      held = null
      heldVersion = -1L
    }
    hdfs.close()
  }

  // Declared without init (Spark asks an uninitialised instance): the
  // HDFS provider's, so the stores it serves report into known metrics.
  override def supportedCustomMetrics: Seq[StateStoreCustomMetric] =
    StateStoreProvider.create(HdfsProvider).supportedCustomMetrics

  override def supportedInstanceMetrics: Seq[StateStoreInstanceMetric] =
    StateStoreProvider.create(HdfsProvider).supportedInstanceMetrics

  override def toString: String = s"InPlaceStateStoreProvider[$storeId]"

  /** `version` read from the checkpoint files into a map of its own. */
  private def load(version: Long): Rows = {
    val rows = new Rows
    if (version > 0) {
      val p = newHdfs()
      try {
        // the rows belong to the throwaway provider alone, so keep them
        val it = p.getReadStore(version, None).iterator()
        while (it.hasNext) {
          val pair = it.next()
          rows.put(pair.key, pair.value)
        }
      } finally p.close()
    }
    rows
  }

  /** Make `rows`, with the overlay folded in, the held map at `version`. */
  private def commitRows(store: Store, version: Long, rows: Rows,
      overlay: java.util.HashMap[UnsafeRow, UnsafeRow]): Unit = synchronized {
    overlay.forEach { (k, v) =>
      if (v eq Removed) rows.remove(k)
      else {
        val old = rows.map.get(k)
        if (old != null && old.getSizeInBytes == v.getSizeInBytes) {
          Platform.copyMemory(v.getBaseObject, v.getBaseOffset,
            old.getBaseObject, old.getBaseOffset, v.getSizeInBytes)
        } else rows.put(k, v)
      }
    }
    if (rows ne held) {
      held = rows
      writer = null
      commitsSinceSnapshot = 0
    } else if (writer eq store) writer = null
    heldVersion = version
    commitsSinceSnapshot += 1
  }

  private def closeWriter(store: Store): Unit = synchronized {
    if (writer eq store) writer = null
  }

  private def writeFile(path: Path, body: DataOutputStream => Unit): Unit = {
    val raw = fm.createAtomic(path, true)
    val out = new DataOutputStream(codec.compressedOutputStream(raw))
    try {
      body(out)
      out.writeInt(-1)
      out.close()
    } catch {
      case e: Throwable => cancel(raw, out); throw e
    }
  }

  private class ReadStore(val version: Long, rows: Rows) extends ReadStateStore {
    override def id: StateStoreId = storeId
    override def get(key: UnsafeRow, colFamilyName: String): UnsafeRow = rows.map.get(key)
    override def iterator(colFamilyName: String): StateStoreIterator[UnsafeRowPair] =
      new StateStoreIterator(pairs(rows, null))
    override def valuesIterator(key: UnsafeRow, colFamilyName: String): Iterator[UnsafeRow] =
      unsupported("multiple values per key")
    override def prefixScan(prefixKey: UnsafeRow,
        colFamilyName: String): StateStoreIterator[UnsafeRowPair] = unsupported("prefix scan")
    override def abort(): Unit = ()
    override def release(): Unit = ()
  }

  private class Store(version: Long, rows: Rows)
      extends ReadStore(version, rows) with StateStore {
    private val overlay = new java.util.HashMap[UnsafeRow, UnsafeRow]()
    private var raw: CancellableFSDataOutputStream = _
    private var out: DataOutputStream = _
    @volatile private var state: Int = Updating

    private def delta: DataOutputStream = {
      if (out == null) {
        raw = fm.createAtomic(new Path(id.storeCheckpointLocation(), s"${version + 1}.delta"), true)
        out = new DataOutputStream(codec.compressedOutputStream(raw))
      }
      out
    }

    override def get(key: UnsafeRow, colFamilyName: String): UnsafeRow = {
      val o = if (overlay.isEmpty) null else overlay.get(key)
      if (o == null) rows.map.get(key) else if (o eq Removed) null else o
    }

    override def put(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = {
      require(value != null, "Cannot put a null value")
      require(state == Updating, "Cannot put after already committed or aborted")
      val k = key.copy()
      val v = value.copy()
      overlay.put(k, v)
      writeRow(delta, k, v)
    }

    override def remove(key: UnsafeRow, colFamilyName: String): Unit = {
      require(state == Updating, "Cannot remove after already committed or aborted")
      if (get(key, colFamilyName) != null) {
        val k = key.copy()
        overlay.put(k, Removed)
        val o = delta
        o.writeInt(k.getSizeInBytes)
        o.write(k.getBytes)
        o.writeInt(-1)
      }
    }

    override def commit(): Long = {
      require(state == Updating, "Cannot commit after already committed or aborted")
      delta.writeInt(-1)
      out.close()
      commitRows(this, version + 1, rows, overlay)
      state = Committed
      if (storeConf.commitValidationEnabled) {
        StateStore.reportCommitToCoordinator(version + 1, id, hadoopConf)
      }
      version + 1
    }

    override def abort(): Unit = {
      if (state == Updating && raw != null) cancel(raw, out)
      if (state != Committed) closeWriter(this)
      state = Aborted
      overlay.clear()
    }

    override def hasCommitted: Boolean = state == Committed

    override def metrics: StateStoreMetrics =
      StateStoreMetrics(rows.map.size, rows.bytes, Map.empty)

    override def getStateStoreCheckpointInfo(): StateStoreCheckpointInfo =
      StateStoreCheckpointInfo(id.partitionId, version + 1, None, None)

    /** The held (or loaded) rows with this writer's overlay applied; map
      * rows first, then keys only the overlay has, each under its current
      * value, so a remove while iterating is seen. */
    override def iterator(colFamilyName: String): StateStoreIterator[UnsafeRowPair] = {
      val pair = new UnsafeRowPair()
      // `++` takes its operand by name: the overlay's keys are listed
      // only once the map's rows are done
      new StateStoreIterator(pairs(rows, overlay) ++
        overlay.keySet.toArray(new Array[UnsafeRow](0)).iterator
          .filter(k => !rows.map.containsKey(k))
          .flatMap { k =>
            val v = overlay.get(k)
            if (v eq Removed) None else Some(pair.withRows(k, v))
          })
    }

    override def release(): Unit = unsupported("release of a write store")
    override def putList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit =
      unsupported("multiple values per key")
    override def merge(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit =
      unsupported("multiple values per key")
    override def mergeList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit =
      unsupported("multiple values per key")
    override def createColFamilyIfAbsent(colFamilyName: String, keySchema: StructType,
        valueSchema: StructType, keyStateEncoderSpec: KeyStateEncoderSpec,
        useMultipleValuesPerKey: Boolean, isInternal: Boolean): Unit = unsupported("column families")
    override def removeColFamilyIfExists(colFamilyName: String): Boolean =
      unsupported("column families")

    override def toString: String = s"InPlaceStateStore[$id, version $version]"
  }
}

object InPlaceStateStoreProvider {
  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private val Updating = 0
  private val Committed = 1
  private val Aborted = 2

  /** Overlay value of a removed key. */
  private val Removed = new UnsafeRow(0)

  /** One version's rows and a running total of their key and value bytes. */
  private final class Rows {
    val map = new ConcurrentHashMap[UnsafeRow, UnsafeRow]()
    var bytes = 0L

    def put(k: UnsafeRow, v: UnsafeRow): Unit = {
      val old = map.put(k, v)
      bytes += v.getSizeInBytes +
        (if (old == null) k.getSizeInBytes else -old.getSizeInBytes)
    }

    def remove(k: UnsafeRow): Unit = {
      val old = map.remove(k)
      if (old != null) bytes -= k.getSizeInBytes + old.getSizeInBytes
    }
  }

  /** `rows` under the overlay's value for each key (removed keys skipped);
    * one reused pair, as Spark's stores do. */
  private def pairs(rows: Rows,
      overlay: java.util.HashMap[UnsafeRow, UnsafeRow]): Iterator[UnsafeRowPair] = {
    val pair = new UnsafeRowPair()
    rows.map.entrySet.iterator.asScala.flatMap { e =>
      val o = if (overlay == null) null else overlay.get(e.getKey)
      if (o == null) Some(pair.withRows(e.getKey, e.getValue))
      else if (o eq Removed) None
      else Some(pair.withRows(e.getKey, o))
    }
  }

  /** One HDFS-format record: key size, key bytes, value size, value bytes. */
  private def writeRow(out: DataOutputStream, k: UnsafeRow, v: UnsafeRow): Unit = {
    out.writeInt(k.getSizeInBytes)
    out.write(k.getBytes)
    out.writeInt(v.getSizeInBytes)
    out.write(v.getBytes)
  }

  // the provider serves only single-value, no-prefix, default-family state
  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(s"$what: not supported by the in-place state store")

  private def cancel(raw: CancellableFSDataOutputStream, out: DataOutputStream): Unit = {
    raw.cancel()
    try out.close() catch { case _: java.io.IOException => }
  }

  /** The codec `spark.sql.streaming.stateStore.compression.codec` names,
    * by short name or class, as Spark's HDFS provider resolves it. */
  private def compressionCodec(name: String): CompressionCodec = {
    val conf = Option(SparkEnv.get).map(_.conf).getOrElse(new SparkConf)
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "lz4" => new LZ4CompressionCodec(conf)
      case "lzf" => new LZFCompressionCodec(conf)
      case "snappy" => new SnappyCompressionCodec(conf)
      case "zstd" => new ZStdCompressionCodec(conf)
      case _ => Class.forName(name).getConstructor(classOf[SparkConf])
        .newInstance(conf).asInstanceOf[CompressionCodec]
    }
  }
}
