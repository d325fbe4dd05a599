package graft

import java.nio.file.Files

import graft.operators.GraftStream
import graft.queries.GraftQuery
import graft.streaming.{InPlaceStateStoreProvider, LocalCheckpointFileManager, Streams}
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** Running-reduce value of the drain-shaped pipeline: row count and id
  * sum per key. */
final case class DrainCount(key: Long, cnt: Long, idSum: Long)

/** The drain-shaped pipeline (`graft-seq` → map → keyBy → runningReduce →
  * noop) on the session's state store, and the closed form of its state. */
object DrainPipeline {
  val keys = 97L

  /** Runs the pipeline over ids [0, end) in 5000-row batches, four state
    * partitions, resuming whatever `ckpt` holds. */
  def run(spark: SparkSession, ckpt: String, end: Long,
      f: (DrainCount, DrainCount) => DrainCount = add): Unit = {
    import spark.implicits._
    GraftQuery.withShufflePartitions(spark, 4) {
      val src = spark.readStream.format("graft-seq")
        .option("end", end.toString).option("rowsPerBatch", "5000")
        .option("numPartitions", "4").load()
      val q = GraftStream.fromDataset(src.select("id").as[Long])
        .map(i => DrainCount(i % keys, 1L, i))
        .keyBy(_.key)
        .runningReduce(f)
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable()
      finally q.stop()
    }
  }

  def add(a: DrainCount, b: DrainCount): DrainCount =
    DrainCount(a.key, a.cnt + b.cnt, a.idSum + b.idSum)

  def lastBatch(ckpt: String): Long =
    new java.io.File(s"$ckpt/commits").list()
      .filter(_.forall(_.isDigit)).map(_.toLong).max

  /** (key, count, id sum) per key, read back through the `statestore` source. */
  def state(spark: SparkSession, ckpt: String): Set[(Long, Long, Long)] = {
    import spark.implicits._
    spark.read.format("statestore").option("batchId", lastBatch(ckpt)).load(ckpt)
      .selectExpr("value.groupState.key", "value.groupState.cnt", "value.groupState.idSum")
      .as[(Long, Long, Long)].collect().toSet
  }

  /** ids k, k + keys, ... below end: n terms of an arithmetic series */
  def expected(end: Long): Set[(Long, Long, Long)] = (0L until keys).map { k =>
    val n = (end - k + keys - 1) / keys
    (k, n, n * k + keys * n * (n - 1) / 2)
  }.toSet
}

/** The engine's state-store choice: the in-memory in-place provider is the
  * default, and RocksDB is scoped in only where Spark requires it
  * (transformWithState); and the engine's local checkpoint file manager. */
class StateStoreSpec extends AnyFunSuite with TestSession {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val inPlace = classOf[InPlaceStateStoreProvider].getName
  private val rocksDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("default store is in-place; RocksDB only inside the transformWithState scope") {
    // a new session inherits Engine.configure's settings and none of the
    // shared session's runtime mutations
    assert(spark.newSession().conf.get(providerKey) == inPlace)
    val before = spark.conf.getOption(providerKey)
    assert(before.contains(inPlace))
    assert(GraftQuery.withRocksDBStateStore(spark)(spark.conf.get(providerKey)) == rocksDB)
    assert(spark.conf.getOption(providerKey) == before)

    // q_stream_tws runs (Spark rejects transformWithState on any other
    // provider) and equals its oracle; the session conf is restored
    val got = SparkEntry.queries("q_stream_tws")(spark, sfDir)
      .selectExpr("key", "n", "sum_value").collect().map(_.toSeq).toSet
    assert(spark.conf.getOption(providerKey) == before)
    val oracle = spark.sql(SparkEntry.oracleSql("q_stream_tws"))
      .selectExpr("key", "n", "sum_value").collect().map(_.toSeq).toSet
    assert(got.size == 100)
    assert(got == oracle)
  }

  test("drain-shaped running reduce on the default store: statestore read-back equals the closed form") {
    val ckpt = Streams.ckpt(Streams.fresh("state_store_drain", sfDir))
    DrainPipeline.run(spark, ckpt, 20000L)
    val batch = DrainPipeline.lastBatch(ckpt)
    assert(batch == 3, "four 5000-row batches")
    val offsetLog = scala.io.Source.fromFile(s"$ckpt/offsets/$batch")
    try assert(offsetLog.mkString.contains(inPlace))
    finally offsetLog.close()
    assert(DrainPipeline.state(spark, ckpt) == DrainPipeline.expected(20000L))
  }

  test("local checkpoint file manager: no-overwrite rename fails on an existing target, overwrite replaces it, cancel leaves no file") {
    val dir = Files.createTempDirectory("local-ckpt-fm")
    val fm = CheckpointFileManager.create(new Path(dir.toString),
      spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    val target = new Path(dir.toString, "1")
    def write(overwrite: Boolean, text: String): Unit = {
      val out = fm.createAtomic(target, overwrite)
      out.write(text.getBytes("UTF-8"))
      out.close()
    }
    def read(): String = new String(Files.readAllBytes(dir.resolve("1")), "UTF-8")

    write(overwrite = false, "first")
    assert(read() == "first")
    intercept[FileAlreadyExistsException](write(overwrite = false, "second"))
    assert(read() == "first")
    assert(dir.toFile.list().toSeq == Seq("1"), "the refused write left no temp file")
    write(overwrite = true, "third")
    assert(read() == "third")

    val cancelled = fm.createAtomic(new Path(dir.toString, "2"), false)
    cancelled.write(1)
    cancelled.cancel()
    assert(!dir.toFile.list().exists(n => n == "2" || n.startsWith(".2.")),
      "cancel leaves neither the file nor its temp file")
  }
}
