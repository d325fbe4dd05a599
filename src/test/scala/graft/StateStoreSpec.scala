package graft

import graft.operators.GraftStream
import graft.queries.GraftQuery
import graft.streaming.Streams
import org.scalatest.funsuite.AnyFunSuite

/** Running-reduce value of the drain-shaped pipeline: row count and id
  * sum per key. */
final case class DrainCount(key: Long, cnt: Long, idSum: Long)

/** The engine's state-store choice: the in-memory (HDFS-backed) provider
  * is the default, and RocksDB is scoped in only where Spark requires it
  * (transformWithState). */
class StateStoreSpec extends AnyFunSuite with TestSession {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val rocksDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("default store is HDFS-backed; RocksDB only inside the transformWithState scope") {
    // a new session inherits Engine.configure's settings and none of the
    // shared session's runtime mutations
    assert(spark.newSession().conf.get(providerKey) == hdfs)
    val before = spark.conf.getOption(providerKey)
    assert(before.contains(hdfs))
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
    import spark.implicits._
    val name = Streams.fresh("state_store_drain", sfDir)
    val ckpt = Streams.ckpt(name)
    val end = 20000L
    val keys = 97L
    GraftQuery.withShufflePartitions(spark, 4) {
      val src = spark.readStream.format("graft-seq")
        .option("end", end.toString).option("rowsPerBatch", "5000")
        .option("numPartitions", "4").load()
      val q = GraftStream.fromDataset(src.select("id").as[Long])
        .map(i => DrainCount(i % keys, 1L, i))
        .keyBy(_.key)
        .runningReduce((a, b) => DrainCount(a.key, a.cnt + b.cnt, a.idSum + b.idSum))
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    val batch = new java.io.File(s"$ckpt/commits").list()
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(batch == 3, "four 5000-row batches")
    val offsetLog = scala.io.Source.fromFile(s"$ckpt/offsets/$batch")
    try assert(offsetLog.mkString.contains(hdfs))
    finally offsetLog.close()

    val state = spark.read.format("statestore").option("batchId", batch).load(ckpt)
      .selectExpr("value.groupState.key", "value.groupState.cnt", "value.groupState.idSum")
      .as[(Long, Long, Long)].collect().toSet
    // ids k, k + keys, ... below end: n terms of an arithmetic series
    val expected = (0L until keys).map { k =>
      val n = (end - k + keys - 1) / keys
      (k, n, n * k + keys * n * (n - 1) / 2)
    }.toSet
    assert(state == expected)
  }
}
