package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{InPlaceStateStoreProvider, Streams}

object InPlaceStateStoreSpec {
  val failed = new AtomicBoolean(false)
}

/** `InPlaceStateStoreProvider` driven directly (no query), then under the
  * drain-shaped query across a restart and a failed batch. */
class InPlaceStateStoreSpec extends AnyFunSuite with TestSession {

  private val hdfsClass =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val keySchema = new StructType().add("k", IntegerType)
  private val valueSchema = new StructType().add("s", StringType)
  private val keyProj = UnsafeProjection.create(keySchema)
  private val valueProj = UnsafeProjection.create(valueSchema)

  private def key(k: Int): UnsafeRow = keyProj(InternalRow(k)).copy()
  private def value(s: String): UnsafeRow =
    valueProj(InternalRow(UTF8String.fromString(s))).copy()

  private def storeConf(confs: (String, String)*): StateStoreConf = {
    val c = new SQLConf
    confs.foreach { case (k, v) => c.setConfString(k, v) }
    new StateStoreConf(c, Map.empty)
  }

  private def provider(dir: String, cls: String = classOf[InPlaceStateStoreProvider].getName,
      conf: StateStoreConf = storeConf()): StateStoreProvider = {
    val hadoopConf = new Configuration()
    // the run id a query's tasks carry; Spark's providers require one
    hadoopConf.set("sql.streaming.runId", java.util.UUID.randomUUID().toString)
    val p = StateStoreProvider.create(cls)
    p.init(StateStoreId(dir, 0L, 0), keySchema, valueSchema,
      NoPrefixKeyStateEncoderSpec(keySchema), false, conf, hadoopConf, false, None)
    p
  }

  private def contents(s: ReadStateStore): Map[Int, String] =
    s.iterator().map(p => p.key.getInt(0) -> p.value.getString(0)).toMap

  private def commit(p: StateStoreProvider, version: Long)(body: StateStore => Unit): Unit = {
    val s = p.getStore(version)
    body(s)
    assert(s.commit() == version + 1)
  }

  private def tempDir(): String = Files.createTempDirectory("inplace-store").toString

  test("commit, then getStore at that version reads the held rows without a copy") {
    val p = provider(tempDir())
    commit(p, 0) { s => s.put(key(1), value("aaaa")); s.put(key(2), value("bbbb")) }
    val s = p.getStore(1)
    val row = s.get(key(1))
    assert(row.getString(0) == "aaaa")
    s.put(key(1), value("cccc"))
    assert(s.get(key(1)).getString(0) == "cccc", "a writer reads its own puts")
    assert(row.getString(0) == "aaaa", "the held row is untouched before commit")
    assert(s.commit() == 2)
    // same byte size: the new value was copied into the held row
    assert(row.getString(0) == "cccc")
    assert(contents(p.getReadStore(2)) == Map(1 -> "cccc", 2 -> "bbbb"))
    assert(p.getStore(2).get(key(1)) eq row, "the next writer sees the same held row")
    p.close()
  }

  test("abort leaves the held map unchanged and writes no delta file") {
    val dir = tempDir()
    val p = provider(dir)
    commit(p, 0) { s => s.put(key(1), value("aaaa")); s.put(key(2), value("bbbb")) }
    val heldRow = p.getReadStore(1).get(key(1))
    val s = p.getStore(1)
    s.put(key(1), value("zzzz"))
    s.put(key(3), value("cccc"))
    s.remove(key(2))
    assert(s.get(key(2)) == null)
    assert(contents(s) == Map(1 -> "zzzz", 3 -> "cccc"))
    s.abort()
    val next = p.getStore(1)
    assert(contents(next) == Map(1 -> "aaaa", 2 -> "bbbb"))
    assert(next.get(key(1)) eq heldRow, "the aborted writer released the held map")
    assert(!new java.io.File(s"$dir/0/0/2.delta").exists())
    p.close()
  }

  test("getStore of an older version reloads it from the files") {
    val p = provider(tempDir())
    commit(p, 0)(_.put(key(1), value("v1")))
    commit(p, 1) { s => s.put(key(1), value("v2")); s.put(key(2), value("x")) }
    val retry = p.getStore(1)
    assert(contents(retry) == Map(1 -> "v1"))
    // the retry commits over version 2, and its map becomes the held one
    val retryRow = retry.get(key(1))
    retry.put(key(3), value("y"))
    assert(retry.commit() == 2)
    assert(contents(p.getReadStore(2)) == Map(1 -> "v1", 3 -> "y"))
    assert(p.getReadStore(2).get(key(1)) eq retryRow)
    p.close()
  }

  test("same-size and size-changing updates and removes read back, also through a fresh HDFS provider") {
    val dir = tempDir()
    val p = provider(dir)
    commit(p, 0) { s => (1 to 20).foreach(k => s.put(key(k), value(s"k$k"))) }
    commit(p, 1) { s => s.put(key(1), value("k1+")); s.remove(key(2)) }
    commit(p, 2) { s =>
      s.put(key(1), value("now much longer than eight bytes"))
      s.put(key(3), value(""))
      s.put(key(21), value("new"))
    }
    val want = (1 to 21).filter(_ != 2).map(k => k -> s"k$k").toMap ++
      Map(1 -> "now much longer than eight bytes", 3 -> "", 21 -> "new")
    assert(contents(p.getReadStore(3)) == want)
    val hdfs = provider(dir, hdfsClass)
    assert(contents(hdfs.getReadStore(3)) == want)
    assert(contents(hdfs.getReadStore(2)) ==
      (1 to 20).filter(_ != 2).map(k => k -> s"k$k").toMap + (1 -> "k1+"))
    hdfs.close()
    p.close()
  }

  test("after maintenance (snapshot and cleanup) a fresh provider loads the same state") {
    val dir = tempDir()
    val conf = storeConf(
      "spark.sql.streaming.stateStore.minDeltasForSnapshot" -> "2",
      "spark.sql.streaming.minBatchesToRetain" -> "1")
    val p = provider(dir, conf = conf)
    (0 until 6).foreach(v => commit(p, v)(_.put(key(v % 3), value(s"v$v"))))
    p.doMaintenance()
    assert(new java.io.File(s"$dir/0/0/6.snapshot").exists())
    // cleanup keeps the latest snapshot at or before the oldest retained version
    (6 until 8).foreach(v => commit(p, v)(_.put(key(v % 3), value(s"v$v"))))
    p.doMaintenance()
    val files = new java.io.File(s"$dir/0/0").list().toSet
    assert(files.contains("6.snapshot") && !files.contains("5.delta"),
      s"files before the snapshot are cleaned up: $files")
    val want = Map(0 -> "v6", 1 -> "v7", 2 -> "v5")
    for (cls <- Seq(hdfsClass, classOf[InPlaceStateStoreProvider].getName)) {
      val fresh = provider(dir, cls, conf)
      assert(contents(fresh.getReadStore(8)) == want, cls)
      fresh.close()
    }
    p.close()
  }

  test("drain pipeline: stop after batch 1, restart, and the state equals the closed form") {
    val ckpt = Streams.ckpt(Streams.fresh("inplace_restart", sfDir))
    DrainPipeline.run(spark, ckpt, 10000L)
    assert(DrainPipeline.lastBatch(ckpt) == 1)
    assert(DrainPipeline.state(spark, ckpt) == DrainPipeline.expected(10000L))
    DrainPipeline.run(spark, ckpt, 20000L)
    assert(DrainPipeline.lastBatch(ckpt) == 3)
    val offsetLog = scala.io.Source.fromFile(s"$ckpt/offsets/3")
    try assert(offsetLog.mkString.contains(classOf[InPlaceStateStoreProvider].getName))
    finally offsetLog.close()
    assert(DrainPipeline.state(spark, ckpt) == DrainPipeline.expected(20000L))
  }

  test("drain pipeline: a reduce that throws once fails batch 2; a restart resumes to the closed form") {
    val ckpt = Streams.ckpt(Streams.fresh("inplace_failure", sfDir))
    InPlaceStateStoreSpec.failed.set(false)
    val failOnce = (a: DrainCount, b: DrainCount) => {
      if (b.idSum == 12345L && InPlaceStateStoreSpec.failed.compareAndSet(false, true)) {
        throw new IllegalStateException("injected failure in batch 2")
      }
      DrainPipeline.add(a, b)
    }
    intercept[StreamingQueryException](DrainPipeline.run(spark, ckpt, 20000L, failOnce))
    assert(InPlaceStateStoreSpec.failed.get)
    assert(DrainPipeline.lastBatch(ckpt) == 1)
    DrainPipeline.run(spark, ckpt, 20000L, failOnce)
    assert(DrainPipeline.lastBatch(ckpt) == 3)
    assert(DrainPipeline.state(spark, ckpt) == DrainPipeline.expected(20000L))
  }
}
