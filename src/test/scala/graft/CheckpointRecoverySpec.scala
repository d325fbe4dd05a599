package graft

import graft.operators.{GraftStream, KeyedGraftStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Fault tolerance: the reference deleted all of Flink's checkpointing
  * (SURVEY.md §0.3 — `runtime/checkpoint/` is 8 passive stubs). Here a
  * streaming query stopped mid-stream and restarted from its checkpoint
  * resumes with its keyed state intact — the engine-level capability the
  * reference lacks entirely, tested end-to-end. */
class CheckpointRecoverySpec extends AnyFunSuite with TestSession {

  test("running-reduce state survives query restart from checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val ckpt = s"/tmp/graft-ckpt/recovery-${System.nanoTime()}"

    val seen = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def startQuery() = {
      val keyed = new GraftStream(source.toDS())
        .keyBy(identity[String]).kv.mapValues(_ => 1L)
      new KeyedGraftStream(keyed).runningReduce(_ + _)
        .toDF("word", "cnt")
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => seen.put(r.getString(0), r.getLong(1)))
        }
        .start()
    }

    // epoch 1: count two words, then STOP the query
    val q1 = startQuery()
    source.addData("alpha", "beta", "alpha")
    q1.processAllAvailable()
    q1.stop()

    // epoch 2: new data arrives while no query is running
    source.addData("alpha", "beta")

    // restart from the same checkpoint: state must resume, not reset
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    import scala.jdk.CollectionConverters._
    val updates = seen.asScala.toMap
    // alpha was 2 before the stop; the replayed/queued batch adds 1 -> 3
    assert(updates("alpha") == 3L, s"state reset on restart: $updates")
    assert(updates("beta") == 2L, s"state reset on restart: $updates")
  }

  test("CDC snapshot pipeline: restart from checkpoint + batch redelivery leave the final snapshot exact") {
    // the end-to-end claim of SnapshotStore.scala:31-35: at-least-once
    // foreachBatch redelivery + LWW idempotence means a mid-stream stop,
    // an uncommitted batch REPLAY, and a checkpoint restart over late-
    // arriving files all converge to the batch latest-change-per-key
    // result — byte-for-byte the same rows a single uninterrupted run
    // produces.
    import graft.queries.GraftQuery
    import graft.streaming.{SnapshotStore, Streams}
    import org.apache.spark.sql.functions._
    val name = Streams.fresh("cdc_restart_spec", sfDir)
    val snap = s"${Streams.scratchRoot}/cdc/$name/snap"
    val events = Tables(spark, sfDir).events
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    GraftQuery.withShufflePartitions(spark, 4) {
      // wave 1 staged; wave 2 arrives while the query is DOWN
      val srcDir = Streams.stage(events.filter(col("event_id") % 2 === 0),
        name, files = 2)
      def start() = Streams.fileStream(spark, srcDir, filesPerTrigger = 1)
        .writeStream
        .option("checkpointLocation", Streams.ckpt(name))
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          SnapshotStore.mergeLww(spark, snap, batch,
            keys = Seq("user_id"),
            ordering = Seq(col("ts").desc, col("event_id").desc))
        }
        .start()
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      // redelivery: wave 1 merges again in full (the at-least-once case
      // where the stop landed after the merge but before the commit log)
      SnapshotStore.mergeLww(spark, snap, spark.read.parquet(srcDir),
        keys = Seq("user_id"),
        ordering = Seq(col("ts").desc, col("event_id").desc))
      // wave 2 lands while no query runs, then restart from checkpoint
      events.filter(col("event_id") % 2 =!= 0).repartition(2)
        .write.mode("append").parquet(srcDir)
      val q2 = start(); q2.processAllAvailable(); q2.stop()
    }
    val got = SnapshotStore.read(spark, snap)
      .filter(col("event_type") =!= "error")
      .select(col("user_id"), col("ts"), col("value"))
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.getDouble(2)))
      .toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val want = events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).filter(col("event_type") =!= "error")
      .select(col("user_id"), col("ts"), col("value"))
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.getDouble(2)))
      .toSet
    assert(got == want,
      s"restarted CDC snapshot diverges: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }
}
