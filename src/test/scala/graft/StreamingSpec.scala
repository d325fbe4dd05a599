package graft

import graft.streaming.Streams
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics: the reference's running-reduce emits the UPDATED
  * aggregate on every input element (StreamGroupedReduce.java:48-52,
  * first element emitted as-is L50-53). Feeding single-element batches
  * reproduces that trace exactly (SURVEY.md §7.4.1). */
class StreamingSpec extends AnyFunSuite with TestSession {

  test("running reduce golden trace: per-element update emission") {
    // reference behavior: hello→(hello,1), hello again→(hello,2), ...
    val updates = Streams.wordCount(
      spark,
      batches = Seq(Seq("hello flink"), Seq("hello spark"), Seq("hello")),
      queryName = Streams.fresh("wc_trace", sfDir))
      .collect().map(r => (r.getString(0), r.getLong(1)))

    // batch 1: hello=1, flink=1 · batch 2: hello=2, spark=1 · batch 3: hello=3
    val expected = Seq(
      Set(("hello", 1L), ("flink", 1L)),
      Set(("hello", 2L), ("spark", 1L)),
      Set(("hello", 3L)))
    // memory sink appends per batch in order; group output rows by batch size
    val got = {
      val it = updates.iterator
      expected.map(b => it.take(b.size).toSet)
    }
    assert(got == expected)
    assert(updates.length == expected.map(_.size).sum)
  }

  test("transformWithState: running count with typed ValueState (Spark 4 API)") {
    // the modern arbitrary-state API (successor of flatMapGroupsWithState):
    // a per-key ValueState running count, update emission, state
    // persisting across batches. Spark runs it only on RocksDB, so the
    // query starts inside the RocksDB scope over the in-memory default.
    import org.apache.spark.sql.{Encoders, functions => F}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    class RunningCount extends org.apache.spark.sql.streaming
        .StatefulProcessor[String, String, (String, Long)] {
      @transient private var count: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        count = getHandle.getValueState[Long](
          "count", Encoders.scalaLong, TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[String],
          timerValues: TimerValues): Iterator[(String, Long)] = {
        val c = (if (count.exists()) count.get() else 0L) + rows.size
        count.update(c)
        Iterator((key, c))
      }
    }

    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val name = Streams.fresh("tws", sfDir)
    val q = graft.queries.GraftQuery.withRocksDBStateStore(spark) {
      source.toDS()
        .flatMap(_.toLowerCase.split("\\W+").toSeq).filter(_.length >= 4)
        .groupByKey(identity)
        .transformWithState(new RunningCount, TimeMode.None(), OutputMode.Update())
        .toDF("word", "cnt")
        .writeStream.queryName(name).outputMode("update").format("memory")
        // ckpt(name) lives under the scratch root that fresh(name) wiped —
        // a stable name over an UNwiped checkpoint would resume the finished
        // query on the next run and emit nothing
        .option("checkpointLocation", Streams.ckpt(name))
        .start()
    }
    source.addData("hello spark hello")
    q.processAllAvailable()
    source.addData("hello again")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .groupBy(F.col("word")).agg(F.max(F.col("cnt")).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("hello", 3L), ("spark", 1L), ("again", 1L)))
  }

  test("single-batch feed: final state equals batch aggregate") {
    import spark.implicits._
    val texts = Seq("the quick brown fox", "the lazy dog props", "quick quick")
    val streamed = Streams.wordCount(spark, Seq(texts),
      Streams.fresh("wc_single", sfDir))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = spark.createDataset(texts)
      .flatMap(_.toLowerCase.split("\\W+").toSeq)
      .filter(_.length >= 4)
      .groupByKey(identity).count().collect().toSet
    assert(streamed == batch)
  }

  test("state persists across batches per key, keys independent") {
    val updates = Streams.wordCount(
      spark,
      batches = Seq(Seq("aaaa bbbb"), Seq("aaaa"), Seq("bbbb bbbb")),
      queryName = Streams.fresh("wc_state", sfDir))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // final running counts: aaaa=2 (batch2), bbbb=3 (batch3)
    val finalPerKey = updates.groupBy(_._1).map { case (k, vs) => (k, vs.last._2) }
    assert(finalPerKey == Map("aaaa" -> 2L, "bbbb" -> 3L))
  }

  test("q_stream_cdc: streamed snapshot equals the batch latest-change-per-key") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val streamed = SparkEntry.queries("q_stream_cdc")(spark, sfDir)
      .collect().map(r => (r.getLong(0), (r.getTimestamp(1), r.getDouble(2)))).toMap
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val expected = graft.Tables(spark, sfDir).events
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("event_type") =!= "error")
      .select(col("user_id"), col("ts"), col("value"))
      .collect().map(r => (r.getLong(0), (r.getTimestamp(1), r.getDouble(2)))).toMap
    assert(streamed == expected,
      "foreachBatch merge must reproduce the batch last-writer-wins snapshot")
  }

  test("q_stream_embed_ingest: merged cell stats cover the whole corpus exactly") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_stream_embed_ingest")(spark, sfDir).collect()
    val n = graft.Tables(spark, sfDir).embeddings.count()
    val ids = graft.Tables(spark, sfDir).embeddings
      .agg(sum(col("vec_id"))).collect()(0).getLong(0)
    assert(rows.map(_.getLong(1)).sum == n,
      "every ingested vector must land in exactly one cell")
    assert(rows.map(_.getLong(2)).sum == ids,
      "per-cell id sums must partition the corpus id sum")
  }
}
