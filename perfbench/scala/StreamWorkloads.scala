package perfbench

import graft.operators.GraftStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Running-reduce value of `drain_keyed`: row count and id sum per key. */
final case class KeyCount(key: Long, cnt: Long, idSum: Long)

object StreamWorkloads {
  val DrainKeys = 1000000L
  val DrainBatchRows = 250000L
  val DrainWarmBatches = 4
  /** The drained range: more rows than any run reaches in 180 s. */
  val DrainRange = 100000000L

  private def batchEnd(p: Map[String, Any]): Long =
    p("start").asInstanceOf[Long] + p("duration").asInstanceOf[Map[String, Long]]("triggerExecution")

  private def progress(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(Recorder.progressRecord)

  /** Closed loop: drain `graft-seq` through map → keyBy → runningReduce
    * on the RocksDB store into the no-op sink, in fixed 250k-row batches,
    * and time whole batches after four warm-up batches. */
  def drainKeyed(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val nKeys = DrainKeys
    val ckpt = s"${ctx.work}/ckpt/drain_keyed"
    val src = spark.readStream.format("graft-seq")
      .option("end", DrainRange.toString).option("rowsPerBatch", DrainBatchRows.toString)
      .option("numPartitions", ctx.cores.toString).load()
    val running = GraftStream.fromDataset(src.select("id").as[Long])
      .map(i => KeyCount(Keys.zipf(seed, i, nKeys), 1L, i))
      .keyBy(_.key)
      .runningReduce((a, b) => KeyCount(a.key, a.cnt + b.cnt, a.idSum + b.idSum))
    val q = running.writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt).start()

    def await(cond: Seq[Map[String, Any]] => Boolean): Seq[Map[String, Any]] = {
      var ps = progress(q)
      while (!cond(ps)) {
        if (!q.isActive) throw q.exception.getOrElse(new IllegalStateException("query stopped"))
        Thread.sleep(5)
        ps = progress(q)
      }
      ps
    }
    val warm = await(_.size >= DrainWarmBatches)
    val beginMs = batchEnd(warm(DrainWarmBatches - 1))
    ctx.recorder.foreach(_.open(beginMs))
    // process CPU over the whole measured window, so a GC- or
    // compaction-heavy batch counts in full
    val cpu0 = Main.processCpuS()
    ctx.begin()
    val done = await(ps => ps.size > DrainWarmBatches &&
      batchEnd(ps.last) - beginMs >= ctx.seconds * 1000)
    val cpuS = Main.processCpuS() - cpu0
    val measured = done.drop(DrainWarmBatches)
    val endMs = batchEnd(measured.last)
    ctx.recorder.foreach { r => r.addSpan("workload", "drain_keyed", beginMs, endMs); r.close(endMs) }
    q.stop()

    val rows = measured.map(_("rows_in").asInstanceOf[Long]).sum
    val (attempted, failed, detail) = checkDrain(ctx, ckpt, seed, nKeys)
    val layer: Map[String, Any] =
      if (ctx.traced) Map("sources.read_rows_per_s" -> seqReadRowsPerSec(ctx, rows)) else Map.empty
    Outcome(Map(
      "rows" -> rows, "seconds" -> (endMs - beginMs) / 1000.0, "cpu_s" -> cpuS,
      "batch_ms" -> measured.map(p => p("duration").asInstanceOf[Map[String, Long]]("triggerExecution")),
      "batch_rows" -> DrainBatchRows, "keys" -> nKeys),
      attempted, failed, detail, layer)
  }

  /** The last committed batch's state, read back with Spark's
    * `statestore` source, against the closed form of the drained range:
    * per key, the count and id sum of every id in [0, end) that maps to
    * it. Failed rows are the rows of every key whose state is wrong. */
  private def checkDrain(ctx: Ctx, ckpt: String, seed: Long, nKeys: Long) = {
    val spark = ctx.spark
    import spark.implicits._
    val commits = new java.io.File(s"$ckpt/commits").list().filter(_.forall(_.isDigit)).map(_.toLong)
    val batch = commits.max
    val end = {
      val src = scala.io.Source.fromFile(s"$ckpt/offsets/$batch")
      try src.getLines().toSeq.last.trim.toLong finally src.close()
    }
    val state = spark.read.format("statestore").option("batchId", batch).load(ckpt)
      .selectExpr("value.groupState.key as key", "value.groupState.cnt as cnt",
        "value.groupState.idSum as idSum")
    val expected = spark.range(0, end, 1, ctx.cores).as[Long]
      .map(i => (Keys.zipf(seed, i, nKeys), i)).toDF("key", "id")
      .groupBy("key").agg(count(lit(1)).as("ecnt"), sum("id").as("esum"))
    val bad = expected.join(state, Seq("key"), "full_outer")
      .filter(!(col("cnt") <=> col("ecnt")) || !(col("idSum") <=> col("esum")))
      .agg(count(lit(1)), coalesce(sum(greatest(coalesce(col("ecnt"), lit(0L)),
        coalesce(col("cnt"), lit(0L)))), lit(0L)))
      .head()
    (end, bad.getLong(1), Map("checked_batch" -> batch, "bad_keys" -> bad.getLong(0)))
  }

  /** A standalone timed batch read of the same `graft-seq` range. */
  private def seqReadRowsPerSec(ctx: Ctx, rows: Long): Double = {
    val df = ctx.spark.read.format("graft-seq").option("end", rows.toString)
      .option("numPartitions", ctx.cores.toString).load().select("id")
    df.write.format("noop").mode("overwrite").save()
    val t = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    rows / ((System.nanoTime() - t) / 1e9)
  }
}
