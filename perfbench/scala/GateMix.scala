package perfbench

import graft.SparkEntry
import graft.queries.Scratch

/** Closed loop, one client: a fixed list of `SparkEntry.queries` gates at
  * sf0.1 over generated tables, in a seed-permuted order. A cold pass builds
  * the memoized indexes and keeps each result for the DuckDB oracle check
  * in `run.py`; then warm passes materialise each gate to `noop`
  * and release its scratch blocks, for about `seconds`. Gates
  * run one at a time: scoped settings mutate the shared session. */
object GateMix {
  val Gates: Seq[String] = Seq(
    "q_flatmap_words", "q_keyby_reduce", "q_anti_join", "q_join_broadcast",
    "q_text_tokens", "q_text_bm25", "q_dedup_exact", "q_dedup_minhash",
    "q_sim_lsh", "q_sim_topk", "q_graph_web_authority", "q_mm_stats", "q_stream_wordcount")

  /** Timed selects of native expressions: (name, input rows, SQL). */
  val Functions: Seq[(String, Long, String)] = Seq(
    ("vector_dot", 100000L,
      "SELECT sum(vector_dot(a.embedding, b.embedding)) FROM embeddings a " +
        "CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id < 50) b"),
    ("shingle_hashes", 100000L,
      "SELECT sum(size(shingle_hashes(split(text, ' '), 3))) FROM documents " +
        "CROSS JOIN range(20)"),
    ("array_jaccard", 100000L,
      "SELECT sum(array_jaccard(split(a.text, ' '), split(b.text, ' '))) FROM documents a " +
        "CROSS JOIN (SELECT text FROM documents WHERE doc_id < 20) b"))

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Gates)

  /** Seed of the gate tables: fixed, so `run.py` generates them once per
    * checkout; the run seed permutes the gate order. */
  val DataSeed = 42L

  def run(ctx: Ctx, dir: String): Outcome = {
    val spark = ctx.spark
    val gates = order(ctx.seed)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def timed(gate: String)(action: org.apache.spark.sql.DataFrame => Unit): Double = {
      val t = System.nanoTime()
      try action(SparkEntry.queries(gate)(spark, dir))
      catch { case e: Throwable => errors.getOrElseUpdate(gate, e.toString.take(300)) }
      finally Scratch.release(spark)
      (System.nanoTime() - t) / 1e6
    }

    // the cold pass keeps each result in memory; it is written for the
    // oracle check after timing ends, so file writes stay out of set-up
    val cold = gates.map { g =>
      var result: (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType) = null
      val ms = timed(g) { df => result = (df.collect(), df.schema) }
      (g, ms, result)
    }
    ctx.begin()
    ctx.recorder.foreach(_.open())
    val start = System.nanoTime()
    val passes = Seq.newBuilder[Map[String, Any]]
    var n = 0
    // whole passes only, so every run weighs each gate alike; another pass
    // starts only when it should end within `seconds`
    def elapsed = (System.nanoTime() - start) / 1e9
    while (n == 0 || elapsed * (n + 1) / n <= ctx.seconds) {
      val cpu0 = Main.processCpuS()
      val t0 = System.nanoTime()
      val walls = gates.map { g =>
        def body = timed(g)(_.write.format("noop").mode("overwrite").save())
        g -> ctx.recorder.fold(body)(_.span("gate", g)(body))
      }
      passes += Map("wall_s" -> (System.nanoTime() - t0) / 1e9,
        "cpu_s" -> (Main.processCpuS() - cpu0), "gate_ms" -> walls.toMap)
      n += 1
    }
    ctx.recorder.foreach { r =>
      val endMs = System.currentTimeMillis()
      r.addSpan("workload", "gate_mix", endMs - (System.nanoTime() - start) / 1000000, endMs)
      r.close(endMs)
    }

    val out = s"${ctx.work}/gate_out"
    new java.io.File(out).mkdirs()
    cold.foreach { case (g, _, result) =>
      if (result != null) {
        spark.createDataFrame(java.util.Arrays.asList(result._1: _*), result._2)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$g")
      }
    }
    Main.writeJson(s"$out/oracle_sql.json", SparkEntry.oracleSql.filter { case (k, _) => Gates.contains(k) })
    val layer = if (ctx.traced) functionRates(ctx, dir) else Map.empty[String, Any]
    Outcome(Map("passes" -> passes.result(), "cold_ms" -> cold.map(c => c._1 -> c._2).toMap,
      "order" -> gates, "dir" -> dir),
      gates.size.toLong * (n + 1), errors.size.toLong * (n + 1),
      Map("errors" -> errors.toMap), layer)
  }

  /** rows/s of each native expression: the median of three timed runs
    * after one warm-up run. */
  private def functionRates(ctx: Ctx, dir: String): Map[String, Any] = {
    graft.Tables(ctx.spark, dir).registerAll()
    Functions.map { case (name, rows, sql) =>
      val df = ctx.spark.sql(sql)
      df.collect()
      val ts = (1 to 3).map { _ =>
        val t = System.nanoTime(); df.collect(); (System.nanoTime() - t) / 1e9
      }.sorted
      s"functions.$name.rows_per_s" -> rows / ts(1)
    }.toMap
  }
}
