package perfbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. `begin()` marks the end
  * of set-up: `run.py` times set-up from process launch to that line. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, cores: Int,
    work: String, recorder: Option[Recorder]) {
  private var begun = false
  def begin(): Unit = if (!begun) {
    begun = true
    println("@@timing-begin")
    System.out.flush()
  }
  def traced: Boolean = recorder.isDefined
}

/** Result of one workload: measured values, the correctness count and
  * any per-layer values the workload measures itself. */
final case class Outcome(measure: Map[String, Any], attempted: Long, failed: Long,
    detail: Map[String, Any] = Map.empty, layer: Map[String, Any] = Map.empty)

/** JVM entry point: `perfbench.Main <workload> <seed> <seconds> <trace>
  * <cores> <workDir> <resultFile> [<dataDir>]` writes one JSON result
  * file; `perfbench.Main datagen <cores> <workDir> <dataDir>` writes the
  * gate tables. */
object Main {
  def main(args: Array[String]): Unit = args.head match {
    case "datagen" =>
      val spark = session(args(1).toInt, args(2))
      DataGen.writeAll(spark, GateMix.DataSeed, args(3))
      spark.stop()
    case _ =>
      // exit explicitly: a failed workload must not leave the JVM waiting
      // on non-daemon threads until run.py's timeout
      val ok = try { runWorkload(args); true }
        catch { case e: Throwable => e.printStackTrace(); false }
      sys.exit(if (ok) 0 else 1)
  }

  private def runWorkload(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, coresS, work, out) = args.take(7)
    val cores = coresS.toInt
    val spark = session(cores, work)
    val recorder = if (traceS == "1") Some(new Recorder(spark).install()) else None
    val ctx = Ctx(spark, seedS.toLong, secondsS.toDouble, cores, work, recorder)
    val outcome = workload match {
      case "drain_keyed" => StreamWorkloads.drainKeyed(ctx)
      case "gate_mix" => GateMix.run(ctx, args(7))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = Map(
      "workload" -> workload, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "measure" -> outcome.measure, "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "detail" -> outcome.detail, "layer" -> outcome.layer,
      "peak_rss_mb" -> peakRssMb(),
      "trace" -> recorder.map(_.result).orNull)
    spark.stop()
    writeJson(out, result)
  }

  def session(cores: Int, work: String): SparkSession = {
    val b = graft.Engine.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val spark = graft.Engine.ready(b.getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of the whole process: the driver, the executor tasks,
    * their JNI calls into RocksDB, native background threads, the JIT
    * compiler and the GC workers. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  /** Peak resident set size (VmHWM) of this process. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0) finally src.close()
  }
}
