package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Optimization-round plan evidence: writes `<outDir>/<name>_<suffix>.txt`
  * with the `.explain("formatted")` output of the named queries at the
  * given sf dir (default sf0.1 — the bench's scale, so size-driven
  * strategy choices match the measured numbers).
  *
  * Usage: runMain graft.PlanDumpDir <outDir> [suffix] [q_a,q_b,...]
  * (e.g. `plans/r16 after`; suffix defaults to `before`). With no query
  * list, dumps every declared query (streaming/iterative gates whose
  * run() executes jobs eagerly still produce their final frame's plan —
  * the serve/read side, which is what a round's claims are about).
  */
object PlanDumpDir {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDumpDir <outDir> [suffix] [q_a,q_b,...]")
    val out = Paths.get(args(0))
    val suffix = args.lift(1).getOrElse("before")
    val names =
      if (args.length > 2) args(2).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = Engine.ready(Engine.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("plan-dump-dir"),
      cpus).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(out)
    names.foreach { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, dir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(out.resolve(s"${name}_$suffix.txt"), plan)
        System.err.println(s"[plans] $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name FAILED: ${Verify.brief(e)}")
      } finally graft.queries.Scratch.release(spark)
    }
    spark.stop()
  }
}
