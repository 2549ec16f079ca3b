package graft

import graft.runtime.GraftSession
import scala.util.control.NonFatal

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence artifact (plans/<round>/<q>_<tag>.txt).
  * Runs on the same [[graft.runtime.GraftSession]] as [[Bench]], so the
  * dumped plan is the plan the bench actually executes — a plan captured
  * under a different planner would pin claims Bench never runs.
  *
  * Usage: PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  * (no query list = every non-negative-control query). Exits 1 if any
  * query fails to plan. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val only = SparkEntry.queryFilter(args.lift(3))
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val picked = SparkEntry.queries
      .filter { case (n, _) => only.map(_(n)).getOrElse(!SparkEntry.negativeControls(n)) }
      .toSeq.sortBy(_._1)
    val failed = picked.flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] $name ok")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
