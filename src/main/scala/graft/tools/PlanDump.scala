package graft.tools

import graft.GraftSession
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Measurement tool (optimization rounds): dump `.explain("formatted")`
  * for declared queries to `plans/<tag>/<query>_<suffix>.txt` so plan
  * claims in OPTIMIZATION notes are checkable against committed files.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [namePart...]
  * e.g.   runMain graft.tools.PlanDump plans/r21 before q79 q88
  * No args after suffix = every query.  The session is graft.Bench's
  * (GraftSession) so the captured plan is the one the bench runs.
  * Building a side-effecting slot's DataFrame (sketch-table writes,
  * streaming micro-batches, manifest commits) runs SQL executions of
  * its own; their physical plans, as Spark describes them at execution
  * start, follow the returned frame's plan under
  * `== construction execution <i> ==` headers.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [namePart...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val parts = args.drop(2)
    Files.createDirectories(outDir)
    val sfDir = GraftSession.sfDir
    // unwarmed: a warm-up action would shift every expression id in
    // the dumps, so they would no longer diff cleanly against plans
    // dumped by earlier commits
    val spark = GraftSession.session()
    val construction = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          construction.add(s.physicalPlanDescription)
        case _ =>
      }
    })
    GraftSession.slots(parts.toSeq).foreach { case (name, fn) =>
      try {
        construction.clear()
        val df = fn(spark, sfDir)
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        val built = (0 until construction.size).map(i =>
          s"\n== construction execution ${i + 1} ==\n${construction.get(i)}")
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode) + built.mkString
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"PLAN $name -> ${outDir.resolve(s"${name}_$suffix.txt")}")
      } catch {
        case e: Throwable => println(s"PLAN-ERR $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
