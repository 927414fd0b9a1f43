package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Stage-level attribution for one registered query (r22 optimization
  * diagnostics): runs the query once warm, once measured, and prints
  * every stage's id, task count, summed run/CPU ms, AND the stage's
  * name + call-site details, so a hot stage from the bench diag can be
  * mapped back to the operator that spawned it without the (disabled)
  * UI.
  *
  * Usage: `runMain graft.StageProf <queryName> [sfDir]`
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProf <queryName> [sfDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fn = SparkEntry.queryFn(name).getOrElse(
      sys.error(s"unknown query: $name"))
    val spark = SessionTuning.localSession()
    Tables.registerWithStats(spark, sfDir)

    final case class Agg(var runMs: Long = 0L, var cpuMs: Long = 0L,
        var tasks: Long = 0L, var name: String = "", var details: String = "",
        var jobId: Int = -1, var outRows: Long = 0L, var readRows: Long = 0L)
    val stages = new ConcurrentHashMap[Int, Agg]()
    var enabled = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (enabled) js.stageInfos.foreach { si =>
          stages.computeIfAbsent(si.stageId, _ => Agg()).jobId = js.jobId
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (enabled && te.taskMetrics != null) {
          val a = stages.computeIfAbsent(te.stageId, _ => Agg())
          a.synchronized {
            a.runMs += te.taskMetrics.executorRunTime
            a.cpuMs += te.taskMetrics.executorCpuTime / 1000000L
            a.tasks += 1
            a.outRows += te.taskMetrics.shuffleWriteMetrics.recordsWritten +
              te.taskMetrics.outputMetrics.recordsWritten
            a.readRows += te.taskMetrics.shuffleReadMetrics.recordsRead +
              te.taskMetrics.inputMetrics.recordsRead
          }
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (enabled) {
          val a = stages.computeIfAbsent(sc.stageInfo.stageId, _ => Agg())
          a.synchronized {
            a.name = sc.stageInfo.name
            val scopes = sc.stageInfo.rddInfos
              .flatMap(_.scope.map(_.name)).distinct.mkString(" > ")
            a.details = (if (scopes.nonEmpty) s"ops[$scopes] | " else "") +
              sc.stageInfo.details.linesIterator
                .filterNot(_.contains("StageProf"))
                .take(2).mkString(" | ")
          }
        }
    })

    // SPARK_GRAFT_FINALPLAN=1: print the post-execution adaptive plan
    // (isFinalPlan=true) so hot stages map to real runtime operators.
    if (sys.env.get("SPARK_GRAFT_FINALPLAN").contains("1"))
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            println(s"[stageprof] executed plan:\n${qe.executedPlan}")
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })

    // warm-up (2 passes), then one measured run
    (1 to 2).foreach { _ =>
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    }
    enabled = true
    val t0 = System.nanoTime()
    // construct INSIDE the measured region so eager construct-time jobs
    // (localCheckpoints) attribute too
    fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graftbench.ListenerFlush.drain(spark.sparkContext)
    println(f"[stageprof] $name wall ${wall}%.3f s")
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sortBy(-_._2.runMs).foreach { case (id, a) =>
      println(f"[stageprof] stage $id%5d job ${a.jobId}%3d run ${a.runMs}%7d ms cpu " +
        f"${a.cpuMs}%7d ms tasks ${a.tasks}%4d rowsIn ${a.readRows}%9d " +
        f"rowsOut ${a.outRows}%9d  ${a.name}")
      if (a.details.nonEmpty) println(s"[stageprof]            ${a.details}")
    }
    spark.stop()
  }
}
