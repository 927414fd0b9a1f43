package graft

/** Phase-split measurement for one registered query — the drift
  * playbook from the r14 `ns_sim_ivfpq` root-cause, packaged as a tool
  * so the next wrong-way bench mover gets measured instead of guessed
  * at. Splits each run's wall into:
  *
  *   - construct: calling the query's builder function — driver-side
  *     work only (fixture footer detection, eager collects feeding
  *     broadcast literals, index-cache builds, literal-string parsing);
  *   - plan: forcing analysis + optimization + physical planning
  *     (`queryExecution.executedPlan`) on the constructed frame;
  *   - exec: the noop-sink write of the SAME frame (AQE re-planning,
  *     shuffles, task execution).
  *
  * Protocol mirrors Bench: warm-up passes to steady JIT state, then N
  * timed runs, each reporting the three phases plus JIT/GC deltas so a
  * construct-vs-exec attribution also says WHY (compile storm vs pause
  * vs real work).
  *
  * Usage: `runMain graft.PhaseSplit <queryName> [sfDir] [runs]`
  */
object PhaseSplit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PhaseSplit <queryName> [sfDir] [runs]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = if (args.length > 2) args(2).toInt else 5
    val fn = SparkEntry.queryFn(name).getOrElse(
      sys.error(s"unknown query: $name"))
    val spark = SessionTuning.localSession()
    Tables.registerWithStats(spark, sfDir)

    def jit: Long = {
      val c = java.lang.management.ManagementFactory.getCompilationMXBean
      if (c != null && c.isCompilationTimeMonitoringSupported)
        c.getTotalCompilationTime else 0L
    }
    def gc: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }

    // warm-up: same adaptive convergence as Bench (band around best)
    var best = Double.MaxValue
    var warmed = 0
    var stable = false
    while (warmed < 8 && !stable) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val w = (System.nanoTime() - t0) / 1e9
      stable = warmed > 0 && w <= best * 1.3 && w >= best * 0.85
      best = math.min(best, w)
      warmed += 1
    }
    println(f"[phase-split] $name warmed ($warmed passes, best $best%.3f s)")

    val rows = (1 to runs).map { i =>
      System.gc(); Thread.sleep(200)
      val (j0, g0) = (jit, gc)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force full planning
      val t2 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val t3 = System.nanoTime()
      val r = (i, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        (t3 - t0) / 1e9, jit - j0, gc - g0)
      println(f"[phase-split] run ${r._1}: construct ${r._2}%.3f s, " +
        f"plan ${r._3}%.3f s, exec ${r._4}%.3f s, total ${r._5}%.3f s, " +
        f"jit ${r._6} ms, gc ${r._7} ms")
      r
    }
    println(f"[phase-split] $name min construct ${rows.map(_._2).min}%.3f s, " +
      f"min plan ${rows.map(_._3).min}%.3f s, min exec ${rows.map(_._4).min}%.3f s, " +
      f"min total ${rows.map(_._5).min}%.3f s")
    // The AQE-FINAL plan of one more execution — the static explain shows
    // duplicated subtrees even when runtime exchange reuse serves them
    // from one computation, so reuse claims must be checked HERE. The
    // write action runs its OWN QueryExecution (df.queryExecution never
    // executes), so capture the executed one via a listener.
    val captured = new java.util.concurrent.atomic.AtomicReference[String]("")
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.set(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })
    val df = fn(spark, sfDir)
    df.write.mode("overwrite").format("noop").save()
    org.apache.spark.graftbench.ListenerFlush.drain(spark.sparkContext)
    val fin = captured.get
    val reused = fin.linesIterator.count(_.contains("ReusedExchange"))
    val scans = fin.linesIterator.count(_.contains("Scan parquet"))
    val gens = fin.linesIterator.count(_.contains("Generate"))
    // Under AQE a REUSED shuffle stage prints as the same
    // "ShuffleQueryStage n" id appearing more than once — distinct ids
    // vs mentions is the truthful reuse count.
    val stageIds = raw"ShuffleQueryStage (\d+)".r
      .findAllMatchIn(fin).map(_.group(1)).toSeq
    println(s"[phase-split] $name AQE-final: $scans parquet scans, " +
      s"$gens generates, $reused ReusedExchange nodes, " +
      s"${stageIds.size} ShuffleQueryStage mentions of " +
      s"${stageIds.distinct.size} distinct ids")
    if (sys.env.get("SPARK_GRAFT_PRINT_PLAN").contains("1")) println(fin)
    spark.stop()
  }
}
