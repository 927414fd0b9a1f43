package graft

/** Plan/timing diagnostics: `runMain graft.Explain <sfDir> <query...>`
  * prints each query's formatted physical plan and two consecutive
  * timed runs (cold + warm) through the noop sink.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val spark = SessionTuning.localSession()
    // the Bench/Verify table shape (stats + CBO): the printed plans are
    // the ones they run
    Tables.registerWithStats(spark, sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"===== $name =====")
      println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        println(f"[time] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
