package graft

/** Scratch job-census harness (dev tool beside [[Verify]]'s
  * `SPARK_GRAFT_VERIFY_ONLY` subset dump): run ONE
  * declared query twice (warm-up + measured) with a SparkListener
  * recording every job's wall time and call site, so a job-COUNT-
  * bound bench line (the lifecycle tier — memory: ~54 ms fixed cost
  * per job at local[32]) can be audited job by job instead of
  * guessed at. Usage:
  *   runMain graft.JobCensus <sfDir> <queryName>
  */
object JobCensus {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val Array(sfDir, name) = args.take(2)
    // warm pass: classloading, codegen, committer init — the bench's
    // min-of-rounds measures warm cost, so the census should too
    SparkEntry.queries(name)(spark, sfDir).count()
    val jobs = scala.collection.mutable.ArrayBuffer[(Int, Long, String)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(js.jobId, (System.nanoTime(),
          js.stageInfos.lastOption.map(_.name)
            .orElse(Option(js.properties.getProperty("callSite.short")))
            .getOrElse("?")))
      override def onJobEnd(
          je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(starts.get(je.jobId)).foreach { case (t0, d) =>
          jobs.synchronized {
            jobs += ((je.jobId, System.nanoTime() - t0, d)); ()
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000) // listener bus is async; let the tail drain
    spark.sparkContext.removeSparkListener(listener)
    val snap = jobs.synchronized { jobs.toVector }
    println(f"TOTAL ${total}%.2f s, jobs=${snap.size}, " +
      f"sum-job ${snap.map(_._2).sum / 1e9}%.2f s")
    // by call site: where the job COUNT concentrates
    snap.groupBy(_._3).toSeq
      .map { case (site, js) => (js.size, js.map(_._2).sum / 1e6, site) }
      .sortBy(-_._2)
      .foreach { case (n, ms, site) =>
        println(f"$n%4d jobs ${ms}%9.1f ms  ${site.take(90)}")
      }
    spark.stop()
  }
}
