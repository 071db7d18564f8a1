package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Scratch job-census harness (dev tool beside [[Verify]]'s
  * `SPARK_GRAFT_VERIFY_ONLY` subset dump): run ONE
  * declared query twice (warm-up + measured) with a SparkListener
  * recording every job's wall time and call site, so a job-COUNT-
  * bound bench line (the lifecycle tier — memory: ~54 ms fixed cost
  * per job at local[32]) can be audited job by job instead of
  * guessed at. Usage:
  *   runMain graft.JobCensus <sfDir> <queryName>
  *
  * Jobs are grouped by the SQL execution tree they ran under
  * (`spark.sql.execution.root.id`): one group per top-level action,
  * with its SQL-execution and job counts. AQE submits a query's
  * shuffle stages from its own thread pool, so those jobs carry no
  * user call site; a group is labelled with its first attributable
  * one (a `.scala` frame) — the root execution's action site, else
  * its first job's. An action site inside a shared helper also names
  * the helper's caller. `uncovered` is driver wall time outside every
  * job's interval: planning, commits, renames, listings.
  */
object JobCensus {
  /** One job: its interval (ns on the census clock), the root SQL
    * execution it ran under (None outside SQL), its call site.
    */
  final case class Job(id: Int, startNs: Long, endNs: Long,
      root: Option[Long], site: String)

  /** What [[census]] saw: wall time, jobs, and every SQL execution as
    * id → (root id, action call site).
    */
  final case class Census(wallNs: Long, jobs: Seq[Job],
      executions: Map[Long, (Long, String)]) {
    def uncoveredNs: Long = {
      val covered = jobs.sortBy(_.startNs)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), j) =>
          val from = math.max(j.startNs, reach)
          (sum + math.max(0L, j.endNs - from), math.max(reach, j.endNs))
        }._1
      wallNs - covered
    }

    /** One line per top-level action, in submission order. */
    def lines: Seq[String] = {
      def attributable(site: String) = site.matches(""".* at \S+\.scala:\d+.*""")
      // key: Right(root execution id), or Left(call site) outside SQL
      val byRoot: Map[Either[String, Long], Seq[Job]] =
        jobs.groupBy(j => j.root.toRight(j.site))
      val roots: Seq[Either[String, Long]] =
        executions.values.map(e => Right(e._1)).toSeq
      val groups = (roots ++ byRoot.keys).distinct
        .map { g =>
          val js = byRoot.getOrElse(g, Nil).sortBy(_.id)
          val (nSql, label) = g match {
            case Right(root) =>
              val sites = executions.get(root).map(_._2).toSeq ++ js.map(_.site)
              (executions.count(_._2._1 == root),
                sites.find(attributable(_)).getOrElse("?"))
            case Left(site) => (0, site)
          }
          (js.headOption.map(_.startNs).getOrElse(Long.MaxValue), nSql, js,
            label)
        }
        .sortBy(_._1)
      groups.map { case (_, nSql, js, label) =>
        f"sql=$nSql%3d jobs=${js.size}%4d " +
          f"${js.map(j => j.endNs - j.startNs).sum / 1e6}%9.1f ms  " +
          label.take(120)
      }
    }

    def summary: String =
      f"TOTAL ${wallNs / 1e9}%.2f s, sql=${executions.size}, " +
        f"jobs=${jobs.size}, sum-job " +
        f"${jobs.map(j => j.endNs - j.startNs).sum / 1e9}%.2f s, " +
        f"uncovered ${uncoveredNs / 1e9}%.2f s"
  }

  /** Run `body` under a census listener. */
  def census(spark: SparkSession)(body: => Unit): Census = {
    val t0 = System.nanoTime()
    val jobs = scala.collection.mutable.ArrayBuffer[Job]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val execs = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        def prop(k: String) = p.flatMap(ps => Option(ps.getProperty(k)))
        starts.put(js.jobId, Job(js.jobId, System.nanoTime() - t0, 0L,
          prop("spark.sql.execution.root.id")
            .orElse(prop("spark.sql.execution.id")).map(_.toLong),
          js.stageInfos.lastOption.map(_.name)
            .orElse(prop("callSite.short")).getOrElse("?")))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.get(je.jobId)).foreach { j =>
          jobs.synchronized {
            jobs += j.copy(endNs = System.nanoTime() - t0); ()
          }
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          // a shared helper's action site (every observedPin is
          // "localCheckpoint at Sinks.scala") says little: add the
          // first graft frame outside its file, the helper's caller
          val file = s.description.replaceAll(""".* at (\S+):\d+$""", "$1")
          val caller = s.details.split("\n").map(_.trim)
            .find(f => f.startsWith("graft.") && !f.contains(s"($file:"))
          execs.put(s.executionId, (s.rootExecutionId.getOrElse(s.executionId),
            s.description + caller.fold("")(" <- " + _)))
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    body
    val wall = System.nanoTime() - t0
    Thread.sleep(1000) // listener bus is async; let the tail drain
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    Census(wall, jobs.synchronized(jobs.toVector), execs.asScala.toMap)
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val Array(sfDir, name) = args.take(2)
    // warm pass: classloading, codegen, committer init — the bench's
    // min-of-rounds measures warm cost, so the census should too
    SparkEntry.queries(name)(spark, sfDir).count()
    val c = census(spark)(SparkEntry.queries(name)(spark, sfDir).count())
    println(c.summary)
    c.lines.foreach(println)
    spark.stop()
  }
}
