package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Dev-only measurement harness (guide §1): run named entries through
  * the same noop sink Bench uses, but with a SparkListener attached so
  * the wall time decomposes into per-job segments — planning/driver
  * gaps (wall − Σjob) vs executor time, job count, and the slowest
  * jobs by description. `runMain graft.ProfileOne <sfDir> <name,...>`.
  * Never invoked by the driver; exists so optimization targets the
  * measured bottleneck instead of the guessed one.
  */
object ProfileOne {
  private final case class JobRec(id: Int, var desc: String, start: Long,
                                  var end: Long = 0L, var tasks: Int = 0,
                                  var stageIds: Seq[Int] = Nil)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
                else Seq("dedup_clusters")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "1").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(Some(s"local[$cpus]"), Some(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageTasks = mutable.Map.empty[Int, Int]
    val stageInfos = mutable.Map.empty[Int, String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs(js.jobId) = JobRec(js.jobId,
          Option(js.properties).map(_.getProperty("spark.job.description", "")).getOrElse(""),
          js.time, stageIds = js.stageIds)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(je.jobId).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = jobs.synchronized {
        stageTasks(sc.stageInfo.stageId) = sc.stageInfo.numTasks
        val i = sc.stageInfo
        val ms = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(-1L)
        val scopes = i.rddInfos.flatMap(r => r.scope).map(_.name).distinct.mkString("|")
        stageInfos(i.stageId) =
          f"stage ${i.stageId}%4d ${ms / 1000.0}%7.2fs tasks=${i.numTasks}%-4d [$scopes] ${i.name.take(60)}"
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // the noop write's own QueryExecution holds the plan that ran
    val ranWrite = new java.util.concurrent.atomic.AtomicReference[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical match {
          case w: V2WriteCommand if w.table.name == "noop-table" => ranWrite.set(qe)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    def materialize(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    names.foreach { n =>
      // warm-up (codegen, fs cache) — not profiled
      materialize(SparkEntry.queries(n)(spark, sfDir))
      (1 to reps).foreach { rep =>
        jobs.synchronized { jobs.clear(); stageTasks.clear() }
        val w0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val planned = System.nanoTime()
        ranWrite.set(null)
        materialize(df)
        val w1 = System.nanoTime()
        Thread.sleep(300) // let the listener bus drain
        sys.env.get("SPARK_GRAFT_PROFILE_PLAN").foreach { p =>
          val ran = Option(ranWrite.get).getOrElse(sys.error(s"no noop write reported for $n"))
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$p/${n}_executed.txt"),
            ran.executedPlan.toString)
        }
        val snap = jobs.synchronized { jobs.values.toVector }
        val jobMs = snap.map(j => math.max(0L, j.end - j.start))
        val sumJobs = jobMs.sum
        val wallMs = (w1 - w0) / 1e6
        val buildMs = (planned - w0) / 1e6
        println(f"[profile] $n rep$rep wall=${wallMs / 1000}%.2fs build=${buildMs / 1000}%.2fs " +
          f"jobs=${snap.size} sumJobs=${sumJobs / 1000.0}%.2fs driverGap=${(wallMs - sumJobs) / 1000}%.2fs")
        snap.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
          val nt = jobs.synchronized { j.stageIds.map(s => stageTasks.getOrElse(s, 0)).sum }
          val d = if (j.desc.length > 90) j.desc.take(90) else j.desc
          println(f"[profile]   job ${j.id}%4d ${(j.end - j.start) / 1000.0}%7.2fs tasks=$nt%-5d $d")
          if (sys.env.contains("SPARK_GRAFT_PROFILE_STAGES"))
            j.stageIds.sorted.foreach(s => stageInfos.get(s).foreach(x => println(s"[profile]     $x")))
        }
      }
    }
    spark.stop()
  }
}
