package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Records every Spark job with its job group and start time, and every
  * finished task's duration, shuffle write and spill. Installed only in the
  * traced run.
  */
final class JobLog extends SparkListener {
  final case class Job(id: Int, group: String, startMs: Long, stageIds: Seq[Int])
  final case class Task(stageId: Int, durationMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.add(Job(e.jobId, group.getOrElse(""), e.time, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      tasks.add(Task(e.stageId, e.taskInfo.duration,
        e.taskMetrics.shuffleWriteMetrics.bytesWritten,
        e.taskMetrics.memoryBytesSpilled + e.taskMetrics.diskBytesSpilled))
}

/** Work one group of jobs did: jobs run, MB shuffled and spilled, and skew —
  * the largest max/median task-duration ratio over its Spark stages that ran
  * at least two tasks (1.0 when none did).
  */
final case class JobStats(jobs: Int, shuffleMb: Double, spillMb: Double, skew: Double)

object JobLog {
  def install(spark: SparkSession): JobLog = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    log
  }

  /** Runs `op` with every job it starts tagged `group`. */
  def inGroup[A](spark: SparkSession, group: String)(op: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try op finally sc.clearJobGroup()
  }

  def stats(spark: SparkSession, log: JobLog, jobs: Iterable[JobLog#Job]): JobStats = {
    SparkInternals.drainListenerBus(spark.sparkContext)
    val js = jobs.toSeq
    // a stage shared by several jobs ran once, under the first
    val owner = mutable.Map.empty[Int, Int]
    log.jobs.asScala.toSeq.sortBy(_.id).foreach(j => j.stageIds.foreach(s => owner.getOrElseUpdate(s, j.id)))
    val ids = js.map(_.id).toSet
    val ts = log.tasks.asScala.toSeq.filter(t => owner.get(t.stageId).exists(ids.contains))
    val skews = ts.groupBy(_.stageId).values.filter(_.size >= 2).map { g =>
      val d = g.map(_.durationMs.toDouble)
      d.max / math.max(1.0, Sample.median(d))
    }
    JobStats(js.size, ts.map(_.shuffleWriteBytes).sum / 1048576.0,
      ts.map(_.spillBytes).sum / 1048576.0, if (skews.isEmpty) 1.0 else skews.max)
  }

  def groupJobs(spark: SparkSession, log: JobLog, group: String): Seq[JobLog#Job] = {
    SparkInternals.drainListenerBus(spark.sparkContext)
    log.jobs.asScala.toSeq.filter(_.group == group)
  }
}
