package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Records SQL-execution and job spans, with each job's task counters,
  * while it is registered. Spans keep Spark's own event times (driver
  * wall clock, ms), so they line up with the op and call spans the
  * harness takes with `System.currentTimeMillis`. Nothing is computed
  * here: `report.py` derives every per-layer figure from the dump.
  */
final class Tracer extends SparkListener {
  final class Job(val id: Int, val start: Long, val execId: Long, val callSite: String) {
    var end = -1L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  final class Exec(val id: Long, val root: Long, val start: Long, val desc: String) {
    var end = -1L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val job = new Job(e.jobId, e.time,
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop("callSite.short").getOrElse(""))
    jobs(e.jobId) = job
    e.stageIds.foreach(s => stageJob(s) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) =
        new Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId), s.time, s.description)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ =>
  }

  /** True once every span opened so far has been closed; the harness
    * polls this after a traced pass so that no event is still queued on
    * the listener bus when the spans are dumped. */
  def drained: Boolean = synchronized {
    jobs.valuesIterator.forall(_.end >= 0) && execs.valuesIterator.forall(_.end >= 0)
  }

  def jobsJson: Seq[Seq[Any]] = synchronized {
    jobs.valuesIterator.map(j => Seq(j.id, j.start, j.end, j.execId, j.callSite, j.stages,
      j.tasks, j.runMs, j.cpuNs, j.gcMs, j.shuffleRead, j.shuffleWrite, j.spill)).toSeq
  }

  def execsJson: Seq[Seq[Any]] = synchronized {
    execs.valuesIterator.map(x => Seq(x.id, x.root, x.start, x.end, x.desc)).toSeq
  }
}

object Tracer {
  val jobFields: Seq[String] = Seq("id", "start", "end", "exec", "call_site", "stages", "tasks",
    "run_ms", "cpu_ns", "gc_ms", "shuffle_read_b", "shuffle_write_b", "spill_b")
  val execFields: Seq[String] = Seq("id", "root", "start", "end", "desc")
}
