package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Traced-run recorder: one span per Spark stage, linked to its job, to the
  * benchmark operation that launched it (the `perfbench.op` local property
  * set around each operation) and to its call site. Everything stays in
  * memory until [[spans]] is read at the end of the run.
  *
  * The call site is the first `graft.*` frame of `StageInfo.details`; the
  * write target comes from the SQL execution that owns the job, so jobs
  * launched from one program method can still be told apart. */
final class Tracer extends SparkListener {
  private final case class JobInfo(op: String, execId: Long)
  private val jobs = mutable.Map.empty[Int, JobInfo]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val writePaths = mutable.Map.empty[Long, String]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageRows = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile private var busyNanos = 0L

  // formatted plans list the write target as the command's first argument
  private val WritePath =
    """(?s)Execute InsertIntoHadoopFsRelationCommand\s*\n.*?Arguments: ([^,\s]+)""".r

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    busyNanos += System.nanoTime() - t0
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => timed {
      WritePath.findFirstMatchIn(e.physicalPlanDescription)
        .foreach(m => synchronized(writePaths(e.executionId) = m.group(1)))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Tracer.OpKey))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    synchronized {
      jobs(e.jobId) = JobInfo(op, exec)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    if (e.taskInfo != null) synchronized {
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    val m = i.taskMetrics
    synchronized {
      val job = stageJob.getOrElse(i.stageId, -1)
      val info = jobs.get(job)
      val tasks = taskTimes.remove((i.stageId, i.attemptNumber())).map(_.sorted)
        .getOrElse(mutable.ArrayBuffer.empty[Long])
      val med =
        if (tasks.isEmpty) 0.0
        else if (tasks.size % 2 == 1) tasks(tasks.size / 2).toDouble
        else (tasks(tasks.size / 2 - 1) + tasks(tasks.size / 2)) / 2.0
      stageRows += Map(
        "stage" -> i.stageId, "attempt" -> i.attemptNumber(), "job" -> job,
        "op" -> info.map(_.op).getOrElse(""),
        "write_path" -> info.flatMap(j => writePaths.get(j.execId)).getOrElse(""),
        "callsite" -> Tracer.firstProgramFrame(i.details),
        "name" -> i.name,
        "start_ms" -> i.submissionTime.getOrElse(0L),
        "end_ms" -> i.completionTime.getOrElse(0L),
        "failed" -> i.failureReason.isDefined,
        "tasks" -> i.numTasks,
        "task_max_ms" -> (if (tasks.isEmpty) 0L else tasks.last),
        "task_median_ms" -> med,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "shuffle_read_bytes" -> (if (m == null) 0L
          else m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "output_bytes" -> (if (m == null) 0L else m.outputMetrics.bytesWritten),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Stage spans plus the listener's own cost, for the result file. */
  def spans: Map[String, Any] = synchronized {
    Map("stages" -> stageRows.toList, "listener_ms" -> busyNanos / 1e6)
  }
}

object Tracer {
  val OpKey = "perfbench.op"

  /** The first stack frame of a call-site dump that belongs to the program
    * (`graft.*`), or "" when the action was launched from outside it. */
  def firstProgramFrame(details: String): String =
    Option(details).toSeq.flatMap(_.split('\n')).map(_.trim)
      .find(_.startsWith("graft.")).getOrElse("")
}
