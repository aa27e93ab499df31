package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side counters for the traced run: a listener the benchmark
  * registers, recording each job's time span and its stages' task counts
  * and bytes. Jobs are attributed to the operation that issued them by job
  * group, or else by time (one client, so at most one operation runs at a
  * time; streaming micro-batches run under their own group). */
final class Tap extends SparkListener {
  import Tap._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, g, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages(i.stageId) = if (m == null) Stage(i.numTasks, 0, 0, 0, 0)
      else Stage(i.numTasks, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Jobs with the index of the execution they belong to (-1: none). */
  def jobsByExec(spans: Seq[(Long, Long)]): Seq[JobOut] = synchronized {
    val Group = "exec-(\\d+)".r
    jobs.values.toSeq.map { j =>
      val exec = j.group match {
        case Group(i) => i.toInt
        case _ => spans.indexWhere { case (a, b) => j.startMs >= a && j.startMs <= b }
      }
      val st = j.stageIds.flatMap(stages.get)
      JobOut(j.id, exec, j.startMs, j.endMs, st.length, st.map(_.tasks).sum,
        st.map(_.shuffleRead).sum, st.map(_.shuffleWrite).sum,
        st.map(_.input).sum, st.map(_.spill).sum)
    }
  }
}

object Tap {
  final case class Stage(tasks: Int, shuffleRead: Long, shuffleWrite: Long,
      input: Long, spill: Long)
  final case class Job(id: Int, group: String, startMs: Long,
      var endMs: Long, stageIds: Seq[Int])
  final case class JobOut(id: Int, exec: Int, startMs: Long, endMs: Long,
      stages: Int, tasks: Int, shuffleRead: Long, shuffleWrite: Long,
      input: Long, spill: Long)

  def install(spark: SparkSession): Tap = {
    val t = new Tap
    spark.sparkContext.addSparkListener(t)
    t
  }
}

/** In-memory spans (name, start, end, parent), written out once at the end
  * of the run. Times are nanoseconds on the JVM's monotonic clock. */
final class Spans {
  import Spans.Span
  private val all = mutable.ArrayBuffer.empty[Span]
  private val byExec = mutable.HashMap.empty[Int, Int]
  private val children = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]

  def open(name: String, parent: Int, start: Long, exec: Int = -1): Int = {
    val s = Span(all.length, parent, name, start, start, exec)
    all += s
    children.getOrElseUpdate(parent, mutable.ArrayBuffer.empty) += s.id
    if (exec >= 0) byExec(exec) = s.id
    s.id
  }
  def close(id: Int, end: Long): Unit = all(id).end = end
  def add(name: String, parent: Int, start: Long, end: Long): Int = {
    val id = open(name, parent, start); close(id, end); id
  }
  /** The phase span of execution `exec` running at `t` (else the
    * execution's own span). */
  def phaseAt(exec: Int, t: Long): Int = {
    val op = byExec(exec)
    children.getOrElse(op, Nil).map(all(_))
      .find(p => p.start <= t && t <= p.end).map(_.id).getOrElse(op)
  }

  /** `{"spans": [[id, parent, name, start_s, end_s], ...]}`, times in
    * seconds from `origin`. */
  def toJson(origin: Long): String = all.map { s =>
    val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
    f"[${s.id},${s.parent},\"$name\",${(s.start - origin) / 1e9}%.6f," +
      f"${(s.end - origin) / 1e9}%.6f]"
  }.mkString("{\"spans\": [\n", ",\n", "\n]}\n")
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, start: Long,
      var end: Long, exec: Int)
}
