package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The traced run's instrumentation, registered from outside the engine:
  * a `SparkListener` that attributes every job, stage and task to the
  * job group the benchmark set around the call that caused it, plus
  * in-memory spans (name, start, end, parent, run id) written out with
  * the record. Groups are named `pass|op|phase`. */
final class Tracer private (runId: String) extends SparkListener {
  private final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        j.stageIds.foreach(stageGroup.put(_, g))
        val a = acc(g); a.synchronized { a.jobs += 1 }
      }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(s.stageInfo.stageId)).foreach { g =>
      val a = acc(g); a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(t.stageId)).foreach { g =>
      val a = acc(g)
      a.synchronized {
        a.tasks += 1
        if (t.taskInfo != null && !t.taskInfo.successful) a.failedTasks += 1
        val m = t.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Tag the jobs the calling thread starts from now on. */
  def group(spark: SparkSession, pass: String, op: String, phase: String): Unit =
    spark.sparkContext.setJobGroup(s"$pass|$op|$phase", op, interruptOnCancel = false)

  def clear(spark: SparkSession): Unit = spark.sparkContext.clearJobGroup()

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var open = List.empty[String]

  /** Run `body` inside a span named `name`, child of the innermost
    * open span. */
  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption
    open = name :: open
    val t0 = Harness.nowNs()
    try body
    finally {
      val t1 = Harness.nowNs()
      open = open.tail
      spans += Json.obj("name" -> name, "start_ns" -> t0, "end_ns" -> t1,
        "parent" -> parent, "run" -> runId)
    }
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq

  /** Wait for the listener bus, so every counter is final. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def groups: Map[String, Any] =
    byGroup.asScala.toSeq.sortBy(_._1).map { case (g, a) =>
      g -> Json.obj("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "failed_tasks" -> a.failedTasks, "run_ms" -> a.runMs,
        "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
        "shuffle_read_bytes" -> a.shuffleRead,
        "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill)
    }.to(scala.collection.immutable.ListMap)
}

object Tracer {
  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer(spark.sparkContext.applicationId)
    spark.sparkContext.addSparkListener(t)
    t
  }
}
