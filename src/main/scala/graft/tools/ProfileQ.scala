package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftshim.ListenerBridge

import graft.GraftSession

/** Dev-only overhead profiler (guide §1): for each named query, runs
  * it cold then warm and prints wall time alongside scheduler-side
  * totals (jobs launched, distinct SQL executions among them,
  * stages, tasks, summed executor task time).
  * wall >> task-time/cores means the query is fixed-overhead bound
  * (driver planning, job scheduling, per-round barriers), not
  * compute bound — the two need different optimizations. Usage:
  *   runMain graft.tools.ProfileQ <name>[,name...] [sfDir] [reps]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.start(cpus)
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    // distinct SQL executions among the job starts: one per action,
    // however many AQE stage or broadcast sub-jobs it launches
    val executions = ConcurrentHashMap.newKeySet[String]()
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val deserMs = new AtomicLong; val gcMs = new AtomicLong
    // SPARK_GRAFT_PROFILE_STAGES=1: per-stage attribution (dev only) —
    // stage id, task count, summed executor run time, and the first
    // line of the stage's call site so the heavy operator is nameable.
    val stageDump = sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id")))
          .foreach(executions.add)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (stageDump) {
          val i = s.stageInfo
          val ms = Option(i.taskMetrics).map(_.executorRunTime).getOrElse(0L)
          if (ms >= 200)
            println(f"[stage] id=${i.stageId} tasks=${i.numTasks} " +
              f"run=${ms / 1e3}%.1fs ${i.details.linesIterator.take(1).mkString}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
          deserMs.addAndGet(t.taskMetrics.executorDeserializeTime)
          gcMs.addAndGet(t.taskMetrics.jvmGCTime)
        }
      }
    })
    // same warmup as Bench.main
    Seq("lineitem", "part", "documents", "embeddings", "orders")
      .foreach(t => graft.Tables(spark, sfDir, t).count())
    ListenerBridge.drain(spark.sparkContext)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (0 until reps).foreach { i =>
        jobs.set(0); executions.clear(); stages.set(0); tasks.set(0)
        taskMs.set(0)
        deserMs.set(0); gcMs.set(0)
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        ListenerBridge.drain(spark.sparkContext)
        val label = if (i == 0) "cold" else s"warm$i"
        println(f"[profile] $name $label wall=$wall%.2fs jobs=${jobs.get}" +
          f" executions=${executions.size}" +
          f" stages=${stages.get} tasks=${tasks.get}" +
          f" taskTime=${taskMs.get / 1e3}%.1fs" +
          f" deser=${deserMs.get / 1e3}%.1fs gc=${gcMs.get / 1e3}%.1fs rows=$n")
      }
    }
    spark.stop()
  }
}
