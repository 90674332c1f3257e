package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Diagnostic (not part of the driver contract): run gate queries under
  * a listener that counts jobs / stages / tasks and sums task time, to
  * attribute wall-clock between real work and scheduling overhead —
  * the first question for iterative operators (duplicateClustersStar's
  * per-round cost) and tiny-data queries where stage latency dominates.
  *
  *   runMain graft.JobProbe <sfDir> <query> [query...]
  *
  * Per query: 2 runs (cold incl. per-JVM store builds, then warm), each
  * reporting wall, jobs, stages, tasks, summed task time and summed
  * shuffle bytes. Uses the bench session shape (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cpus, noop sink).
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProbe <sfDir> <query> [query...]")
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = Session.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val deserMs = new AtomicLong
    val gcMs = new AtomicLong
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (sys.env.contains("GRAFT_JOBPROBE_JOBS")) {
          val site = j.stageInfos.sortBy(_.stageId).lastOption
            .map(_.name.take(90)).getOrElse("?")
          println(f"[job] id=${j.jobId}%4d stages=${j.stageInfos.size}%2d $site")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (sys.env.contains("GRAFT_JOBPROBE_STAGES")) {
          val i = s.stageInfo
          val m = i.taskMetrics
          println(f"[stage] tasks=${i.numTasks}%4d ms=${m.executorRunTime}%6d " +
            f"deser=${m.executorDeserializeTime}%5d gc=${m.jvmGCTime}%5d ${i.name.take(90)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          deserMs.addAndGet(m.executorDeserializeTime)
          gcMs.addAndGet(m.jvmGCTime)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (n <- names; rep <- 0 to 1) {
      jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0); deserMs.set(0); gcMs.set(0); shufRead.set(0); shufWrite.set(0)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      Thread.sleep(300) // let the listener bus drain before reading counters
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[jobprobe] $n rep=$rep wall=$wall%.2fs jobs=${jobs.get} " +
        f"stages=${stages.get} tasks=${tasks.get} taskTime=${taskMs.get / 1000.0}%.2fs " +
        f"deser=${deserMs.get / 1000.0}%.2fs gc=${gcMs.get / 1000.0}%.2fs " +
        f"shufR=${shufRead.get / 1e6}%.1fMB shufW=${shufWrite.get / 1e6}%.1fMB " +
        f"ccRounds=${graft.dedup.Dedup.lastConvergenceRounds}")
    }
    spark.stop()
  }
}
