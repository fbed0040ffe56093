package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import scala.collection.mutable

/** Per-stage metrics collector for scale diagnosis: wall, task-time sum,
  * GC, shuffle read/write, memory+disk spill, peak task count, plus the
  * number of jobs started since the last reset(). Attach
  * before the measured action, then `report()` prints the top stages by
  * task-time — the answer to "is this query CPU-, spill-, or
  * IO-bound?" that wall-clock alone can't give.
  */
class StageStats extends SparkListener {

  case class Agg(var name: String = "", var wallMs: Long = 0,
    var taskMs: Long = 0, var gcMs: Long = 0, var cpuMs: Long = 0,
    var shuffleReadB: Long = 0, var shuffleWriteB: Long = 0,
    var memSpillB: Long = 0, var diskSpillB: Long = 0,
    var tasks: Int = 0, var inputB: Long = 0, var maxTaskMs: Long = 0,
    // max over tasks of TaskMetrics.peakExecutionMemory — the largest
    // single-task unsafe-memory footprint (hash maps, sort buffers);
    // the number that decides whether a build-side map fits an executor
    var peakExecMemB: Long = 0)

  private val stages = mutable.Map.empty[Int, Agg]
  private var jobStarts = 0

  private def isSentinel(stageName: String) = stageName.contains("StageStats.scala")

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    if (!j.stageInfos.exists(s => isSentinel(s.name))) jobStarts += 1
  }

  /** Jobs started since the last reset(), drain() sentinels excluded;
    * read it after a drain() so every start of the measured body landed. */
  def jobs: Int = synchronized(jobStarts)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(t.stageId, Agg())
    val m = t.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.cpuMs += m.executorCpuTime / 1000000L
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.memSpillB += m.memoryBytesSpilled
      a.diskSpillB += m.diskBytesSpilled
      a.inputB += m.inputMetrics.bytesRead
      a.tasks += 1
      if (m.executorRunTime > a.maxTaskMs) a.maxTaskMs = m.executorRunTime
      if (m.peakExecutionMemory > a.peakExecMemB)
        a.peakExecMemB = m.peakExecutionMemory
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = s.stageInfo
      val a = stages.getOrElseUpdate(info.stageId, Agg())
      a.name = info.name.takeWhile(_ != '\n').take(60)
      a.wallMs = (for {c <- info.completionTime; b <- info.submissionTime}
        yield c - b).getOrElse(0L)
    }

  private def gb(b: Long) = f"${b / 1e9}%.1f"

  /** Print the top-N stages by summed task time, then totals. Sentinel
    * stages from drain() are excluded unconditionally — if a saturated
    * bus delivered one AFTER drain's deadline, it must not be attributed
    * to the operator under measurement. */
  def report(top: Int = 12): Unit = synchronized {
    val rows = stages.filterNot(r => isSentinel(r._2.name))
    println("[stagestats] stage tasks wall_s task_s maxtask_s cpu_s gc_s " +
      "shufR_GB shufW_GB spillMem_GB spillDisk_GB input_GB peakMem_MB name")
    rows.toSeq.sortBy(-_._2.taskMs).take(top).foreach { case (id, a) =>
      println(f"[stagestats] $id%5d ${a.tasks}%5d ${a.wallMs / 1e3}%6.1f " +
        f"${a.taskMs / 1e3}%7.1f ${a.maxTaskMs / 1e3}%9.1f " +
        f"${a.cpuMs / 1e3}%7.1f ${a.gcMs / 1e3}%5.1f " +
        f"${gb(a.shuffleReadB)}%8s ${gb(a.shuffleWriteB)}%8s " +
        f"${gb(a.memSpillB)}%11s ${gb(a.diskSpillB)}%12s " +
        f"${gb(a.inputB)}%8s ${a.peakExecMemB / 1048576}%10d ${a.name}")
    }
    val t = rows.values
    println(f"[stagestats] TOTAL stages=${rows.size} " +
      f"task_s=${t.map(_.taskMs).sum / 1e3}%.1f cpu_s=${t.map(_.cpuMs).sum / 1e3}%.1f " +
      f"gc_s=${t.map(_.gcMs).sum / 1e3}%.1f " +
      f"shufR_GB=${gb(t.map(_.shuffleReadB).sum)} " +
      f"shufW_GB=${gb(t.map(_.shuffleWriteB).sum)} " +
      f"spillDisk_GB=${gb(t.map(_.diskSpillB).sum)} " +
      f"peakMem_MB=${(if (t.isEmpty) 0L else t.map(_.peakExecMemB).max) / 1048576}")
  }

  def reset(): Unit = synchronized { stages.clear(); jobStarts = 0 }

  /** Drain the async listener bus before a reset()/report() boundary.
    * Runs a sentinel job and waits until its stage-completion event has
    * reached this listener; the bus delivers in order per queue, so once
    * the sentinel lands every event from the preceding timed body has
    * landed too — late onTaskEnd/onStageCompleted deliveries can no
    * longer be dropped by reset() or attributed to the next operator.
    * The sentinel's own stage rows are removed after the wait.
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val before = synchronized(stages.keySet.toSet)
    spark.sparkContext.range(0, 1).count() // stage name = "count at StageStats.scala:NN"
    def sentinelIds = synchronized {
      stages.collect { case (id, a)
        if !before(id) && isSentinel(a.name) => id }.toSeq
    }
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (sentinelIds.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
    if (sentinelIds.isEmpty)
      // the drain guarantee did NOT hold: events from the timed body may
      // still be in flight and could land after the caller's reset().
      // report() filters sentinel rows unconditionally, but foreign-stage
      // attribution is possible — say so instead of failing silently.
      println("[stagestats] WARN drain timed out after 10s; listener bus " +
        "still saturated — next report may include late foreign stages")
    synchronized { sentinelIds.foreach(stages.remove) }
  }
}
