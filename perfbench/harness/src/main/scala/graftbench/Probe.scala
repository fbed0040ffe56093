package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** The benchmark's own view of the Spark substrate: every job with its
  * interval, tag and stages, and per-stage task totals.
  *
  * Jobs are tagged two ways: the `graftbench.op` local property the
  * benchmark sets around each op on its own thread, and the job group
  * that `MiniHadoopApi` sets on its runner thread. A job is attributed
  * to `core.Materialize` when one of its stages was created from a
  * `Materialize.scala` frame; Spark records the creating stack in the
  * stage details, while `callSite.short` is not in the job properties.
  *
  * Read it only after [[org.apache.spark.graftbench.Bus.drain]].
  */
final class Probe extends SparkListener {
  import Probe._

  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val stagesById = mutable.HashMap.empty[Int, Stage]

  def reset(): Unit = synchronized { jobsById.clear(); stagesById.clear() }

  def jobs: Seq[Job] = synchronized(jobsById.values.toList)
  def stage(id: Int): Option[Stage] = synchronized(stagesById.get(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val mat = e.stageInfos.exists(s => Option(s.details).exists(isMaterialize))
    jobsById(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds.toList,
      prop(OpKey), prop("spark.jobGroup.id"), mat)
    e.stageInfos.foreach { s =>
      val scan = s.rddInfos.exists(_.name.contains("FileScanRDD"))
      stagesById.getOrElseUpdate(s.stageId, new Stage(s.stageId, scan))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(j => jobsById(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stagesById.get(i.stageId).foreach { s =>
        s.wallMs += (for (a <- i.submissionTime; b <- i.completionTime)
          yield b - a).getOrElse(0L)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stagesById.get(e.stageId).foreach { s =>
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.input += m.inputMetrics.bytesRead
        s.spill += m.diskBytesSpilled
      }
    }
  }
}

object Probe {
  val OpKey = "graftbench.op"

  def isMaterialize(details: String): Boolean =
    details.contains("Materialize.scala")

  /** One Spark job; times are epoch milliseconds from the bus events. */
  final case class Job(id: Int, start: Long, end: Long, stageIds: List[Int],
      op: Option[String], group: Option[String], materialize: Boolean)

  final class Stage(val id: Int, val scan: Boolean) {
    var wallMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var cpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var input = 0L
    var spill = 0L
  }
}
