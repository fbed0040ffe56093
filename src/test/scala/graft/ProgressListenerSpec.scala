package graft

import graft.progress.ProgressListener
import org.scalatest.funsuite.AnyFunSuite

/** The listener must report reference-style {done}/{total} phase progress
  * after a job completes (JobExecution parity, SURVEY §1.4). */
class ProgressListenerSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  test("listener sees completed stages and jobs") {
    val l = ProgressListener.attach(spark)
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").count().collect()
    // listener bus is async; poll until the terminal events drain
    val deadline = System.currentTimeMillis() + 30000
    while (l.jobCounts._2 < 1 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)

    val snap = l.snapshot()
    assert(snap.nonEmpty)
    snap.values.foreach { p =>
      assert(p.completed == p.total, s"incomplete phase: $p")
      assert(p.failed == 0)
    }
    val (active, completed, failed) = l.jobCounts
    assert(active == 0 && completed >= 1 && failed == 0)
  }

  test("ingest counters track a write job's bytes and records (S4 parity)") {
    val l = ProgressListener.attach(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    spark.range(5000).selectExpr("id", "id * 2 AS v")
      .write.mode("overwrite").parquet(dir)

    val deadline = System.currentTimeMillis() + 30000
    while (l.ingest().recordsWritten < 5000 &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)

    val io = l.ingest()
    assert(io.recordsWritten == 5000L)
    assert(io.bytesWritten > 0L)
    // percent against the real on-disk size: complete job = 100%
    val size = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    assert(io.percentOf(size) >= 99.0)
    assert(io.percentOf(0) == 100.0)
  }
}
