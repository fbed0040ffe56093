package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.tools.Profile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** `graft.tools.Profile`: the `time` mode's per-run job count is the
  * number of jobs the run itself started (bus drained, sentinels and
  * bracket probes excluded), and bad invocations fail before a session
  * exists, naming every mode. */
class ProfileSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("time counts the same jobs on every run, as an independent listener sees them") {
    val seen = new AtomicInteger(0)
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val names = j.stageInfos.map(_.name)
        if (names.exists(_.contains("ProfileSpec.scala"))) drained = true
        else if (!names.exists(_.contains("StageStats.scala"))) seen.incrementAndGet()
      }
    }
    // this spec's own drain: a sentinel job whose start event, once
    // delivered, proves every earlier event reached the listener
    def drain(): Unit = {
      drained = false
      spark.sparkContext.range(0, 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
      assert(drained, "listener bus did not drain within 30 s")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      drain()
      seen.set(0)
      val runs = Profile.time(spark, sf,
        Seq(Queries.byName("q03_shipping_priority")), runs = 2, bracket = false)
      drain()
      assert(runs.map(_.round) == Seq(0, 1))
      assert(runs.head.jobs > 0 && runs.map(_.jobs).distinct.size == 1,
        s"jobs per run: ${runs.map(_.jobs)}")
      assert(runs.map(_.jobs).sum == seen.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("plan shape: warm Spark jobs per run of d06 and p01 at sf0.001") {
    // job counts are deterministic for a fixture and conf; pinned so that
    // a change to them needs a stated reason. d06: the bounded edge read
    // and its final sort (CC labels on the driver); p01: the prefix
    // kernel, the observed adjacency materialize and the driver CC
    // collect, then the roll-up over the materialized sets
    val session = spark.newSession() // confs other specs set stay out
    session.conf.set("spark.sql.shuffle.partitions", "4")
    session.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "32")
    val runs = Profile.time(session, sf,
      Seq("d06_dedup_clusters", "p01_corpus_curation").map(Queries.byName),
      runs = 2, bracket = false)
    val warm = runs.filter(_.round == 1).map(r => r.query -> r.jobs).toMap
    assert(warm == Map("d06_dedup_clusters" -> 5, "p01_corpus_curation" -> 28), warm)
  }

  test("an unknown mode or name fails with a usage line listing every mode") {
    assert(Seq("time <sfDir>", "count <sfDir>", "plan <sfDir>")
      .forall(Profile.Usage.contains))
    Seq(Array("bogus", sf), Array("time"), Array("time", sf, "no_such_query"),
        Array("count", sf, "no_such_target"), Array("plan", sf, "no_such_frame"))
      .foreach { args =>
        val e = intercept[IllegalArgumentException](Profile.main(args))
        assert(e.getMessage.contains(Profile.Usage), args.mkString(" "))
      }
  }
}
