package graftbench

import org.apache.spark.graftbench.Bus

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * starts this program and checks what it wrote. Two modes:
  *
  *  - `--mode probe`: build the session, print `READY`, exit. The caller
  *    times process start to `READY` (one set-up sample).
  *  - `--mode run`: build the session, print `READY`, wait for a line on
  *    standard input (the caller's probes have ended), run the cold pass,
  *    warm up, then run timed rounds for `--seconds` and write the result
  *    JSON to `--result`. With `--trace 1` every other timed round runs
  *    with the benchmark's listener and spans on; the per-layer metrics
  *    come from those rounds and the spans go to `<work>/spans.json`.
  *
  * The ops: catalog queries `--ops` over the parquet tables in `--tables`
  * (with `--scan` naming the tables the scan cell reads, `--functions 1`
  * adding the native-function cells), and, with `--shards`, the
  * closure-engine ops over the corpus shards and the `--graph` adjacency
  * list (`--nodes` pages, `--iterations` PageRank iterations). `--seed`
  * draws the op order of every round.
  */
object Main {
  private def arg(a: Map[String, String], k: String): String =
    a.getOrElse(k, sys.error(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = new Trace
    val t0 = trace.now
    val spark = graft.Session.get("graft-perfbench")
    val t1 = trace.now
    val sessionS = (t1 - t0) / 1e9
    println("READY")
    System.out.flush()
    if (arg(a, "mode") == "probe") Runtime.getRuntime.halt(0)
    // the set-up probes start alongside this JVM; measure once they are gone
    scala.io.StdIn.readLine()

    val seconds = arg(a, "seconds").toDouble
    val traced = arg(a, "trace") == "1"
    val work = arg(a, "work")
    if (traced) trace.add("session.get", "session", t0, t1, -1, "")
    val ctx = new Ctx(spark, work, trace)
    val parts = Seq(
      a.get("ops").filter(_.nonEmpty).map(ops => new CatalogWorkload(ctx,
        arg(a, "tables"), ops.split(",").toSeq, arg(a, "scan").split(",").toSeq,
        functionCells = a.get("functions").contains("1"))),
      a.get("shards").map(s => new MapReduceWorkload(ctx, s.split(",").toSeq,
        arg(a, "graph"), arg(a, "nodes").toLong, arg(a, "iterations").toInt))
    ).flatten
    val wl: Workload = if (parts.size == 1) parts.head else new Combined(parts)
    val rng = new Random(arg(a, "seed").toLong)
    val execs = mutable.ArrayBuffer.empty[Exec]
    def round(): (Double, Seq[Exec]) = {
      val r0 = System.nanoTime()
      val es = wl.round(rng, cold = false)
      val s = (System.nanoTime() - r0) / 1e9
      wl.afterRound()
      execs ++= es
      (s, es)
    }

    // machine-speed samples around the cold pass and every timed round
    // (the first call only warms the calibration itself)
    Calibration.seconds()
    val cal = mutable.ArrayBuffer(Calibration.seconds())

    // cold pass: what a one-shot batch user pays in a fresh JVM
    val c0 = System.nanoTime()
    val cold = wl.round(rng, cold = true)
    val coldS = (System.nanoTime() - c0) / 1e9
    execs ++= cold
    wl.afterRound()
    cal += Calibration.seconds()

    // warm up: at least one round, then on while a round is still faster
    // than the one before it, for at most half of the measuring time
    val warmup = mutable.ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    while (warmup.isEmpty || ((System.nanoTime() - w0) / 1e9 < seconds / 2 &&
        (warmup.size < 2 || warmup.last < 0.98 * warmup(warmup.size - 2))))
      warmup += round()._1
    val latencies0 = execs.size

    val probe = new Probe
    val sc = spark.sparkContext
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gc.map(_.getCollectionTime).sum
    val walls = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    val m0 = System.nanoTime()
    while (walls.size < 2 || (System.nanoTime() - m0) / 1e9 < seconds) {
      val on = traced && walls.size % 2 == 1
      if (on) {
        Bus.drain(sc)
        probe.reset()
        sc.addSparkListener(probe)
        trace.on = true
      }
      val g0 = gcMs
      val rs = trace.now
      val (s, es) = round()
      val re = trace.now
      if (on) {
        Bus.drain(sc)
        sc.removeSparkListener(probe)
        trace.on = false
        layer += Analysis.round(trace, probe, es, wl.ops, rs, re,
          (gcMs - g0) / 1e3, sc.defaultParallelism)
      }
      walls += ((s, on))
      cal += Calibration.seconds()
    }
    val latencies = execs.drop(latencies0).map(e => List(e.op, e.latency))

    // a GC drops the references Spark's ContextCleaner tracks; it then
    // frees their blocks on its own thread, so let it catch up between GCs
    val heapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.last

    val perLayer: Map[String, Double] = if (!traced) Map.empty else {
      val untracedWall = Stats.median(walls.filter(!_._2).map(_._1).toSeq)
      val tracedWall = Stats.median(walls.filter(_._2).map(_._1).toSeq)
      val keys = layer.flatMap(_.keys).distinct
      trace.on = true
      val micro = wl.micro()
      trace.on = false
      keys.map(k => k -> Stats.median(layer.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++
        micro ++ Map("session.get_s" -> sessionS,
          "trace.overhead_s" -> (tracedWall - untracedWall))
    }
    if (traced) Files.writeString(Paths.get(s"$work/spans.json"), trace.json)

    val failed = execs.filter(!_.ok)
    val result = Seq(
      "cold_s" -> coldS,
      "calibration_s" -> cal.toList,
      "warmup_s" -> warmup.toList,
      "rounds_s" -> walls.filter(!_._2).map(_._1).toList,
      "traced_rounds_s" -> walls.filter(_._2).map(_._1).toList,
      "latencies_s" -> latencies.toList,
      "attempted" -> execs.size,
      "failed" -> failed.size,
      "errors" -> failed.map(e => s"${e.op}: ${e.error}").distinct.take(10).toList,
      "retained_heap_mb" -> heapMb,
      "per_layer" -> perLayer) ++ wl.extra
    Files.writeString(Paths.get(arg(a, "result")), Json.obj(result))
    // everything the run wrote is under --work; skip Spark's shutdown hooks
    Runtime.getRuntime.halt(0)
  }
}

/** Per-layer numbers of one traced round, from the listener's jobs and
  * stages and the spans of the round's ops. Sizes are in MB (10^6 bytes). */
object Analysis {
  def round(trace: Trace, probe: Probe, execs: Seq[Exec], ops: Seq[String],
      rs: Long, re: Long, gcS: Double, cores: Int): Map[String, Double] = {
    val jobs = probe.jobs.filter(_.end >= 0)
    def iv(j: Probe.Job) = (trace.fromEpochMs(j.start), trace.fromEpochMs(j.end))
    def stages(js: Seq[Probe.Job]) =
      js.flatMap(_.stageIds).distinct.flatMap(probe.stage)
    def mb(b: Long) = b / 1e6

    // job spans, each under the innermost span of its op open at its start
    val opSpans = trace.spans.filter(s => s.start >= rs && s.end >= 0)
    val owner = mutable.Map.empty[Int, Exec]
    jobs.foreach { j =>
      val tag = j.op.orElse(j.group)
      val (a, b) = iv(j)
      val parent = opSpans.filter(s => tag.contains(s.op) && s.start <= a && a <= s.end)
        .sortBy(-_.start).headOption.map(_.id).getOrElse(-1)
      execs.find(e => tag.contains(e.tag)).foreach(owner(j.id) = _)
      trace.add(if (j.materialize) "materialize.job" else "spark.job",
        if (j.materialize) "materialize" else "spark", a, b, parent,
        tag.getOrElse(""))
    }

    val perOp = ops.flatMap { op =>
      val mine = execs.filter(_.op == op)
      val rows = mine.map { e =>
        val js = jobs.filter(j => owner.get(j.id).contains(e))
        val covered = Trace.covered(js.map(iv), e.start, e.end)
        val st = stages(js)
        val longest = st.filter(_.taskMs.nonEmpty).sortBy(-_.wallMs).headOption
        val skew = longest.map { s =>
          val t = s.taskMs.sorted
          t.last.toDouble / math.max(1L, t(t.size / 2))
        }.getOrElse(0.0)
        Map("build_s" -> e.build, "action_s" -> e.action,
          "jobs" -> js.size.toDouble, "job_s" -> covered / 1e9,
          "gap_s" -> ((e.end - e.start - covered) / 1e9),
          "shuffle_mb" -> mb(st.map(_.shuffleWrite).sum), "skew" -> skew)
      }
      if (rows.isEmpty) Nil
      else rows.head.keys.map(k => s"$op.$k" -> Stats.median(rows.map(_(k))))
    }.toMap

    val st = stages(jobs)
    val mat = jobs.filter(_.materialize)
    val self = Trace.selfTimes(trace.spans.filter(s => s.start >= rs && s.end >= 0))
    val selfBy = trace.spans.filter(s => self.contains(s.id))
      .groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
    val wall = re - rs
    val wc = execs.filter(_.op == "wordcount")
    val pr = execs.filter(_.op == "pagerank")
    perOp ++ Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> st.map(_.taskMs.size).sum.toDouble,
      "spark.gap_s" -> (wall - Trace.covered(jobs.map(iv), rs, re)) / 1e9,
      "spark.cpu_util" -> st.map(_.cpuNs).sum.toDouble / (wall.toDouble * cores),
      "spark.gc_s" -> gcS,
      "spark.shuffle_write_mb" -> mb(st.map(_.shuffleWrite).sum),
      "spark.spill_mb" -> mb(st.map(_.spill).sum),
      "tables.input_mb" -> mb(st.filter(_.scan).map(_.input).sum),
      "materialize.jobs" -> mat.size.toDouble,
      "materialize.s" -> Trace.covered(mat.map(iv), rs, re) / 1e9,
      "materialize.read_mb" ->
        mb(stages(mat).map(s => s.input + s.shuffleRead).sum),
      "api.queue_wait_s" -> Stats.median(wc.map(_.queue)),
      "api.run_s" -> Stats.median(wc.map(_.action)),
      "pagerank.run_s" -> Stats.median(pr.map(_.latency))) ++
      Seq("operators", "materialize", "spark", "api", "pagerank")
        .map(l => s"self.${l}_s" -> selfBy.getOrElse(l, 0.0))
  }
}
