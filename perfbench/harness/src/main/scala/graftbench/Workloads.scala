package graftbench

import graft.core.{MiniHadoopApi, MiniJob, Sinks}
import graft.examples.{PageRank, WordCount}
import graft.{Queries, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

/** What one run shares: the session, the run's work directory and the
  * trace. `tagged` marks every Spark job started inside it with `tag`. */
final class Ctx(val spark: SparkSession, val work: String, val trace: Trace) {
  def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.OpKey, tag)
    try body finally sc.setLocalProperty(Probe.OpKey, null)
  }

  /** Median wall seconds of `reps` runs of `body`, each in a span named
    * `name` whose layer is the part of `name` before the first dot. */
  def cell(name: String, reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      trace.span(name, name.takeWhile(_ != '.'), name)(body)
      (System.nanoTime() - t0) / 1e9
    })
}

/** One execution of an op. `start`/`end` (trace clock, ns) bound the part
  * whose Spark jobs are the op's own; `latency` is what the caller waited.
  * `tag` is the job tag or job group the op's Spark jobs carry. */
final case class Exec(op: String, tag: String, start: Long, end: Long,
    build: Double, action: Double, latency: Double, ok: Boolean, error: String,
    queue: Double = 0.0)

abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Op names as they appear in the per-op metrics. */
  def ops: Seq[String]
  /** Runs one op; the cold pass writes outputs where the checks read them. */
  def run(op: String, cold: Boolean): Seq[Exec]
  /** One pass over every op, in an order drawn from `rng`. */
  def round(rng: Random, cold: Boolean): Seq[Exec] =
    rng.shuffle(ops).flatMap(run(_, cold))
  /** Untimed bookkeeping after a round. */
  def afterRound(): Unit = ()
  /** Per-layer micro-cells, run once in a traced run. */
  def micro(): Map[String, Double]
  /** Extra result fields for the checks. */
  def extra: Map[String, Any] = Map.empty

  protected def failure(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300)
}

/** The ops of several workloads as one. */
final class Combined(parts: Seq[Workload]) extends Workload(parts.head.ctx) {
  val ops = parts.flatMap(_.ops)
  def run(op: String, cold: Boolean): Seq[Exec] =
    parts.find(_.ops.contains(op)).get.run(op, cold)
  override def afterRound(): Unit = parts.foreach(_.afterRound())
  def micro(): Map[String, Double] = parts.map(_.micro()).reduce(_ ++ _)
  override def extra: Map[String, Any] = parts.map(_.extra).reduce(_ ++ _)
}

/** Catalog queries (`Q.build` plus a noop-sink action) over the generated
  * tables. The cold pass writes each result as parquet under `out/` and
  * the queries' DuckDB oracles to `oracle_sql.json` for the checks: the
  * scale oracle where a query has one (its ground truth is quadratic),
  * else the plain oracle. */
final class CatalogWorkload(ctx: Ctx, tables: String, val ops: Seq[String],
    scanned: Seq[String], functionCells: Boolean) extends Workload(ctx) {
  private val qs = ops.map(n => n -> Queries.byName(n)).toMap
  private var n = 0

  Files.writeString(Paths.get(s"${ctx.work}/oracle_sql.json"),
    Json.obj(ops.flatMap(n => qs(n).scaleOracle.orElse(qs(n).oracle)
      .map(n -> _))))

  def run(name: String, cold: Boolean): Seq[Exec] = {
    n += 1
    val tag = s"$name#$n"
    val tr = ctx.trace
    var build, action = 0.0
    val t0 = tr.now
    val (res, _) = tr.span(name, "operators", tag) {
      ctx.tagged(tag)(Try {
        val t1 = System.nanoTime()
        val (df, _) = tr.span(s"$name.build", "operators", tag) {
          qs(name).build(spark, tables)
        }
        val t2 = System.nanoTime()
        tr.span(s"$name.action", "operators", tag) {
          val w = df.write.mode("overwrite")
          if (cold) w.parquet(s"${ctx.work}/out/$name")
          else w.format("noop").save()
        }
        build = (t2 - t1) / 1e9
        action = (System.nanoTime() - t2) / 1e9
      })
    }
    val t3 = tr.now
    Seq(Exec(name, tag, t0, t3, build, action, (t3 - t0) / 1e9,
      res.isSuccess, res.failed.map(failure).getOrElse("")))
  }

  def micro(): Map[String, Double] = {
    val scan = ctx.cell("tables.scan", 3) {
      scanned.foreach(t => Tables.df(spark, tables, t).write.mode("overwrite")
        .format("noop").save())
    }
    Map("tables.scan_s" -> scan) ++ (if (functionCells) functions() else Map())
  }

  /** Rows per second through each native function, on word sets of the
    * generated documents; the frames are cached so the cell times the
    * function, not the scan. */
  private def functions(): Map[String, Double] = {
    val words = Tables.df(spark, tables, "documents").select(col("doc_id"),
      expr("array_distinct(filter(split(text, ' '), x -> x != ''))").as("w"))
    val sig = words.crossJoin(spark.range(200).toDF("rep"))
      .select(expr("transform(w, x -> xxhash64(x, rep))").as("whs"))
      .cache()
    val pairs = words.as("a").crossJoin(words.as("b"))
      .select(col("a.w").as("x"), col("b.w").as("y")).cache()
    val (nSig, nPairs) = (sig.count(), pairs.count())
    def rate(fn: String, rows: Long, df: => org.apache.spark.sql.DataFrame) =
      s"functions.$fn.rows_per_s" -> rows / ctx.cell(s"functions.$fn", 3)(
        df.write.mode("overwrite").format("noop").save())
    val out = Map(
      rate("minhash_sig", nSig, sig.select(expr("minhash_sig(whs, 64)"))),
      rate("jaccard_similarity", nPairs,
        pairs.select(expr("jaccard_similarity(x, y)"))))
    sig.unpersist(); pairs.unpersist()
    out
  }
}

/** The closure-engine path. Op `wordcount`: one WordCount job per corpus
  * shard through the `MiniHadoopApi` queue (default
  * `maxConcurrentJobs = 1`), each streaming its result into the JSON and
  * TSV sinks. Op `pagerank`: `PageRank.run` over the adjacency list with
  * the ranks written as one JSON object. */
final class MapReduceWorkload(ctx: Ctx, shards: Seq[String], graph: String,
    nodes: Long, iterations: Int) extends Workload(ctx) {
  val ops = Seq("wordcount", "pagerank")
  private val session = ctx.spark
  import session.implicits._
  private val api = new MiniHadoopApi(spark)
  private var n = 0
  private val digests = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
  private def shardDir(i: Int) = s"${ctx.work}/mr/shard-$i"
  private def ranksPath = s"${ctx.work}/mr/ranks.json"

  def run(op: String, cold: Boolean): Seq[Exec] =
    if (op == "pagerank") Seq(pagerank()) else wordcount()

  /** Submits one job per shard at once, so all but the first queue. */
  private def wordcount(): Seq[Exec] = {
    val tr = ctx.trace
    val submitted = shards.indices.map { i =>
      val t0 = System.nanoTime()
      val id = api.submitJob(WordCount.spec(), Seq(shards(i)), shardDir(i))
      (id, (System.nanoTime() - t0) / 1e9)
    }
    submitted.map {
      case (Left(err), submit) =>
        Exec("wordcount", "", 0, 0, submit, 0, 0, ok = false,
          s"submit rejected: $err")
      case (Right(id), submit) =>
        val info = api.awaitJob(id, 150000L).toOption
          .filter(i => i.status == "completed" || i.status == "failed")
          .getOrElse(sys.error(s"job $id did not finish"))
        val created = tr.fromEpochMs(info.createdAt)
        val started = tr.fromEpochMs(info.startedAt.get)
        val done = tr.fromEpochMs(info.completedAt.get)
        if (tr.on) {
          val s = tr.add("wordcount", "api", created, done, -1, id)
          tr.add("api.queue", "api.queue", created, started, s, id)
          tr.add("api.run", "api", started, done, s, id)
        }
        Exec("wordcount", id, started, done, submit, (done - started) / 1e9,
          (done - created) / 1e9, info.status == "completed",
          info.error.getOrElse(""), (started - created) / 1e9)
    }
  }

  private def pagerank(): Exec = {
    n += 1
    val tag = s"pagerank#$n"
    val tr = ctx.trace
    var build, action = 0.0
    val t0 = tr.now
    val (res, _) = tr.span("pagerank", "pagerank", tag) {
      ctx.tagged(tag)(Try {
        val t1 = System.nanoTime()
        val (ranks, _) = tr.span("pagerank.run", "pagerank", tag) {
          val links = PageRank.parseAdjacency(spark, spark.read.textFile(graph))
          PageRank.run(spark, links, iterations, totalPages = nodes)
        }
        val t2 = System.nanoTime()
        tr.span("pagerank.sink", "pagerank", tag) {
          Files.createDirectories(Paths.get(ranksPath).getParent)
          Sinks.writeJsonObject(ranksPath, ranks.toLocalIterator().asScala
            .map(r => r.getString(0) -> r.getDouble(1)))
        }
        build = (t2 - t1) / 1e9
        action = (System.nanoTime() - t2) / 1e9
      })
    }
    val t3 = tr.now
    Exec("pagerank", tag, t0, t3, build, action, (t3 - t0) / 1e9,
      res.isSuccess, res.failed.map(failure).getOrElse(""))
  }

  /** Every round rewrites the same files. The word-count files are
    * deterministic, so a digest per round lets the checks cover every
    * round; the ranks carry floating-point sums in shuffle order, so each
    * round's ranks are kept and checked with a tolerance. */
  override def afterRound(): Unit = {
    val files = shards.indices.flatMap { i =>
      val d = new java.io.File(shardDir(i))
      Option(d.listFiles()).toSeq.flatten.filter(_.isFile).map(_.getPath)
    }
    digests += files.map(f => f -> Stats.sha256(f)).toMap
    val ranks = Paths.get(ranksPath)
    if (Files.exists(ranks)) Files.move(ranks,
      Paths.get(s"${ctx.work}/mr/ranks-${digests.size}.json"))
  }

  override def extra: Map[String, Any] =
    Map("digests" -> digests.toList, "iterations" -> iterations)

  /** `MiniJob.transform` read through `toLocalIterator` with no sink,
    * against the full `MiniJob.runOn` (the same stream teed into both
    * sinks): the difference is the sinks' cost. Both read every shard. */
  def micro(): Map[String, Double] = {
    val spec = WordCount.spec()
    val cellDir = s"${ctx.work}/mr/cell"
    def lines = spark.read.textFile(shards: _*)
    var transform, full = Seq.empty[Double]
    for (_ <- 1 to 3) {
      transform :+= ctx.cell("minijob.transform", 1)(MiniJob.transform(spark, spec, lines)
        .toLocalIterator().asScala.foreach(_ => ()))
      full :+= ctx.cell("minijob.runOn", 1)(MiniJob.runOn(spark, spec, lines, cellDir))
    }
    val t = Stats.median(transform)
    Map("minijob.transform_s" -> t, "minijob.sink_s" -> (Stats.median(full) - t))
  }
}
