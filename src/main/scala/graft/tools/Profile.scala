package graft.tools

import graft.{Q, Queries, Session, Tables}
import graft.core.Materialize.MatOps
import graft.operators.DedupOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, count, lit, max, sum}

/** The measurement main (not part of the bench or verify contract):
  *   - `time <sfDir> <query|canary_kernel>… [runs]`: `runs` (default 4)
  *     interleaved rounds in one session through the noop sink. Prints
  *     every run with its Spark jobs (run 0 is cold), each round's total
  *     (family members sharing a written-once artifact such as
  *     `DedupOps.sharedAdjacency` pay it once, like a pipeline), min over
  *     the warm runs and each query's last-run stage table, inside a
  *     [[CanaryBracket]] unless every name is itself a canary probe.
  *   - `count <sfDir> <query|candidates|containment|edges|hot>…
  *     [threshold]`: rows of a query, d07 prefix candidates, d09
  *     candidate pairs and join rows, pair-graph edges, or d02's LSH
  *     hot-bucket routing split, at `threshold` (default 0.9).
  *   - `plan <sfDir> [query|kernel|containment|cc]…`: plan signals and
  *     the formatted plan of each query (default: the headline set), or
  *     of an interior frame that `materialize` hides from the query plan
  *     (d07 kernel, d09 candidates, one fused d06 CC round), run first so
  *     its adaptive plan is the final one.
  *
  * Usage: `tools/run.sh graft.tools.Profile <mode> <sfDir> …`
  */
object Profile {
  val Usage: String = "usage: Profile time <sfDir> <query|canary_kernel>... [runs]" +
    " | count <sfDir> <query|candidates|containment|edges|hot>... [threshold]" +
    " | plan <sfDir> [query|kernel|containment|cc]..."

  private val CountKinds = Set("candidates", "containment", "edges", "hot")
  private val Interiors = Set("kernel", "containment", "cc")
  private val ProbeNames = Set("q01_pricing_summary", "canary_kernel")

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg\n$Usage")

  /** A catalog query or the fixed-size kernel probe (sfDir-independent). */
  private def timedQuery(name: String): Q =
    if (name == "canary_kernel") Q(name, (s, _) => KernelCanary.build(s), None)
    else Queries.byName.getOrElse(name, fail(s"unknown query '$name'"))

  /** One timed run of `query`: `round` 0 is the cold run. */
  final case class Run(query: String, round: Int, secs: Double, jobs: Int)

  def main(args: Array[String]): Unit = {
    if (args.length < 2) fail("missing mode or sfDir")
    val mode = args(0)
    val dir = args(1)
    val rest = args.drop(2).toSeq
    val (targets, num) =
      if (rest.lastOption.exists(_.toDoubleOption.isDefined)) (rest.init, rest.lastOption)
      else (rest, None)
    // validate every argument before paying for a session
    val run: SparkSession => Unit = mode match {
      case "time" =>
        if (targets.isEmpty) fail("time needs at least one query")
        val qs = targets.map(timedQuery)
        val runs = num.fold(4)(n => n.toIntOption.filter(_ >= 1)
          .getOrElse(fail(s"runs must be a positive int; got $n")))
        val bracket = CanaryBracket.enabled && !qs.forall(q => ProbeNames(q.name))
        time(_, dir, qs, runs, bracket)
      case "count" =>
        if (targets.isEmpty) fail("count needs at least one target")
        targets.filterNot(t => CountKinds(t) || Queries.byName.contains(t))
          .foreach(t => fail(s"unknown count target '$t'"))
        counts(_, dir, targets, num.fold(0.9)(_.toDouble))
      case "plan" =>
        if (num.isDefined) fail(s"plan takes no number; got ${num.get}")
        targets.filterNot(t => Interiors(t) || Queries.byName.contains(t))
          .foreach(t => fail(s"unknown plan target '$t'"))
        val names =
          if (targets.nonEmpty) targets else Queries.all.filter(_.headline).map(_.name)
        plans(_, dir, names)
      case other => fail(s"unknown mode '$other'")
    }
    val spark = Session.get("graft-profile")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark) finally spark.stop()
  }

  /** `time` mode. Jobs are counted by a [[StageStats]] listener that is
    * drained and reset before each run and drained again after it, so
    * neither the bracket probes nor the drain sentinels nor a prior
    * run's late events are attributed to the run. */
  def time(spark: SparkSession, dir: String, qs: Seq[Q], runs: Int,
      bracket: Boolean): Seq[Run] = {
    val stats = new StageStats
    spark.sparkContext.addSparkListener(stats)
    try {
      val pre = if (bracket) Some(CanaryBracket.probe(spark, 3)) else None
      pre.foreach(p => println(
        f"[bracket] pre q01=${CanaryBracket.fmtQ01(p)} kernel=${p.kernel}%.3f"))
      val all = (0 until runs).flatMap { round =>
        val rs = qs.map { q =>
          stats.drain(spark)
          stats.reset()
          val t0 = System.nanoTime()
          q.build(spark, dir).write.mode("overwrite").format("noop").save()
          val secs = (System.nanoTime() - t0) / 1e9
          stats.drain(spark)
          val jobs = stats.jobs
          println(f"[time] ${q.name} run$round: $secs%.2f s jobs=$jobs")
          if (round == runs - 1) {
            println(s"[stagestats] ${q.name} run$round:")
            stats.report()
          }
          Run(q.name, round, secs, jobs)
        }
        println(f"[time] round$round total: ${rs.map(_.secs).sum}%.2f s")
        rs
      }
      qs.foreach { q =>
        val warm = all.filter(r => r.query == q.name && r.round > 0).map(_.secs)
        if (warm.nonEmpty) println(f"[time] ${q.name}: warm min=${warm.min}%.3f s " +
          s"samples=[${warm.map(t => f"$t%.3f").mkString(", ")}]  sf=$dir")
      }
      pre.foreach { p =>
        val post = CanaryBracket.probe(spark, 2)
        println(f"[bracket] post q01=${CanaryBracket.fmtQ01(post)} kernel=${post.kernel}%.3f")
        println(s"""{"metric":"canary_bracket","queries":"${qs.map(_.name).mkString(",")}",""" +
          CanaryBracket.json(p, post) + "}")
      }
      all
    } finally spark.sparkContext.removeSparkListener(stats)
  }

  /** `count` mode. */
  private def counts(spark: SparkSession, dir: String, targets: Seq[String],
      t: Double): Unit = targets.foreach {
    case "candidates" =>
      val n = DedupOps.prefixCandidates(spark, dir, t).count()
      println(f"[count] candidates threshold=$t%.2f rows=$n  dir=$dir")
    case "containment" =>
      // distinct candidate pairs vs pre-collapse join rows (sum of
      // per-pair shared-prefix multiplicity): the ratio is the byte
      // factor a map-side combine saves off the pair exchange
      val r = DedupOps.containmentCandidates(spark, dir, t)
        .agg(count(lit(1)), sum(col("n_shared_prefix"))).head()
      println(f"[count] containment threshold=$t%.2f pairs=${r.getLong(0)} " +
        f"join_rows=${r.getLong(1)} " +
        f"multiplicity=${r.getLong(1).toDouble / r.getLong(0)}%.2f  dir=$dir")
    case "edges" =>
      val n = DedupOps.sharedPairGraph(spark, dir, t).count()
      println(f"[count] edges threshold=$t%.2f rows=$n  dir=$dir")
    case "hot" =>
      // how many docs the derived cutoff routes through the exact
      // prefix kernel instead of the banding layer
      val (bands0, numBands) = DedupOps.lshBands(spark, dir, t)
      val bands = bands0.materialize
      val bucketSizes = bands.groupBy("band", "bh")
        .agg(count(lit(1)).as("bn")).materialize
      val nDocs = bands.select("doc_id").distinct().count()
      val cutoff = DedupOps.deriveMaxBucket(bucketSizes, numBands)
      val maxLoad = bucketSizes.agg(max("bn")).head().getLong(0)
      val hot = bands.join(
          bucketSizes.filter(col("bn") > cutoff).select("band", "bh"),
          Seq("band", "bh"))
        .select("doc_id").distinct().count()
      println(f"[count] hot threshold=$t%.2f docs=$nDocs " +
        f"derived_cutoff=$cutoff max_bucket_load=$maxLoad " +
        f"hot_docs=$hot hot_fraction=${hot.toDouble / nDocs}%.4f  dir=$dir")
    case q =>
      val n = Queries.byName(q).build(spark, dir).count()
      println(s"[count] $q rows=$n  dir=$dir")
  }

  private val Signals = Seq(
    "PushedFilters" -> "pushdown",
    "BroadcastHashJoin" -> "broadcast-join",
    "partial_" -> "partial-agg",
    "TakeOrderedAndProject" -> "topk",
    "codegen id" -> "codegen",
    "SortMergeJoin" -> "sort-merge-join",
    "ReusedExchange" -> "reused-exchange",
    "CartesianProduct" -> "CARTESIAN!",
    "BroadcastNestedLoopJoin" -> "bnl-join")

  /** `plan` mode. */
  private def plans(spark: SparkSession, dir: String, targets: Seq[String]): Unit =
    targets.foreach { t =>
      def sets = DedupOps.hashedWordSetsOf(Tables.df(spark, dir, "documents"))
      val interior: Option[DataFrame] = t match {
        case "kernel" => Some(DedupOps.prefixFilterPairsOn(sets, 0.9))
        case "containment" =>
          Some(DedupOps.containmentCandidatesOn(sets.localCheckpoint(), 0.9))
        case "cc" =>
          // round 1 of d06's loop: its adjacency and its seed labels
          val sym = DedupOps.sharedAdjacency(spark, dir)
          Some(DedupOps.ccRoundPlan(sym, DedupOps.ccSeedLabels(sym).localCheckpoint()))
        case _ => None
      }
      // localCheckpoint runs the frame's own QueryExecution, which is
      // what finalizes the adaptive plan explained below
      interior.foreach(_.localCheckpoint())
      val df = interior.getOrElse(Queries.byName(t).build(spark, dir))
      val plan = df.queryExecution.explainString(FormattedMode)
      println(s"========== $t ==========")
      println("signals: " +
        Signals.collect { case (k, label) if plan.contains(k) => label }.mkString(", "))
      println(plan)
    }
}
