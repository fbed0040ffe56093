package graft

import graft.operators.DedupOps
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Connected components: the driver path (union-find on collected edges)
  * against the distributed path, and inside the distributed path the
  * alt-star doubling form vs min-label propagation with pointer jumping
  * and the rounds-budget crossover between them. The cases that pin the
  * loop call `connectedComponentsDistributed`, since small graphs take
  * the driver path. Pointer jumping converges in O(log diameter) rounds
  * only where ids increase along paths; with unordered ids on a long path
  * its rounds grow close to linearly, and alt-star is the expected path. */
class DedupCCSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("alt-star converges on a 64-chain within an O(log n) budget") {
    // path 1-2-...-64: diameter 63. Min-label needs 63 rounds; the
    // doubling form must settle well inside 12.
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = labels(DedupOps.connectedComponentsAltStar(chain, maxRounds = 12))
    assert(got.keySet == (1L to 64L).toSet)
    assert(got.values.forall(_ == 1L))
  }

  test("pointer-jump propagation converges a 40-chain inside the budget") {
    // diameter 39 ≫ crossoverAfter = 8: plain per-round propagation
    // would hand off to alt-star, but the r16 pointer jump doubles the
    // label-pointer depth per round, so the loop itself must settle in
    // ≤ 8 rounds (O(log diameter)) — pinned via the diagnostic counter
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = labels(DedupOps.connectedComponentsDistributed(chain))
    assert(got == (1L to 40L).map(_ -> 1L).toMap)
    assert(DedupOps.lastPropagationRounds >= 1 &&
      DedupOps.lastPropagationRounds <= 8,
      s"expected propagation (not alt-star fallback) to converge the " +
        s"40-chain; rounds=${DedupOps.lastPropagationRounds}")
  }

  test("a shuffled-id 64-chain exceeds the default budget and falls back to alt-star") {
    // the same chain shape with seeded shuffled ids: a pointer lands on a
    // label that is not final yet, so propagation needs far more rounds
    // (a driver-side replay of the loop never needed fewer than 11 over
    // 50 seeds) — past the default budget of 8, alt-star must take over
    val ids = new scala.util.Random(42).shuffle((1L to 64L).toVector)
    val chain = ids.zip(ids.tail).toDF("src", "dst")
    val got = labels(DedupOps.connectedComponentsDistributed(chain))
    assert(got == (1L to 64L).map(_ -> 1L).toMap)
    assert(DedupOps.lastPropagationRounds == -1,
      "expected the alt-star fallback path")
  }

  test("the fused CC round reuses the hop exchange") {
    // parquet-read adjacency (nullable columns, like d06's bucketed one):
    // the jump join's inferred isnotnull filter would make its two sides
    // canonically different without ccRoundPlan's explicit filter, and
    // the union + partial aggregate would be shuffled twice
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L), (7L, 8L))
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_round").toString
    (edges ++ edges.map(_.swap)).toDF("src", "dst")
      .write.mode("overwrite").parquet(dir)
    val sym = spark.read.parquet(dir)
    val round = DedupOps.ccRoundPlan(sym,
      DedupOps.ccSeedLabels(sym).localCheckpoint())
    // seed labels = min(self, neighbors); one hop + jump on top of them
    assert(labels(round) ==
      ((1L to 6L).map(_ -> 1L) ++ Seq(7L -> 7L, 8L -> 7L)).toMap)
    val root = round.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
    assert(root.isFinalPlan)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val all = nodes(root)
    val unionShuffles = all.collect {
      case e: ShuffleExchangeExec if e.exists(_.isInstanceOf[UnionExec]) => e
    }
    assert(unionShuffles.size == 1 && all.exists(_.isInstanceOf[ReusedExchangeExec]),
      root.toString)
  }

  test("crossover to alt-star still fires when the budget truly runs out") {
    // crossoverAfter = 1: one hop+jump round cannot cover diameter 39,
    // so the fallback must take over and still be right
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = labels(DedupOps.connectedComponentsDistributed(chain, crossoverAfter = 1))
    assert(got == (1L to 40L).map(_ -> 1L).toMap)
    assert(DedupOps.lastPropagationRounds == -1,
      "expected the alt-star fallback path")
  }

  test("connectedComponents is correct for string node ids") {
    // string labels cast to NULL under the numeric label-sum shortcut —
    // the type check must route them to the join-count convergence path,
    // not silently declare convergence after one round; string ids also
    // take the distributed path (the driver path packs longs)
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"))
      .toDF("src", "dst")
    val got = DedupOps.connectedComponents(chain).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(DedupOps.lastPropagationRounds != 0, "expected the distributed path")
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("alt-star labels equal propagation labels on a multi-component graph") {
    val rnd = new scala.util.Random(11)
    // several blobs + a chain + isolated pair, shuffled ids
    val edges = (
      Seq.fill(60)((rnd.nextInt(15).toLong + 1, rnd.nextInt(15).toLong + 1)) ++
        (20L until 30L).map(i => (i, i + 1)) ++
        Seq((100L, 101L))
      ).filter { case (a, b) => a != b }.toDF("src", "dst")
    val viaProp = labels(DedupOps.connectedComponentsDistributed(
      edges, maxRounds = 100, crossoverAfter = 100))
    val viaStar = labels(DedupOps.connectedComponentsAltStar(edges))
    assert(viaStar == viaProp)
  }

  /** Node → component as boxed values: Int and Long ids stay distinct. */
  private def anyLabels(df: org.apache.spark.sql.DataFrame): Map[Any, Any] =
    df.collect().map(r => r.get(0) -> r.get(1)).toMap

  /** The driver path, the distributed loop and alt-star label `edges` alike. */
  private def assertThreeWay(edges: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val viaDriver = anyLabels(DedupOps.connectedComponents(edges))
    assert(DedupOps.lastPropagationRounds == 0, s"$what: expected the driver path")
    val viaLoop = anyLabels(DedupOps.connectedComponentsDistributed(edges))
    val viaStar = anyLabels(DedupOps.connectedComponentsAltStar(edges))
    assert(viaDriver.nonEmpty && viaDriver == viaLoop, what)
    assert(viaLoop == viaStar, what)
  }

  /** Stars, ordered and shuffled-id chains, duplicate and reversed edges
    * and self-loops, as separate components at distinct id offsets. */
  private def shapes(chainLen: Int, seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ordered = (1L until chainLen).map(i => (i, i + 1))
    val ids = rnd.shuffle((1L to chainLen).toVector).map(_ + 10000L)
    val shuffled = ids.zip(ids.tail)
    val star = (20001L to 20050L).map(leaf => (20025L, leaf)).filter { case (a, b) => a != b }
    val dupsAndReversed = Seq((30001L, 30002L), (30001L, 30002L), (30002L, 30001L),
      (30003L, 30002L), (30003L, 30003L))
    val selfLoop = Seq((40000L, 40000L))
    val blobs = Seq.fill(80)((rnd.nextInt(40).toLong + 50000L, rnd.nextInt(40).toLong + 50000L))
    rnd.shuffle(ordered ++ shuffled ++ star ++ dupsAndReversed ++ selfLoop ++ blobs)
  }

  test("driver path labels equal the distributed loop and alt-star on seeded graphs, Long and Int ids") {
    for (seed <- Seq(1, 2, 3)) {
      val edges = shapes(64, seed).toDF("src", "dst")
      assertThreeWay(edges, s"Long ids, seed $seed")
      if (seed == 1)
        assertThreeWay(edges.select(col("src").cast("int"), col("dst").cast("int")),
          "Int ids")
    }
  }

  test("driver path labels equal the distributed loop and alt-star on 1,000-node chains") {
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((1L to 1000L).toVector).map(_ + 5000L)
    val edges = ((1L until 1000L).map(i => (i, i + 1)) ++ ids.zip(ids.tail))
      .toDF("src", "dst")
    assertThreeWay(edges, "1,000-node chains")
  }

  test("the edge cap picks the path: n edges on the driver, n - 1 distributed") {
    val edges = shapes(16, 5).toDF("src", "dst").localCheckpoint()
    val n = edges.count().toInt
    val adj = () => edges.union(edges.select(col("dst"), col("src")))
    for (symAdj <- Seq(None, Some(adj))) {
      val atCap = anyLabels(DedupOps.componentsBySize(edges, 50, 8, symAdj, n))
      assert(DedupOps.lastPropagationRounds == 0, s"cap n, symAdj=${symAdj.isDefined}")
      val overCap = anyLabels(DedupOps.componentsBySize(edges, 50, 8, symAdj, n - 1))
      assert(DedupOps.lastPropagationRounds != 0, s"cap n - 1, symAdj=${symAdj.isDefined}")
      assert(atCap == overCap)
    }
  }

  test("a null endpoint forces the distributed path") {
    val edges = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, 3L), (4L, null),
      (null, 5L), (6L, 7L)).toDF("src", "dst")
    val want = anyLabels(DedupOps.connectedComponentsDistributed(edges))
    val adj = () => edges.union(edges.select(col("dst"), col("src")))
    for (symAdj <- Seq(None, Some(adj))) {
      val got = anyLabels(DedupOps.componentsBySize(edges, 50, 8, symAdj, 1000))
      assert(DedupOps.lastPropagationRounds != 0, s"symAdj=${symAdj.isDefined}")
      assert(got == want)
    }
  }
}
