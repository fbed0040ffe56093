package graft

import graft.core.Materialize
import graft.core.Materialize.MatOps
import org.scalatest.funsuite.AnyFunSuite

/** Pins the materialization strategy point (VERDICT r6 #1): every
  * multi-consumer/iterative frame routes through `Materialize`, whose
  * `reliable` mode replaces the executor-local `localCheckpoint` with a
  * parquet round-trip under a (cluster: shared-FS) scratch dir — the
  * fault-tolerant deployment mode. The heavyweight consumers (d02's
  * three-consumer LSH band frame, d06's iterative connected-components
  * labels) must produce identical answers in both modes. */
class MaterializeSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-mat-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def withMode[A](m: String)(body: => A): A = {
    val prev = spark.conf.getOption(Materialize.ModeKey)
    spark.conf.set(Materialize.ModeKey, m)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Materialize.ModeKey, v)
      case None    => spark.conf.unset(Materialize.ModeKey)
    }
  }

  test("reliable mode writes parquet under the scratch base and round-trips rows") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val got = withMode("reliable") { df.materializeAs("spec") }
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      (1 to 100).map(i => (i.toLong, s"v$i")).toSet)
    val base = new java.io.File(Materialize.scratchBase(spark))
    assert(base.exists && base.listFiles.exists(_.getName.startsWith("spec-")),
      s"no spec-* intermediate under $base")
  }

  test("local mode still truncates lineage via localCheckpoint") {
    import spark.implicits._
    val df = (1 to 10).toDF("x")
    val got = withMode("local") { df.materialize }
    // a checkpointed frame's logical plan is a bare scan of the
    // materialized RDD, not the original LocalRelation pipeline
    assert(got.queryExecution.optimizedPlan.collectLeaves()
      .forall(p => !p.getClass.getSimpleName.contains("LocalRelation")))
    assert(got.count() == 10)
  }

  test("observed() delivers the exact metrics in local and reliable modes") {
    import org.apache.spark.sql.functions._
    val docs = Tables.df(spark, sf, "documents")
    val direct = docs.agg(count(lit(1)), sum("n_chars"),
      sum(when(col("lang").isNull, 1L).otherwise(0L))).head()
    Seq("local", "reliable").foreach { m =>
      val (out, got) = withMode(m) {
        Materialize.observed(docs, "obs-spec", Seq(count(lit(1)).as("rows"),
          sum("n_chars").as("chars"),
          sum(when(col("lang").isNull, 1L).otherwise(0L)).as("null_lang")))
      }
      assert(got == Map("rows" -> direct.getLong(0),
        "chars" -> direct.getLong(1), "null_lang" -> direct.getLong(2)), m)
      assert(out.count() == direct.getLong(0), m)
    }
  }

  test("an observation that never fires fails loud within the timeout") {
    import scala.concurrent.duration._
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Materialize.awaitObservation(
        org.apache.spark.sql.Observation("never"), "spec-hint", 200.millis)
    }
    assert(e.getMessage.contains("materialize[spec-hint]"))
    assert((System.nanoTime() - t0) / 1e9 < 10)
  }

  test("d02 near-dup pairs are identical under local and reliable modes") {
    def pairs(m: String) = withMode(m) {
      Queries.byName("d02_minhash_lsh").build(spark, sf)
        .collect().map(_.toSeq).toSet
    }
    val local = pairs("local")
    assert(local.nonEmpty)
    assert(pairs("reliable") == local)
  }

  test("d06 connected components are identical under local and reliable modes") {
    def clusters(m: String) = withMode(m) {
      Queries.byName("d06_dedup_clusters").build(spark, sf)
        .collect().map(_.toSeq).toSet
    }
    val local = clusters("local")
    assert(local.nonEmpty)
    assert(clusters("reliable") == local)
  }
}
