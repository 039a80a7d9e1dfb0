package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import graft.SparkSessionTestWrapper
import graft.functions.K

/** The connected-components core's two regimes compute one recurrence:
  * driver-regime labels and schema must equal distributed-regime labels
  * and schema on every fixture, at fixed budgets too small to reach the
  * fixpoint as well as at the fixpoint. */
class ComponentsSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._
  import ComponentsSpec.distributed

  private def sameAcrossRegimes(pairs: DataFrame, rounds: Int, toFixpoint: Boolean): Unit = {
    val driver = Dedup.components(pairs, rounds, toFixpoint)
    val dist = distributed(pairs, rounds, toFixpoint)
    assert(driver.queryExecution.logical.isInstanceOf[LocalRelation], "driver regime not taken")
    assert(!dist.queryExecution.logical.isInstanceOf[LocalRelation], "distributed regime not taken")
    assert(driver.schema == dist.schema)
    assert(driver.collect().toSet == dist.collect().toSet,
      s"labels differ at rounds=$rounds toFixpoint=$toFixpoint")
  }

  private def allBudgets(pairs: DataFrame, fixed: Seq[Int]): Unit = {
    fixed.foreach(r => sameAcrossRegimes(pairs, r, toFixpoint = false))
    sameAcrossRegimes(pairs, 64, toFixpoint = true)
  }

  test("regimes agree on ascending and descending chains, under and at the budget") {
    // 33 nodes close in 5 rounds; 34 nodes need 6 (node 33 holds label 1
    // after 5 — the driver kernel must reproduce that non-fixpoint state)
    Seq(32L, 33L).foreach { hops =>
      allBudgets((0L until hops).map(i => (i, i + 1L)).toDF("id_a", "id_b"), Seq(5, 6))
      allBudgets((0L until hops).map(i => (hops - i, hops - 1L - i)).toDF("id_a", "id_b"), Seq(5, 6))
    }
  }

  test("regimes agree on the mutual-ANN graph of the test embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = Similarity.mutualAnnPairs(e, "vec_id", "embedding", K.Dim,
      Similarity.nPlanesFor(e.count()), 3).localCheckpoint()
    assert(pairs.count() > 0)
    allBudgets(pairs, Seq(1, 2, Similarity.DefaultSemanticIterations))
  }

  test("regimes agree on an empty pair frame, repeated edges, int and nullable ids") {
    allBudgets(Seq.empty[(Long, Long)].toDF("id_a", "id_b"), Seq(0, 1, 5))
    val repeated = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L), (7L, 9L), (9L, 7L))
      .toDF("id_a", "id_b")
    allBudgets(repeated, Seq(0, 1, 5))
    allBudgets(Seq((5, 3), (3, 1), (8, 9)).toDF("id_a", "id_b"), Seq(0, 1, 5))
    val nullable = Seq((Option(4L), Option(6L)), (Option(6L), Option(2L))).toDF("id_a", "id_b")
    assert(nullable.schema.forall(_.nullable))
    allBudgets(nullable, Seq(0, 1, 5))
  }
}

object ComponentsSpec {
  /** The core with the driver regime switched off (limit 0). */
  def distributed(pairs: DataFrame, rounds: Int, toFixpoint: Boolean = false): DataFrame =
    Dedup.components(pairs, rounds, toFixpoint, limit = 0)
}
