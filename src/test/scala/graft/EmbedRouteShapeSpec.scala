package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.backend.SparseLinearBank
import graft.functions.Kernel
import graft.operators.SparseEmbedder

/** The shape of the four perfbench `embed` routes: each materializes in
  * one Spark job with no exchange, so a call pays one job and no
  * shuffle or stage wait. The narrow weighted-sparse route is pinned
  * equal to the explode → groupBy(doc, token).max formulation it
  * replaces (kept here as the reference), and its merge is per input
  * row, as the reference's per-input HashMap is. */
class EmbedRouteShapeSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private val routes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "textEmbeddingLearned" -> (d => Graft.textEmbeddingLearned(d, "doc_id", "text")),
    "sparseTextEmbeddingWeighted" -> (d => Graft.sparseTextEmbeddingWeighted(d, "doc_id", "text")),
    "bgem3Embedding" -> (d => Graft.bgem3Embedding(d, "doc_id", "text")),
    "textRerankLearned" -> (d => Graft.textRerankLearned(d, "doc_id", "text", "what is spark")))

  /** The route's former shape: posexplode, per-occurrence dot, relu,
    * then a shuffle to max-merge each (doc, token). */
  private def groupByReference(df: DataFrame): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val (wq, bq) = SparseLinearBank.loadedQuantized
    df.select(col("doc_id"), posexplode(Kernel.tokenIds(col("text"))).as(Seq("pos", "token_id")))
      .filter(col("token_id") > 3)
      .withColumn("__dotq", bridge.column(graft.functions.SparseDotQ(
        bridge.expression(col("token_id")), bridge.expression(col("pos").cast("long")),
        wq.toIndexedSeq)))
      .withColumn("__wq", greatest(lit(0L), col("__dotq") + lit(bq)))
      .filter(col("__wq") > 0)
      .groupBy(col("doc_id"), col("token_id"))
      .agg(max(col("__wq")).as("__mq"))
      .select(col("doc_id"), col("token_id"),
        (col("__mq").cast("double") / lit(SparseLinearBank.Scale.toDouble)).as("weight"))
  }

  private def weighted(df: DataFrame): DataFrame =
    Graft.sparseTextEmbeddingWeighted(df, "doc_id", "text")

  private def sorted(rows: Array[Row]): Seq[(Long, Long, Double)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  test("each embed route runs one Spark job on a noop write, with no exchange") {
    val p = Profiler.attach(spark)
    val shapes =
      try routes.map { case (name, route) =>
        val df = route(docs)
        val plan = df.queryExecution.executedPlan.toString
        val jobs = p.measure(df.write.format("noop").mode("overwrite").save()).jobs
        (name, jobs, plan)
      } finally p.close()
    info(shapes.map { case (n, j, _) => s"$n=$j" }.mkString(", "))
    shapes.foreach { case (name, jobs, plan) =>
      assert(jobs == 1, s"$name ran $jobs jobs")
      assert(!plan.contains("Exchange"), s"$name plans an exchange:\n$plan")
    }
  }

  test("bgem3Embedding tokenizes each row once and drops rows with no tokens") {
    val plan = Graft.bgem3Embedding(docs, "doc_id", "text").queryExecution.optimizedPlan.toString
    assert("tokenids\\(".r.findAllIn(plan).length == 1, s"not one tokenids in:\n$plan")
    import spark.implicits._
    val df = Seq((0L, "alpha beta"), (1L, ""), (2L, null)).toDF("doc_id", "text")
    assert(Graft.bgem3Embedding(df, "doc_id", "text").select("doc_id").as[Long].collect().toSeq == Seq(0L))
  }

  test("weighted sparse rows equal the groupBy max-merge over the sf0.001 documents") {
    val got = sorted(weighted(docs).collect())
    val want = sorted(groupByReference(docs).collect())
    assert(got.nonEmpty)
    assert(got == want)
    // the schema callers read
    assert(weighted(docs).columns.toSeq == Seq("doc_id", "token_id", "weight"))
  }

  test("a repeated token max-merges into one row, the groupBy's weight") {
    import spark.implicits._
    val df = Seq((0L, "alpha beta alpha gamma alpha beta"), (1L, "spark spark spark spark"))
      .toDF("doc_id", "text")
    val got = sorted(weighted(df).collect())
    assert(got.nonEmpty)
    assert(got.map(r => (r._1, r._2)).distinct.length == got.length, "a token kept two rows")
    assert(got == sorted(groupByReference(df).collect()))
  }

  test("the merge is per input row: rows sharing an id are not merged") {
    import spark.implicits._
    val one = Seq((7L, "alpha beta gamma delta alpha")).toDF("doc_id", "text")
    val single = sorted(weighted(one).collect())
    assert(single.nonEmpty)
    val twice = sorted(weighted(one.union(one)).collect())
    // each input row keeps its own rows; the groupBy would merge them
    assert(twice == (single ++ single).sorted)
    assert(sorted(groupByReference(one.union(one)).collect()) == single)
  }
}
