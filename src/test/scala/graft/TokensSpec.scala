package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.Trigger
import graft.functions.Kernel
import graft.operators.TokenizerTrain
import graft.streaming.StreamingOps

/** The native word stream behind `Kernel.tokens`: equal to the `lower()`
  * chain of `Kernel.tokensHof` row for row, and the only tokenizer in the
  * plans of the primary operators that used to run that chain. */
class TokensSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  test("native tokens == tokensHof on non-ASCII fixtures, empties, nulls and sf0.001 docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq[(Long, String)](
        (9001L, ""), (9002L, "   "), (9003L, "\t\n \r"), (9004L, "...!!!"),
        (9005L, "MiXeD CaSe-42 und Öäü"), (9006L, "a"),
        // U+212A (Kelvin sign) lowers to 'k'; U+0130 lowers to "i" plus
        // a combining dot, which separates
        (9007L, "Kelvin K"), (9008L, "İİİ"), (9009L, "İ" * 40),
        (9010L, "worKd İstanbul AKB İİ"), (9011L, null)
      ).toDF("doc_id", "text"))
    val rows = docs
      .select(col("doc_id"), Kernel.tokens(col("text")).as("fast"),
        Kernel.tokensHof(col("text")).as("hof"))
      .collect()
    assert(rows.length > 11)
    val bad = rows.filter(r => r.get(1) != r.get(2))
    assert(bad.isEmpty, s"mismatch on: ${bad.take(3).mkString("; ")}")
    val byId = rows.map(r => r.getLong(0) -> r.get(1)).toMap
    assert(byId(9011L) == null)
    Seq(9001L, 9002L, 9003L, 9004L).foreach(id =>
      assert(byId(id).asInstanceOf[scala.collection.Seq[String]].isEmpty))
    assert(byId(9010L).asInstanceOf[scala.collection.Seq[String]].toList ==
      List("workd", "i", "stanbul", "akb", "i", "i"))
    assert(byId(9007L).asInstanceOf[scala.collection.Seq[String]].toList == List("kelvin", "k"))
  }

  private def optimized(df: DataFrame): String = df.queryExecution.optimizedPlan.toString

  private def assertNativeOnly(plan: String): Unit = {
    assert(!plan.contains("lower("), plan)
    assert(!plan.contains("filter("), plan)
    assert(plan.contains("tokens("), plan)
  }

  /** The optimized plan of a streaming operator's one micro-batch over
    * `docs` read back as a file stream (a memory stream is a local
    * relation, into which the optimizer folds the tokenizer). `Once`, not
    * `AvailableNow`: the latter ends on a no-data batch, whose plan has no
    * scan left. */
  @annotation.nowarn("cat=deprecation")
  private def streamedPlan(docs: DataFrame, op: DataFrame => DataFrame, mode: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tokens").resolve("in").toString
    docs.select(col("doc_id"), col("text"), lit(Timestamp.valueOf("2026-01-01 10:00:00")).as("ts"))
      .write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = op(stream).writeStream.format("noop").outputMode(mode)
      .trigger(Trigger.Once()).start()
    try {
      q.awaitTermination()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan.toString
    } finally q.stop()
  }

  test("wordCounts, dedupExactStream and qualityStatsStream plan no lower() and no lambda filter") {
    // a scan, not a local relation, so the optimizer keeps the projection
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the probe sees the chain where it is still used
    val hof = optimized(docs.select(Kernel.tokensHof(col("text"))))
    assert(hof.contains("lower(") && hof.contains("filter("), hof)

    assertNativeOnly(optimized(TokenizerTrain.wordCounts(docs, "text")))
    assertNativeOnly(streamedPlan(docs,
      StreamingOps.dedupExactStream(_, "text", "ts", "10 minutes"), "append"))
    assertNativeOnly(streamedPlan(docs,
      StreamingOps.qualityStatsStream(_, "text", "ts", "1 minute", "5 minutes"), "update"))
  }
}
