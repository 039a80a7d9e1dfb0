package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Kernel

/** The shared test session is the timed session: it carries
  * [[Graft.tunedBuilder]]'s settings for a sub-64 MB input, including
  * the optimizer exclusion that keeps an explode over a projected
  * tokenization to one tokenization per row. */
class SessionConfigSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val ExcludedRules = "spark.sql.optimizer.excludedRules"

  /** `tokenids` calls in the optimized plan of an explode over a
    * projected `Kernel.tokenIds` alias. */
  private def tokenizations(): Int = {
    val plan = spark.range(3)
      .select(col("id"), concat(lit("alpha beta "), col("id").cast("string")).as("text"))
      .select(col("id"), Kernel.tokenIds(col("text")).as("t"))
      .select(col("id"), explode(col("t")).as("token_id"))
      .queryExecution.optimizedPlan.toString
    "tokenids\\(".r.findAllIn(plan).length
  }

  test("an explode over a projected tokenIds alias tokenizes once") {
    assert(tokenizations() == 1)
  }

  test("with InferFiltersFromGenerate back on, the same plan tokenizes twice") {
    val saved = spark.conf.get(ExcludedRules)
    spark.conf.unset(ExcludedRules)
    try assert(tokenizations() == 2)
    finally spark.conf.set(ExcludedRules, saved)
  }

  test("the session carries tunedBuilder's time zone, exclusion and sub-64 MB threshold") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get(ExcludedRules) ==
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ==
      Graft.fallbackThresholdFor(Some(Graft.ScaleConfigMinBytes - 1)).toString)
  }
}
