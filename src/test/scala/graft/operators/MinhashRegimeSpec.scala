package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.SparkSessionTestWrapper

/** The MinHash near-dup core's two regimes compute one result: the
  * driver regime's pairs and schema must equal the forced relational
  * regime's (limit 0) on every fixture, and every case pins which regime
  * the default limits take. */
class MinhashRegimeSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private def sign(df: DataFrame): DataFrame = Dedup.signedTokens(df, "doc_id", "text", 3, 16)

  private def pairs(signed: DataFrame, threshold: Double, maxBucketSize: Int,
                    limit: Int = Dedup.DriverMinhashLimit,
                    pairLimit: Long = Dedup.DriverMinhashPairs,
                    cut: DataFrame => DataFrame = _.localCheckpoint(false)): DataFrame =
    Dedup.minhashPairs(signed, "doc_id", threshold, 3, 16, 4, maxBucketSize, cut,
      limit, pairLimit)

  private def isDriver(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** Pairs and schema under the given limits equal the relational
    * regime's; `driver` is the regime the limits must pick. Returns the
    * pair count. */
  private def sameAcrossRegimes(signed: DataFrame, threshold: Double, driver: Boolean,
                                maxBucketSize: Int = Dedup.DefaultMaxBucketSize,
                                limit: Int = Dedup.DriverMinhashLimit,
                                pairLimit: Long = Dedup.DriverMinhashPairs): Int = {
    val got = pairs(signed, threshold, maxBucketSize, limit, pairLimit)
    val rel = pairs(signed, threshold, maxBucketSize, limit = 0)
    assert(isDriver(got) == driver, s"expected the ${if (driver) "driver" else "relational"} regime")
    assert(!isDriver(rel), "relational regime not taken at limit 0")
    assert(got.schema == rel.schema)
    val (g, r) = (sorted(got.collect()), sorted(rel.collect()))
    assert(g == r, s"pairs differ at threshold=$threshold maxBucketSize=$maxBucketSize")
    g.length
  }

  private lazy val documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("regimes agree on the sf0.001 documents, across thresholds and limits") {
    val signed = sign(documents).localCheckpoint()
    val docs = signed.count().toInt
    assert(sameAcrossRegimes(signed, 0.35, driver = true) > 0)
    sameAcrossRegimes(signed, 0.6, driver = true)
    sameAcrossRegimes(signed, 0.35, driver = true, maxBucketSize = Int.MaxValue)
    // the limit counts docs: fewer than the limit is the driver regime
    sameAcrossRegimes(signed, 0.35, driver = true, limit = docs + 1)
    sameAcrossRegimes(signed, 0.35, driver = false, limit = docs)
  }

  test("a one-partition batch cut takes the driver regime in two jobs at most") {
    val signed = sign(documents)
    val rel = sorted(pairs(signed, 0.35, Dedup.DefaultMaxBucketSize, limit = 0).collect())
    BatchScope { scope =>
      val one = scope.keepInOne(signed)
      val p = graft.Profiler.attach(spark)
      var got: DataFrame = null
      val jobs = try p.measure {
        got = pairs(one, 0.35, Dedup.DefaultMaxBucketSize, cut = scope.keep)
      }.jobs finally p.close()
      assert(isDriver(got))
      assert(jobs <= 2, s"driver regime ran $jobs jobs")
      assert(sorted(got.collect()) == rel)
      // a one-partition cut over the limit: the one-task read stops there
      val few = pairs(one, 0.35, Dedup.DefaultMaxBucketSize, limit = 8, cut = scope.keep)
      assert(!isDriver(few))
      assert(sorted(few.collect()) == rel)
    }
  }

  test("regimes agree on the hub fixture, capped and uncapped") {
    // 12 copies of one text: every band bucket is a 12-doc hub
    val hub = sign((0L until 12L).map(i => (i, "spark shuffles data between stages fast"))
      .toDF("doc_id", "text"))
    assert(sameAcrossRegimes(hub, 0.5, driver = true, maxBucketSize = 4) == 0)
    assert(sameAcrossRegimes(hub, 0.5, driver = true, maxBucketSize = Int.MaxValue) == 66)
  }

  test("regimes agree on int ids") {
    val ints = documents.select(col("doc_id").cast("int").as("doc_id"), col("text"))
    val signed = sign(ints)
    assert(signed.schema.head.dataType == org.apache.spark.sql.types.IntegerType)
    assert(sameAcrossRegimes(signed, 0.35, driver = true) > 0)
  }

  test("regimes agree on an empty frame and on docs shorter than n") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(sameAcrossRegimes(sign(empty), 0.0, driver = true) == 0)
    val short = Seq((1L, "too short"), (2L, "too short"), (3L, "one two"))
      .toDF("doc_id", "text")
    assert(sameAcrossRegimes(sign(short), 0.0, driver = true) == 0)
    val mixed = short.union(Seq((4L, "spark shuffles data between stages"),
      (5L, "spark shuffles data between stages"), (6L, "x y")).toDF("doc_id", "text"))
    assert(sameAcrossRegimes(sign(mixed), 0.5, driver = true) == 1)
  }

  test("repeated and null ids take the relational regime") {
    val repeated = Seq((1L, "spark shuffles data between stages fast"),
      (1L, "spark shuffles data between stages slow"),
      (2L, "spark shuffles data between stages fast")).toDF("doc_id", "text")
    sameAcrossRegimes(sign(repeated), 0.3, driver = false)
    val nulls = Seq((Option(1L), "spark shuffles data between stages fast"),
      (None, "spark shuffles data between stages fast"),
      (Option(2L), "spark shuffles data between stages fast")).toDF("doc_id", "text")
    sameAcrossRegimes(sign(nulls), 0.3, driver = false)
  }

  test("threshold 0 keeps shared-shingle pairs and drops zero-overlap candidates") {
    // one signature for every doc: all three are candidates in every band;
    // docs 0 and 1 share no shingle, doc 2 shares (1, 2, 3) with doc 0
    val sig = (1L to 16L).toArray
    val signed = Seq((0L, Array(1L, 2L, 3L, 4L)), (1L, Array(5L, 6L, 7L, 8L)),
      (2L, Array(1L, 2L, 3L, 9L)))
      .toDF("doc_id", "__tids").withColumn("__sig", typedLit(sig))
    assert(sameAcrossRegimes(signed, 0.0, driver = true) == 1)
    val only = pairs(signed, 0.0, Dedup.DefaultMaxBucketSize).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(only.toSeq == Seq((0L, 2L, 1.0 / 3.0)))
  }

  test("buckets over the pair bound take the relational regime") {
    val hub = sign((0L until 12L).map(i => (i, "spark shuffles data between stages fast"))
      .toDF("doc_id", "text"))
    // 4 bands × C(12, 2) = 264 bucket pairs
    assert(sameAcrossRegimes(hub, 0.5, driver = true, maxBucketSize = Int.MaxValue,
      pairLimit = 264) == 66)
    assert(sameAcrossRegimes(hub, 0.5, driver = false, maxBucketSize = Int.MaxValue,
      pairLimit = 263) == 66)
  }
}
