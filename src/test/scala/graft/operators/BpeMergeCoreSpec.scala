package graft.operators

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.SparkSessionTestWrapper

/** The BPE merge core's partitioned placement past its pair limit: the
  * recount rounds must learn the sequential list exactly and choose the
  * same batches as the delta-maintained rounds, whether the pair table
  * is over the limit from the start or outgrows it mid-training. */
class BpeMergeCoreSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private def corpus(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  /** Trains to exhaustion with the pair limit forced to `limit` and
    * pins list equality with the sequential reference; returns it. */
  private def sameAsSequential(wc: DataFrame, limit: Int): Seq[(Long, String, String, Long)] = {
    val seq = TokenizerTrain.trainBpeMerges(wc, nMerges = 512)
    assert(seq.nonEmpty && seq.size < 512, "fixture must train to exhaustion")
    val (over, overRounds) = TokenizerTrain.trainBpe(wc, 512, driverWords = 0,
      verifyDeltas = true, pairLimit = limit)
    assert(over == seq)
    val (_, rounds) = TokenizerTrain.trainBpeMergesBatched(wc, 512, driverWords = 0)
    assert(overRounds == rounds, "batches must not depend on where the candidates came from")
    seq
  }

  private def pairTableSize(wc: DataFrame, merges: Seq[(Long, String, String, Long)]): Long =
    TokenizerTrain.pairCountsOf(
      TokenizerTrain.segmentWords(wc, merges.map(m => (m._2, m._3)))).count()

  test("over the pair limit from the first round: real corpus and the R3 fixture") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sameAsSequential(TokenizerTrain.wordCounts(d, "text").localCheckpoint(true), limit = 0)
    val tricky = TokenizerTrain.wordCounts(
      corpus(Seq.fill(6)("xab").mkString(" "), Seq.fill(5)("cd").mkString(" "),
        "ab ab ab"), "text")
    val seqT = sameAsSequential(tricky, limit = 0)
    assert(seqT(1)._2 == "x" && seqT(1)._3 == "ab",
      s"fixture must exercise the new-pair-overtakes case, got ${seqT(1)}")
  }

  test("a pair table that starts under the limit and outgrows it mid-training") {
    // every xaby word turns its (x,a), (a,b), (b,y) into (x,ab), (ab,y),
    // while the xa and by words keep the old pairs alive: 9 pairs
    // before the first merge, 16 after it
    val xs = Seq("c", "d", "e", "f")
    val ys = Seq("g", "h", "i", "j")
    val words = (for (x <- xs; y <- ys) yield s"${x}ab$y") ++ xs.map(_ + "a") ++ ys.map("b" + _)
    val wc = TokenizerTrain.wordCounts(corpus(words.mkString(" ")), "text")
    val limit = 12
    val seq = sameAsSequential(wc, limit)
    assert(pairTableSize(wc, Nil) <= limit)
    assert(pairTableSize(wc, seq.take(1)) > limit)
  }

  test("a delta that drives a pair count below zero throws") {
    val pc = mutable.HashMap(("a", "b") -> 2L)
    TokenizerTrain.mergeDelta(pc, ("a", "b"), -2L)
    assert(pc.isEmpty)
    intercept[IllegalArgumentException](TokenizerTrain.mergeDelta(pc, ("a", "b"), -1L))
  }
}
