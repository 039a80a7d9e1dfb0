package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.TokenizerTrain

/** BPE tokenizer training: hand-computed merges on a tiny fixture,
  * greedy-left round semantics (the back-to-back case), deterministic
  * tie-breaking, partitioning invariance, and early exhaustion. */
class TokenizerTrainSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import spark.implicits._

  private def corpus(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("trainBpeMerges: hand-computed two-round fixture") {
    // words: ab x3, abc x1 → round 0 pairs (a,b)=4, (b,c)=1 → merge (a,b)
    // round 1: ab=[ab], abc=[ab,c] → pairs (ab,c)=1 → merge (ab,c)
    // round 2: nothing left to merge → early stop
    val wc = TokenizerTrain.wordCounts(corpus("ab ab ab", "abc"), "text")
    val merges = TokenizerTrain.trainBpeMerges(wc, nMerges = 5)
    assert(merges == Seq((0L, "a", "b", 4L), (1L, "ab", "c", 1L)))
  }

  test("greedy-left round: back-to-back occurrences both merge") {
    // "aaaa" under merge (a,a) → (aa)(aa), NOT (aa)a a — the classic
    // non-overlapping left-to-right BPE round
    val wc = TokenizerTrain.wordCounts(corpus("aaaa aaa"), "text")
    val seg = TokenizerTrain.segmentWords(wc, Seq(("a", "a")))
      .select(col("word"), col("syms")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(seg("aaaa") == List("aa", "aa"))
    assert(seg("aaa") == List("aa", "a"))
  }

  test("tie-break: equal counts resolve (left, right) lexicographic") {
    // "xy" and "ab" each appear twice: counts tie at 2, (a,b) < (x,y)
    val wc = TokenizerTrain.wordCounts(corpus("xy ab", "ab xy"), "text")
    val merges = TokenizerTrain.trainBpeMerges(wc, nMerges = 1)
    assert(merges == Seq((0L, "a", "b", 2L)))
  }

  test("partitioning invariance: repartitioned word table learns the same merges") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wc = TokenizerTrain.wordCounts(d, "text")
    val a = TokenizerTrain.trainBpeMerges(wc, nMerges = 6)
    val b = TokenizerTrain.trainBpeMerges(wc.repartition(7), nMerges = 6)
    assert(a == b)
    assert(a.size == 6)
  }

  test("exhaustion: single-character vocabulary learns nothing") {
    val wc = TokenizerTrain.wordCounts(corpus("a b c a"), "text")
    assert(TokenizerTrain.trainBpeMerges(wc, nMerges = 3).isEmpty)
  }

  test("trainBpeMergesBatched == trainBpeMerges to exhaustion (real corpus + fixtures)") {
    // the provable-prefix batch rule must reproduce the sequential list
    // EXACTLY, merge for merge, on a real corpus trained to exhaustion
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wc = TokenizerTrain.wordCounts(d, "text").localCheckpoint(true)
    val seq = TokenizerTrain.trainBpeMerges(wc, nMerges = 512)
    // default resolves to the driver-incremental path on this table;
    // driverWords = 0 forces the DISTRIBUTED batched rounds — both must
    // reproduce the sequential list exactly
    val (bat, rounds) = TokenizerTrain.trainBpeMergesBatched(wc, nMerges = 512)
    assert(bat == seq)
    val (batDist, roundsDist) = TokenizerTrain.trainBpeMergesBatched(wc,
      nMerges = 512, driverWords = 0)
    assert(batDist == seq)
    assert(rounds <= roundsDist)
    assert(roundsDist < seq.size, s"batching must save rounds: $roundsDist vs ${seq.size}")
    // truncation respects the requested count mid-batch (both paths)
    val (bat8, _) = TokenizerTrain.trainBpeMergesBatched(wc, nMerges = 8)
    assert(bat8 == seq.take(8))
    val (bat8d, _) = TokenizerTrain.trainBpeMergesBatched(wc, nMerges = 8,
      driverWords = 0)
    assert(bat8d == seq.take(8))
    // fixture where the naive batch WOULD be wrong without R3: merging
    // the top pair creates a new pair that outcounts the runner-up —
    // sequential picks it, so the batch must stop after one merge
    val tricky = TokenizerTrain.wordCounts(
      corpus(Seq.fill(6)("xab").mkString(" "), Seq.fill(5)("cd").mkString(" "),
        "ab ab ab"), "text")
    val seqT = TokenizerTrain.trainBpeMerges(tricky, nMerges = 3)
    val (batT, _) = TokenizerTrain.trainBpeMergesBatched(tricky, nMerges = 3,
      driverWords = 0)
    assert(batT == seqT)
    val (batTi, _) = TokenizerTrain.trainBpeMergesBatched(tricky, nMerges = 3)
    assert(batTi == seqT)
    assert(seqT(1)._2 == "x" && seqT(1)._3 == "ab",
      s"fixture must exercise the new-pair-overtakes case, got ${seqT(1)}")
  }

  test("distributed delta maintenance: pair table == per-round recount, list == sequential") {
    // verifyDeltas recounts pairCountsOf(syms) after EVERY round and
    // requires exact equality with the delta-maintained driver table —
    // the r20 incremental regime's correctness pin, exercised on a real
    // corpus to exhaustion and on the R3 fixture where a merge CREATES
    // new pairs (the delta's + side) while consuming old ones (the −)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wc = TokenizerTrain.wordCounts(d, "text").localCheckpoint(true)
    val seq = TokenizerTrain.trainBpeMerges(wc, nMerges = 512)
    val (bat, _) = TokenizerTrain.trainBpeMergesBatched(wc, nMerges = 512,
      driverWords = 0, verifyDeltas = true)
    assert(bat == seq)
    val (batD, _) = TokenizerTrain.trainBpeMergesBatched(wc, nMerges = 512,
      verifyDeltas = true)
    assert(batD == seq)
    val tricky = TokenizerTrain.wordCounts(
      corpus(Seq.fill(6)("xab").mkString(" "), Seq.fill(5)("cd").mkString(" "),
        "ab ab ab"), "text")
    val seqT = TokenizerTrain.trainBpeMerges(tricky, nMerges = 8)
    val (batT, _) = TokenizerTrain.trainBpeMergesBatched(tricky, nMerges = 8,
      driverWords = 0, verifyDeltas = true)
    assert(batT == seqT)
    val (batTD, _) = TokenizerTrain.trainBpeMergesBatched(tricky, nMerges = 8,
      verifyDeltas = true)
    assert(batTD == seqT)
    // a pair must VANISH from the maintained table when its count hits
    // zero: merging (a,a) on "aaaa" leaves [aa,aa] — (a,a) drops from 3
    // to 0 and (aa,aa) appears; exhaustion then walks the new pairs down
    val vanish = TokenizerTrain.wordCounts(corpus("aaaa aaaa"), "text")
    val seqV = TokenizerTrain.trainBpeMerges(vanish, nMerges = 8)
    val (batV, _) = TokenizerTrain.trainBpeMergesBatched(vanish, nMerges = 8,
      driverWords = 0, verifyDeltas = true)
    assert(batV == seqV)
    val (batVD, _) = TokenizerTrain.trainBpeMergesBatched(vanish, nMerges = 8,
      verifyDeltas = true)
    assert(batVD == seqV)
  }

  test("trainWordPieceMerges: likelihood argmax differs from raw-count argmax") {
    // ab x10 (frequent pair of FREQUENT symbols) vs xy x2 (rare pair of
    // RARE symbols); standalone a/b x20 inflate the unigram counts.
    //   ucnt(a)=ucnt(b)=30, ucnt(x)=ucnt(y)=2
    //   score(a,b) = 10·10^12/900  = 11_111_111_111 (trunc)
    //   score(x,y) =  2·10^12/4    = 500_000_000_000  → WordPiece picks (x,y)
    // (BPE would pick (a,b) on raw count 10.) Round 1 then merges (a,b).
    val texts = Seq.fill(10)("ab") ++ Seq.fill(2)("xy") ++
      Seq.fill(20)("a") ++ Seq.fill(20)("b")
    val wc = TokenizerTrain.wordCounts(corpus(texts.mkString(" ")), "text")
    val wp = TokenizerTrain.trainWordPieceMerges(wc, nMerges = 2)
    assert(wp == Seq(
      (0L, "x", "y", 2L, 500000000000L),
      (1L, "a", "b", 10L, 11111111111L)))
    val bpe = TokenizerTrain.trainBpeMerges(wc, nMerges = 1)
    assert(bpe.head._2 == "a" && bpe.head._3 == "b") // the objectives really diverge
  }

  test("WordPiece tie-break: equal quantized scores resolve (left, right) lexicographic") {
    // xy and ab each once, all four symbols unigram-count 1 → identical
    // scores 10^12 → lexicographic picks (a,b)
    val wc = TokenizerTrain.wordCounts(corpus("xy ab"), "text")
    val wp = TokenizerTrain.trainWordPieceMerges(wc, nMerges = 1)
    assert(wp == Seq((0L, "a", "b", 1L, 1000000000000L)))
  }

  test("WordPiece partitioning invariance + exhaustion") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wc = TokenizerTrain.wordCounts(d, "text")
    val a = TokenizerTrain.trainWordPieceMerges(wc, nMerges = 5)
    val b = TokenizerTrain.trainWordPieceMerges(wc.repartition(7), nMerges = 5)
    assert(a == b && a.size == 5)
    val single = TokenizerTrain.wordCounts(corpus("a b c a"), "text")
    assert(TokenizerTrain.trainWordPieceMerges(single, nMerges = 3).isEmpty)
  }

  test("wordPieceTokenCounts: totals conserve the corpus character mass") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chars = TokenizerTrain.wordCounts(d, "text")
      .select(sum(length(col("word")) * col("cnt"))).collect()(0).getLong(0)
    val toks = TokenizerTrain.wordPieceTokenCounts(d, "text", nMerges = 3)
      .select(sum(length(col("token")) * col("total"))).collect()(0).getLong(0)
    assert(toks == chars)
  }

  test("exportTokenizerJson: trained merges round-trip through the real BPE loader") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wc = TokenizerTrain.wordCounts(d, "text").localCheckpoint(false)
    val learned = TokenizerTrain.trainBpeMerges(wc, nMerges = 8)
    val merges = learned.map(m => (m._2, m._3))
    val bytes = TokenizerTrain.exportTokenizerJson(TokenizerTrain.alphabetOf(wc), merges)
    val model = graft.model.Bpe.fromTokenizerJson(bytes)
    val idToSym = model.vocab.map(_.swap).toMap
    // every corpus word must encode (via the loader's rank-priority
    // merge_all) to EXACTLY the trainer's own greedy-left segmentation
    val seg = TokenizerTrain.segmentWords(wc, merges)
      .select(col("word"), col("syms")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList)
    assert(seg.nonEmpty)
    seg.foreach { case (word, syms) =>
      assert(model.tokenizeWord(word).map(idToSym).toList == syms,
        s"word '$word' diverged")
    }
    // the WordPiece-trained list exports through the same artifact shape
    val wpMerges = TokenizerTrain.trainWordPieceMerges(wc, 4).map(m => (m._2, m._3))
    val wpModel = graft.model.Bpe.fromTokenizerJson(
      TokenizerTrain.exportTokenizerJson(TokenizerTrain.alphabetOf(wc), wpMerges))
    val wpIdToSym = wpModel.vocab.map(_.swap).toMap
    TokenizerTrain.segmentWords(wc, wpMerges)
      .select(col("word"), col("syms")).collect().take(200)
      .foreach { r =>
        assert(wpModel.tokenizeWord(r.getString(0)).map(wpIdToSym).toList ==
          r.getSeq[String](1).toList)
      }
  }

  test("bpeTokenCounts: totals conserve the corpus character mass") {
    // every round only coalesces symbols, so Σ total * len(token) over
    // the learned vocabulary equals the corpus character count
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chars = TokenizerTrain.wordCounts(d, "text")
      .select(sum(length(col("word")) * col("cnt"))).collect()(0).getLong(0)
    val toks = TokenizerTrain.bpeTokenCounts(d, "text", nMerges = 4)
      .select(sum(length(col("token")) * col("total"))).collect()(0).getLong(0)
    assert(toks == chars)
  }
}
