package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

/** Sparse/ColBERT structural invariants (FIXTURES.md §5-6) and the rerank
  * semantic-ranking fixture (FIXTURES.md §2). */
class OperatorsSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private val docs = Seq(
    (0L, "Hello, World!"),
    (1L, "This is an example passage."),
    (2L, "fastembed-rs is licensed under Apache-2.0"),
    (3L, "Some other short text here blah blah blah")).toDF("doc_id", "text")

  test("sparse struct: parallel arrays, sorted ascending indices, values > 0") {
    val rows = SparseEmbedder.sparseStruct(docs, "doc_id", "text").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getStruct(r.fieldIndex("sparse"))
      val idx = s.getSeq[Long](0)
      val vals = s.getSeq[Double](1)
      assert(idx.length == vals.length)
      assert(idx == idx.sorted)
      assert(idx.distinct.length == idx.length)
      assert(vals.forall(_ > 0.0))
      assert(idx.length < 100) // short-text invariant (tests/text-embeddings.rs:201)
    }
  }

  test("narrow sparseExploded == relational explode/groupBy formulation") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(asSet(SparseEmbedder.sparseExploded(real, "doc_id", "text")) ==
      asSet(SparseEmbedder.sparseExplodedRelational(real, "doc_id", "text")))
    assert(asSet(SparseEmbedder.sparseExploded(real, "doc_id", "text", skipSpecial = true)) ==
      asSet(SparseEmbedder.sparseExplodedRelational(real, "doc_id", "text", skipSpecial = true)))
    // and the narrow plan really is narrow
    val plan = SparseEmbedder.sparseExploded(real, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"narrow sparse must not shuffle:\n$plan")
  }

  test("colbert: truncation to max_length=5 yields exactly 4 token vectors") {
    // reference: colbert_shape[1] == seq_len-1 (tests/bgem3.rs:221-236)
    val one = Seq((0L, "one two three four five six seven")).toDF("doc_id", "text")
    val rows = ColbertEmbedder.colbert(one, "doc_id", "text", dim = 8, maxLength = 5).collect()
    assert(rows.length == 1)
    val vecs = rows(0).getSeq[scala.collection.Seq[Double]](1)
    assert(vecs.length == 4)
    vecs.foreach { v =>
      assert(v.length == 8)
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    }
  }

  test("rerank: panda fixture — overlapping passages rank first") {
    val panda = Seq(
      (0L, "hi"),
      (1L, "The giant panda, sometimes called a panda bear or simply panda, is a bear species endemic to China."),
      (2L, "panda is an animal"),
      (3L, "i dont know"),
      (4L, "kind of mammal")).toDF("doc_id", "text")
    val out = Reranker.rerank(spark, panda, "doc_id", "text", "what is panda?").collect()
    assert(out.length == 5)
    val top2 = out.take(2).map(_.getLong(0)).toSet
    assert(top2 == Set(1L, 2L))
    val scores = out.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("pairEncode: segment ids and shared truncation budget (P2)") {
    val df = Seq(("alpha beta gamma delta", "one two three four five")).toDF("q", "d")
    val r = df.select(Reranker.pairEncode(col("q"), col("d"), maxLen = 6).as("p"))
      .select(col("p.input_ids").as("ids"), col("p.token_type_ids").as("tt"))
      .head()
    val ids = r.getSeq[Long](0)
    val tt = r.getSeq[Long](1)
    assert(ids.length == 6) // 4 query + 5 doc tokens truncated to 6 total
    assert(tt == Seq(0L, 0L, 0L, 0L, 1L, 1L)) // query segment 0, doc segment 1
    // query tokens survive whole; doc fills the remainder
    val qt = df.select(graft.functions.Kernel.tokenIds(col("q")).as("t")).head().getSeq[Long](0)
    assert(ids.take(4) == qt)
  }

  test("rerankBackendAll: logits[:,0] route — deterministic, empty pairs dropped") {
    val queries = Seq((0L, "spark join"), (1L, "???")).toDF("qid", "qtext")
    val ds = Seq((10L, "hash join plan"), (11L, "!!!")).toDF("doc_id", "text")
    val out = Reranker.rerankBackendAll(queries, "qid", "qtext", ds, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // (q1, d11) is the only pair with an EMPTY joint encoding → dropped
    assert(out.map(t => (t._1, t._2)) == Set((0L, 10L), (0L, 11L), (1L, 10L)))
    // scores come from the joint pair sequence: same doc under different
    // queries scores differently (the cross-encoder property a bi-encoder
    // dot product lacks)
    val byPair = out.map(t => (t._1, t._2) -> t._3).toMap
    assert(byPair((0L, 10L)) != byPair((1L, 10L)))
    // deterministic across runs
    val again = Reranker.rerankBackendAll(queries, "qid", "qtext", ds, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again == out)
  }

  test("rerankAll: per-query ranking matches single-query rerank") {
    val queries = Seq((100L, "what is panda?"), (101L, "spark hash join")).toDF("qid", "qtext")
    val out = Reranker.rerankAll(queries, "qid", "qtext", docs, "doc_id", "text")
    assert(out.count() == 8) // 2 queries × 4 docs
    val single = Reranker.rerank(spark, docs, "doc_id", "text", "what is panda?")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val multi = out.filter(col("qid") === 100L)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(single == multi)
  }

  test("rerankTopK: top-k of rerankAll per query, partial-agg plan") {
    val queries = Seq((100L, "what is panda?"), (101L, "other short text")).toDF("qid", "qtext")
    val top = Reranker.rerankTopK(queries, "qid", "qtext", docs, "doc_id", "text", 2)
    val rows = top.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rows.count(_._1 == 100L) == 2 && rows.count(_._1 == 101L) == 2)
    val all = Reranker.rerankAll(queries, "qid", "qtext", docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows.foreach { case (qid, idx, rank, score) =>
      val expected = all.filter(_._1 == qid).sortBy(t => (-t._3, t._2)).apply(rank - 1)
      assert((expected._2, expected._3) == (idx, score))
    }
    assert(top.queryExecution.executedPlan.toString.contains("partial_topkagg"))
  }

  test("Graft facade routes to the same operators (reference API shape)") {
    val viaFacade = Graft.textEmbedding(InitOptions(maxLength = Some(8)))
    assert(viaFacade == TextEmbedder(maxLength = 8))
    val sparse = Graft.sparseTextEmbedding(docs, "doc_id", "text")
    assert(sparse.columns.toSeq == Seq("doc_id", "sparse"))
    val weighted = Graft.sparseTextEmbeddingWeighted(docs, "doc_id", "text")
    assert(weighted.columns.toSeq == Seq("doc_id", "token_id", "weight"))
    assert(weighted.limit(1).count() == 1)
    val joint = Graft.bgem3Embedding(docs, "doc_id", "text")
    assert(joint.select(col("bgem3.dense")).head().getSeq[Double](0).length == 64)
    val rr = Graft.textRerank(spark, docs, "doc_id", "text", "example passage")
    assert(rr.columns.toSeq == Seq("index", "score", "document"))
    assert(Graft.listSupportedModels().nonEmpty)
  }

  test("Graft facade: the learned-model routes (full model, rerank, colbert, tied sparse)") {
    // the full learned model via either real-vocab tokenizer
    val viaBpe = Graft.textEmbeddingLearned(docs, "doc_id", "text")
    assert(viaBpe.columns.toSeq == Seq("doc_id", "embedding"))
    val row = viaBpe.orderBy("doc_id").head()
    assert(row.getSeq[Double](1).length == 8)
    val viaWp = Graft.textEmbeddingLearned(docs, "doc_id", "text", tokenizer = "wordpiece")
    assert(viaWp.limit(1).count() == 1)
    assertThrows[IllegalArgumentException](
      Graft.textEmbeddingLearned(docs, "doc_id", "text", tokenizer = "nope"))
    // learned rerank: one score per doc, the q96 head
    val lr = Graft.textRerankLearned(docs, "doc_id", "text", "example passage")
    assert(lr.columns.toSeq == Seq("doc_id", "score"))
    assert(lr.count() == docs.count())
    // learned colbert: per-token rows, first token dropped
    val cb = Graft.colbertEmbeddingLearned(docs, "doc_id", "text")
    assert(cb.columns.toSeq == Seq("doc_id", "pos", "dim", "val"))
    // tied sparse: positive integer weights over the vocab id space
    val ts = Graft.sparseTextEmbeddingTied(docs, "doc_id", "text")
    assert(ts.columns.toSeq == Seq("doc_id", "term_id", "weight"))
    import spark.implicits._
    assert(ts.select(min(col("weight")).as[Long]).head() > 0L)
    // the registry knows the full model and Backends resolves it
    assert(graft.backend.Backends.forModel("graft-qwen3-8-full") ==
      graft.backend.DecoderLayerBackend.fullModel())
  }

  test("model registry kinds cover all five reference registries") {
    import graft.model.{ModelKind, ModelRegistry}
    Seq(ModelKind.Dense, ModelKind.Sparse, ModelKind.Bgem3, ModelKind.Rerank, ModelKind.Image)
      .foreach(k => assert(ModelRegistry.listSupportedModels(k).nonEmpty, s"no models of kind $k"))
    assert(ModelRegistry("graft-hash-64-sentemb").outputKey.contains("sentence_embedding"))
  }

  test("documents fixture is non-empty ASCII (q23/q36 oracle precondition)") {
    val bad = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .filter(length(col("text")) === 0 || col("text").rlike("[^\\x00-\\x7F]"))
      .count()
    assert(bad == 0, "byte-tiling oracles require a non-empty ASCII corpus")
  }

  test("dedup exact: duplicate texts collapse to min id") {
    val d = Seq((0L, "same text here"), (1L, "Same  TEXT here!"), (2L, "different"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(d, "doc_id", "text").collect()
    assert(out.length == 2)
    val dup = out.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 0L) // min doc_id survives
  }

  test("simhash: identical texts get identical signatures, near texts close") {
    val d = Seq((0L, "spark query engine fast"), (1L, "spark query engine fast"),
      (2L, "completely unrelated words banana apple")).toDF("doc_id", "text")
    val sigs = Dedup.simhash(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) != sigs(2L))
  }

  test("lshCandidates hot-bucket cap drops hub buckets, keeps true dups") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val sh = Dedup.shingleSet(real, "doc_id", "text")
    val sigs = Dedup.minhashSignatures(sh, "doc_id")
    val uncapped = Dedup.lshCandidates(sigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.lshCandidates(sigs, "doc_id", maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped))
    // the verified true near-dups must all survive the cap
    val trueDups = Dedup.jaccardOnPairs(
      Dedup.lshCandidates(sigs, "doc_id"), sh, "doc_id", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trueDups.subsetOf(capped))
  }

  test("minhashNearDups threads the hub-bucket cap end to end") {
    // 12 copies of one text: every band bucket for it holds 12 docs —
    // a synthetic hub. cap=4 drops the hub entirely; Int.MaxValue
    // (the exact-MMDS opt-out) finds all 66 pairs.
    val hub = (0L until 12L).map(i => (i, "spark shuffles data between stages fast"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashNearDups(hub, "doc_id", "text", 0.5, maxBucketSize = 4)
    assert(capped.count() == 0L)
    val exact = Dedup.minhashNearDups(hub, "doc_id", "text", 0.5,
      maxBucketSize = Int.MaxValue)
    assert(exact.count() == 66L)
  }

  test("simhashNearDups threads the hub-bucket cap end to end") {
    // 12 identical texts: identical signatures, so every band bucket is
    // a 12-doc hub. cap=4 drops the hub; the exact default (unlimited)
    // finds all 66 hamming-0 pairs. Real docs with DISTINCT signatures
    // must survive the cap untouched.
    val hub = ((0L until 12L).map(i => (i, "spark shuffles data between stages fast"))
      :+ (100L, "a completely different sentence about regional sales")
      :+ (101L, "a completely different sentence about regional sale"))
      .toDF("doc_id", "text")
    val capped = Dedup.simhashNearDupsText(hub, "doc_id", "text", maxBucketSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a < 12 && b < 12 }, "hub must be dropped")
    val exact = Dedup.simhashNearDupsText(hub, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.count { case (a, b) => a < 12 && b < 12 } == 66)
    // the non-hub near pair (if simhash-close) is identical either way
    assert(capped == exact.filter { case (a, b) => !(a < 12 && b < 12) })
  }

  test("embeddingNearDups caps hub buckets; opt-out restores all pairs") {
    // 10 identical vectors land in one LSH bucket (a hub): capped run
    // emits nothing, opt-out emits all 45 cosine≈1 pairs
    val v = Array.tabulate(16)(d => 0.1 * (d + 1))
    val vecs = (0L until 10L).map(i => (i, v)).toDF("vec_id", "embedding")
    val capped = Dedup.embeddingNearDups(vecs, "vec_id", "embedding", 16, 8, 0.9,
      maxBucketSize = 4)
    assert(capped.count() == 0L)
    val all = Dedup.embeddingNearDups(vecs, "vec_id", "embedding", 16, 8, 0.9,
      maxBucketSize = Int.MaxValue)
    assert(all.count() == 45L)
  }

  test("repetitionStats: exact counts and fractions") {
    import spark.implicits._
    val d = Seq((0L, "a a a a b"), (1L, "one two three four five six"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val r0 = out(0L)
    assert(r0.getLong(1) == 5 && r0.getLong(2) == 2 && r0.getLong(3) == 4)
    assert(r0.getDouble(4) == 0.8)
    // trigrams of (a a a a b): (a,a,a)×2 + (a,a,b) → 3 total, 2 distinct
    assert(r0.getLong(5) == 3 && r0.getLong(6) == 2)
    assert(r0.getDouble(7) == 1.0 / 3.0)
    val r1 = out(1L)
    assert(r1.getDouble(4) == 1.0 / 6.0 && r1.getDouble(7) == 0.0)
  }

  test("packSequences: offsets within budget, running layout per bucket") {
    import spark.implicits._
    val d = (0L until 50L).map(i => (i, ("tok " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(d, "doc_id", "text", budget = 10, nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == 50)
    assert(out.forall { case (_, _, nt, _, off) => off >= 0 && off < 10 && nt >= 1 && nt <= 10 })
    // within each bucket in id order, (seq_id, seq_offset) is exactly the
    // running token total cut every `budget`
    out.groupBy(_._2).values.foreach { rows =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (_, _, nt, seq, off) =>
        assert(seq == cum / 10 && off == cum % 10)
        cum += nt
      }
    }
  }

  test("redactPii scrubs emails then digit runs, with counts") {
    import spark.implicits._
    val d = Seq((0L, "mail a.b@x.io or call 123456789 now")).toDF("doc_id", "text")
    val r = TextAnalysis.redacted(d, "doc_id", "text").head()
    assert(r.getString(1) == "mail <email> or call <digits> now")
    assert(r.getLong(2) == 1L && r.getLong(3) == 1L)
    // 8-digit runs stay; digits inside an address are not double-counted
    val d2 = Seq((0L, "x12345678 u999999999@y.co z")).toDF("doc_id", "text")
    val r2 = TextAnalysis.redacted(d2, "doc_id", "text").head()
    assert(r2.getString(1) == "x12345678 <email> z")
    assert(r2.getLong(2) == 1L && r2.getLong(3) == 0L)
  }

  test("cleanText strips markup, decodes entities, collapses whitespace") {
    import spark.implicits._
    val html = Seq((0L,
      "<html><body>Hello &amp; welcome to   <b>graft</b>!&nbsp;&lt;ok&gt;\t&quot;q&quot;</body></html>"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.cleaned(html, "doc_id", "text").head()
    assert(got.getString(1) == "Hello & welcome to graft ! <ok> \"q\"")
    assert(got.getLong(2) == got.getString(1).length.toLong)
    // nested entities must NOT double-decode: &amp;lt; is the literal
    // text "&lt;", not "<" (standard unescape decodes &amp; last)
    val nested = Seq((0L, "a &amp;lt;b&amp;gt; c")).toDF("doc_id", "text")
    assert(TextAnalysis.cleaned(nested, "doc_id", "text").head().getString(1)
      == "a &lt;b&gt; c")
  }

  test("splitBucket: deterministic, stable, covers all buckets") {
    import spark.implicits._
    val ids = (0L until 1000L).toDF("doc_id")
    val b = ids.withColumn("b", TextAnalysis.splitBucket(col("doc_id"), 10))
    val counts = b.groupBy("b").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == (0L until 10L).toSet) // every bucket hit
    val again = ids.withColumn("b", TextAnalysis.splitBucket(col("doc_id"), 10))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = b.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(first == again) // stable across runs
    // snowflake-scale and negative ids must also land in [0, nBuckets)
    // (the pre-multiply mod + pmod form; id*A2 alone would overflow)
    val wild = Seq(5000000000L, Long.MaxValue, -1L, Long.MinValue).toDF("doc_id")
      .withColumn("b", TextAnalysis.splitBucket(col("doc_id"), 10))
      .collect().map(_.getLong(1))
    assert(wild.forall(x => x >= 0L && x < 10L))
  }

  test("duplicateClusters: transitive chains collapse to the min id") {
    import spark.implicits._
    // chain 1-2-3-4 (transitive) + isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicateClusters: seeded pointer doubling closes a 32-hop chain in 5 rounds") {
    import spark.implicits._
    // ascending 33-node chain 0-1-…-32 (diameter 32 = the exact budget:
    // the min-seeded recurrence starts at distance 1 and doubles per
    // round, so round k closes 2^k hops — 32 by the default 5 rounds)
    val chain = (0L until 32L).map(i => (i, i + 1L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 33 && got.values.forall(_ == 0L))
    // and the worst orientation for min-label (descending ids along the
    // walk direction) also collapses
    val rev = (0L until 32L).map(i => (32L - i, 31L - i)).toDF("id_a", "id_b")
    val got2 = Dedup.duplicateClusters(rev)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.size == 33 && got2.values.forall(_ == 0L))
    // budget boundary: a 33-hop ascending chain exceeds 2^5 — the far
    // endpoint reaches distance 32 only (label 1, not 0) in 5 rounds,
    // and one extra round closes it (the "raise iterations" dial)
    val over = (0L until 33L).map(i => (i, i + 1L)).toDF("id_a", "id_b")
    val got3 = Dedup.duplicateClusters(over)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3(33L) == 1L && got3(32L) == 0L)
    val got4 = Dedup.duplicateClusters(over, iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got4.values.forall(_ == 0L))
  }

  test("duplicateClusters: 40 every-round cuts neither overflow stats nor change labels") {
    import spark.implicits._
    // r19 regression: each lazy localCheckpoint snapshots the round
    // plan's Statistics, and the loop's self-join SQUARES sizeInBytes —
    // bit length doubled per cut, so ~31+ cuts threw "BigInteger would
    // overflow supported range" (and giant-BigInt stats arithmetic
    // dominated rounds well before). The fix stamps each cut with the
    // constant edge size. 40 cut rounds is past the old overflow point;
    // labels must equal the 6-round fixpoint. Forced into the
    // distributed regime: the driver regime would label this small
    // graph without a single cut.
    val chain = (0L until 20L).map(i => (i, i + 1L)).toDF("id_a", "id_b")
    val deep = graft.operators.ComponentsSpec.distributed(chain, 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deep.size == 21 && deep.values.forall(_ == 0L))
    val stamped = graft.operators.ComponentsSpec.distributed(chain, 6)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(stamped.bitLength < 64,
      s"label stats must stay constant-sized, got ${stamped.bitLength} bits")
  }

  test("Graft.tuneForScale: sets the hash-agg fallback threshold on a user session") {
    // snapshot the confs this test mutates on the SHARED session and
    // restore them afterwards — leaving them set would make the rest
    // of the suite's plans depend on test order
    val keys = Seq(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      val s = Graft.tuneForScale(spark)
      assert(s eq spark)
      assert(spark.conf.get(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == (1 << 17).toString)
      // unknown input size -> the cluster-safe wide default
      assert(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum") ==
        (spark.sparkContext.defaultParallelism * 8).toString)
      // known input size -> the data-sized rule
      Graft.tuneForScale(spark, Some(100L << 30))
      assert(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum") ==
        Graft.initialPartitionsFor(100L << 30,
          spark.sparkContext.defaultParallelism).toString)
      // known SMALL input -> the widened threshold is gated back to
      // Spark's default (the measured +8.9% sf0.1 cost)
      Graft.tuneForScale(spark, Some(1L << 20))
      assert(spark.conf.get(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "128")
      // the gate itself: default below 64 MB, 128k at/above, widened
      // when unknown (mis-sizing is percent small-side, multiples
      // large-side)
      assert(Graft.fallbackThresholdFor(Some(Graft.ScaleConfigMinBytes - 1)) == 128)
      assert(Graft.fallbackThresholdFor(Some(Graft.ScaleConfigMinBytes)) == (1 << 17))
      assert(Graft.fallbackThresholdFor(None) == (1 << 17))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("Graft.initialPartitionsFor: ~4 MB of input per partition, clamped to [p, 16p]") {
    import Graft.initialPartitionsFor
    assert(initialPartitionsFor(0L, 32) == 32)                 // lower clamp
    assert(initialPartitionsFor(17L << 20, 32) == 32)          // sf0.1-sized stays at cores
    assert(initialPartitionsFor(460L << 20, 32) == 115)        // mid scale grows with data
    assert(initialPartitionsFor(1600L << 20, 32) == 400)       // 100x point
    assert(initialPartitionsFor(1L << 40, 32) == 512)          // upper clamp 16p
    // monotone in bytes
    val xs = Seq(0L, 1L << 20, 1L << 25, 1L << 30, 1L << 35, 1L << 40)
      .map(initialPartitionsFor(_, 32))
    assert(xs == xs.sorted)
  }

  test("duplicateClustersConverged: fixpoint equals a sufficient fixed budget; early exit is invisible") {
    import spark.implicits._
    // the 34-node chain that EXCEEDS the default 5-round budget: the
    // converged form must keep going past it and land on the 6-round
    // (sufficient) labels without being told the diameter
    val over = (0L until 33L).map(i => (i, i + 1L)).toDF("id_a", "id_b")
    val conv = Dedup.duplicateClustersConverged(over)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fixed6 = Dedup.duplicateClusters(over, iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv == fixed6 && conv.values.forall(_ == 0L))
    // a clique graph converges in round 1; the early exit must return
    // the same labels as any larger budget (fixpoint is unique)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val convSmall = Dedup.duplicateClustersConverged(pairs, checkEvery = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(convSmall == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("minhash near-dups finds a true near-duplicate pair") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (2L, "completely different content about database query optimization plans")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((0L, 1L)))
  }

  test("langId and quality are deterministic and complete") {
    val out = TextAnalysis.langId(docs, "doc_id", "text").collect()
    assert(out.length == 4)
    val q = TextAnalysis.quality(docs, "doc_id", "text").collect()
    assert(q.forall(r => r.getDouble(r.fieldIndex("punct_ratio")) >= 0.0))
  }

  test("repeatedSpans flags a copied 8-token span in both docs, nowhere else") {
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (0L, s"unique preamble here $span trailing words end"),
      (1L, s"$span completely different continuation text"),
      (2L, "no shared content in this document at all")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.repeatedSpans(d, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // both docs flag the span (doc 0 at offset 3, doc 1 at offset 0);
    // doc 2 never appears
    assert(got.map(_._1).toSet == Set(0L, 1L))
    assert(got.forall(_._3 == 2L))
    assert(got.contains((0L, 3L, 2L)) && got.contains((1L, 0L, 2L)))
  }

  test("topKeywordsPerGroup surfaces the group-specific token first") {
    val d = Seq(
      (0L, "a", "common words plus zebra zebra zebra"),
      (1L, "a", "common words plus zebra"),
      (2L, "b", "common words plus quokka quokka quokka"),
      (3L, "b", "common words plus quokka")
    ).toDF("doc_id", "src", "text")
    val got = graft.operators.TextAnalysis
      .topKeywordsPerGroup(d, "doc_id", "src", "text", 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val tok = (w: String) => Seq((0L, w)).toDF("i", "w")
      .select(graft.functions.Kernel.tokenIds(col("w")))
      .collect()(0).getSeq[Long](0).head
    assert(got("a") == tok("zebra"))
    assert(got("b") == tok("quokka"))
  }

  test("image pipeline: stub decode preserves row count, unit embeddings, batch invariance") {
    val bin = docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("img"))
    val out1 = ImagePipeline.embedImages(bin, "doc_id", "img", dim = 8, batchSize = 1).collect()
    val out2 = ImagePipeline.embedImages(bin, "doc_id", "img", dim = 8, batchSize = 256).collect()
    assert(out1.length == 4 && out2.length == 4)
    val m1 = out1.map(r => r.getLong(0) -> r.getSeq[Double](4)).toMap
    val m2 = out2.map(r => r.getLong(0) -> r.getSeq[Double](4)).toMap
    assert(m1 == m2)
    m1.values.foreach(v => assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9))
  }
}
