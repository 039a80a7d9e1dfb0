package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{K, Kernel}

/** Deduplication family for training-data pipelines. Detectors at distinct
  * cost/recall points, all shuffle-minimal by design:
  *
  *  - exact: hash-groupBy on normalized text (one shuffle on a 16-byte key)
  *  - minhashLsh: shingle → minhash → band → bucket join (shuffles only
  *    band signatures; candidate verification touches only bucket
  *    collisions — the classic MMDS construction)
  *  - simhash: 32-bit signature + banded hamming join (pigeonhole)
  *  - ngramJaccard: exact token-set Jaccard — the exact baseline
  *  - embedding-cosine near-dup lives in Similarity.annLshJoin
  *
  * Every reduction is MIN/MAX/COUNT over exact integers, so results are
  * independent of partitioning and match the DuckDB oracle bit-for-bit.
  */
object Dedup {

  /** Exact dedup on normalized text: md5 group key (Spark and DuckDB both
    * implement standard MD5 over UTF-8). One row per distinct text with
    * the surviving (minimum) id and the duplicate count. Normalization is
    * the one-pass native [[graft.functions.TextNorm]]; [[exactHof]] keeps
    * the HOF formulation the oracle mirrors. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val norm = bridge.column(
      graft.functions.TextNorm(bridge.expression(col(textCol)), Nil))("norm")
    df.withColumn("__h", md5(norm))
      .groupBy(col("__h").as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
  }

  /** HOF formulation of [[exact]] (interpreted regexp+split chain). */
  def exactHof(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = concat_ws(" ", Kernel.tokensHof(col(textCol)))
    df.withColumn("__h", md5(norm))
      .groupBy(col("__h").as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
  }

  /** Word `n`-gram shingle ids: fold of the n token ids mod M — one
    * native rolling pass ([[graft.functions.Shingles]]); [[shinglesHof]]
    * keeps the HOF formulation the oracle mirrors. Callers must filter
    * size ≥ n (both forms; the HOF misbehaves below that via descending
    * `sequence`). */
  def shingles(tids: Column, n: Int): Column = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    bridge.column(graft.functions.Shingles(bridge.expression(tids), n))
  }

  /** HOF formulation of [[shingles]] (interpreted fold per window). */
  def shinglesHof(tids: Column, n: Int): Column = {
    val idx = sequence(lit(0), size(tids) - lit(n))
    transform(idx, p =>
      aggregate(slice(tids, p + 1, lit(n)), lit(0L), (a, t) => (a * lit(31L) + t) % lit(K.M)))
  }

  /** (id, shingle) exploded, distinct. */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
                 maxLength: Int = K.MaxLength): DataFrame =
    df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      .filter(size(col("__tids")) >= n)
      .select(col(idCol), explode(shingles(col("__tids"), n)).as("shingle"))
      .distinct()

  /** Universal-hash family for minhash: h_i(x) = (x*a_i + b_i) % P32. */
  def minhashPerm(i: Int): (Long, Long) =
    (((2L * i + 1L) * K.B) % K.P32, (i.toLong * K.C) % K.P32)

  /** MinHash signatures: `numHashes` mins per id over the shingle set
    * (map-side partial min → tiny shuffle). Output: (id, m0..m{n-1}). */
  def minhashSignatures(shingleDf: DataFrame, idCol: String,
                        numHashes: Int = 16): DataFrame = {
    val mins = (0 until numHashes).map { i =>
      val (a, b) = minhashPerm(i)
      min((col("shingle") * lit(a) + lit(b)) % lit(K.P32)).as(s"m$i")
    }
    shingleDf.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Band key: fold of a band's minhash values into one bigint — the ONE
    * definition both the relational and narrow candidate paths (and, via
    * constants, the SQL oracle's bandKeySql) must share. */
  private[operators] def bandKeyFold(ms: Seq[Column]): Column =
    ms.foldLeft(lit(0L): Column)((a, m) => (a * lit(BandMul) + m) % lit(BandMod))

  /** [[bandKeyFold]]'s constants; the driver regime of [[minhashPairs]]
    * folds with them too. Keys stay below `BandMod` < 2^40. */
  private val BandMul = 1000003L
  private val BandMod = 911382323007L

  /** Skew guard shared by the candidate paths: drop (band, key) buckets
    * holding more than `maxBucketSize` docs — a hub bucket is
    * non-discriminative and would self-join quadratically; its true
    * near-dup pairs almost always recur in a smaller bucket of another
    * band (the standard MinHash hub-shingle mitigation). */
  private[operators] def capBuckets(banded: DataFrame, maxBucketSize: Int): DataFrame =
    if (maxBucketSize == Int.MaxValue) banded
    else {
      val ok = banded.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBucketSize)
        .select(col("band"), col("key"))
      banded.join(ok, Seq("band", "key"))
    }

  /** LSH candidate pairs: signature split into `bands` bands of
    * `rowsPerBand` minhashes; a pair is a candidate iff some band key
    * agrees exactly. Self-join is on (band, key) — only bucket
    * collisions are compared. Default = uncapped (exact MMDS). */
  def lshCandidates(sigs: DataFrame, idCol: String,
                    bands: Int = 4, rowsPerBand: Int = 4,
                    maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val bandKey: Int => Column = b =>
      bandKeyFold((b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"m$i")))
    val banded = sigs.select(
      col(idCol),
      posexplode(array((0 until bands).map(bandKey): _*)).as(Seq("band", "key")))
    val guarded = capBuckets(banded, maxBucketSize)
    val l = guarded.select(col(idCol).as("id_a"), col("band"), col("key"))
    val r = guarded.select(col(idCol).as("id_b"), col("band"), col("key"))
    l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Scale-safe default for the LSH hub-bucket cap: a band bucket holding
    * more than this many docs is treated as non-discriminative (a hub
    * signature) and skipped — its true near-dups almost always recur in a
    * smaller bucket of another band. 10k bounds the worst within-bucket
    * self-join at ~5·10⁷ comparisons per hub instead of quadratic blowup. */
  val DefaultMaxBucketSize: Int = 10000

  /** Default round budget for [[duplicateClusters]]. The min-seeded
    * doubling recurrence closes ascending chains of diameter 2^k by
    * round k, so 5 rounds close 32-hop chains. The SQL oracle (which
    * seeds at identity instead of min(own, neighbors)) must run exactly
    * ONE more round to match: impl@k ≡ oracle@(k+1) — OracleSql derives
    * its count from this constant. */
  val DefaultClusterIterations: Int = 5

  /** NARROW minhash signatures: (id, m0..m{n-1}) computed per-row by the
    * native [[graft.functions.MinhashSigs]] kernel over the in-row
    * shingle array — no explode, no exchange (duplicates in the array
    * cannot change a min, so the values equal the relational
    * explode→distinct→groupBy-min formulation of [[minhashSignatures]],
    * which stays as the oracle-mirrored cross-check). Docs with fewer
    * than `n` tokens are dropped, like [[shingleSet]]. */
  def minhashSignaturesNarrow(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, numHashes: Int = 16,
                              maxLength: Int = K.MaxLength): DataFrame =
    withSigArray(
      df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
        .filter(size(col("__tids")) >= n),
      n, numHashes)
      .select(col(idCol) +:
        (0 until numHashes).map(i => element_at(col("__sig"), i + 1).as(s"m$i")): _*)

  /** Adds `__sig: array<bigint>` (the minhash signature) to a frame that
    * carries `__tids`. */
  private[operators] def withSigArray(base: DataFrame, n: Int, numHashes: Int): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val perms = (0 until numHashes).map(minhashPerm)
    base.withColumn("__sig", bridge.column(graft.functions.MinhashSigs(
      bridge.expression(shingles(col("__tids"), n)),
      perms.map(_._1).toArray, perms.map(_._2).toArray)))
  }

  /** End-to-end MinHash+LSH near-dup pairs with exact-Jaccard verification:
    * (id_a, id_b, jaccard) for pairs whose shingle-set Jaccard ≥ threshold.
    *
    * Signatures are NARROW (native per-row kernel — the corpus itself
    * never shuffles), and the signed docs are cut once. A corpus of fewer
    * than [[DriverMinhashLimit]] docs is then banded and verified on the
    * driver; a larger one runs the relational plan, whose only
    * full-corpus exchange carries `bands` small rows per doc for the band
    * self-join and whose exact-Jaccard verification explodes shingles
    * ONLY for candidate docs (left-semi join on the candidate id set,
    * which is orders of magnitude smaller than the corpus). Pairs and
    * schema do not depend on the regime ([[minhashPairs]]).
    *
    * `maxBucketSize` (default [[DefaultMaxBucketSize]]) caps hub buckets —
    * pass `Int.MaxValue` for exact uncapped MMDS semantics. The cap is
    * mirrored in the DuckDB oracle, so the gate checks the capped form. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, n: Int = 3, numHashes: Int = 16,
                      bands: Int = 4,
                      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    minhashNearDupsSigned(signedTokens(df, idCol, textCol, n, numHashes), idCol,
      threshold, n, numHashes, bands, maxBucketSize, _.localCheckpoint(false))

  /** (idCol, `__tids`, `__sig`) for every row with at least `n` tokens:
    * the one tokenize + MinHash signing pass behind [[minhashNearDups]],
    * [[DedupIndex.sign]] and the streaming ingest dedup. */
  private[graft] def signedTokens(df: DataFrame, idCol: String, textCol: String,
                                  n: Int, numHashes: Int): DataFrame =
    withSigArray(
      df.select(col(idCol), Kernel.tokenIds(col(textCol), K.MaxLength).as("__tids"))
        .filter(size(col("__tids")) >= n),
      n, numHashes)

  /** [[minhashNearDups]] over a [[signedTokens]] frame, in the regime
    * [[minhashPairs]] picks under the default limits. `cut` breaks the
    * lineage of the frames read more than once: a lazy
    * `localCheckpoint` for the one-shot operator, a batch-scoped cut
    * ([[BatchScope]]) for a per-batch body. */
  private[graft] def minhashNearDupsSigned(signed: DataFrame, idCol: String,
                                           threshold: Double, n: Int,
                                           numHashes: Int, bands: Int,
                                           maxBucketSize: Int,
                                           cut: DataFrame => DataFrame): DataFrame =
    minhashPairs(signed, idCol, threshold, n, numHashes, bands, maxBucketSize, cut)

  /** Signed corpora with fewer docs than this are banded and verified on
    * the driver. Measured on synthetic corpora of 2^10–2^16 docs at
    * local[4] (4-core VM), driver vs relational regime: see SCALING.md.
    * The limit is set by driver heap: a doc read back holds its id, its
    * signature and its distinct shingle array (up to `K.MaxLength` longs),
    * so 2^16 docs of 512 tokens take roughly 300 MB, inside a default
    * 1 GB driver. It must stay below 2^23 (the kernel packs a band key
    * below 2^40 and a doc rank into one long). */
  private[operators] val DriverMinhashLimit: Int = 1 << 16

  /** The driver regime's second bound: Σ C(size, 2) over the band
    * buckets the cap keeps — the candidate pairs, counted with
    * repeats across bands — before any pair is enumerated. Each is one
    * packed long, so 2^24 of them take 128 MB. */
  private[operators] val DriverMinhashPairs: Long = 1L << 24

  /** The one MinHash near-dup core behind [[minhashNearDups]] and
    * [[minhashNearDupsSigned]]. The signed docs are cut once as
    * (id, signature, distinct shingles); a multi-partition cut is
    * counted (one job, in parallel, which also materializes it) and read
    * back only when it has fewer than `limit` docs (one more job; a
    * one-partition cut is read in one job that stops after `limit`
    * docs).
    *
    *  - DRIVER regime (fewer than `limit` docs, integral, non-null,
    *    distinct ids, at most `pairLimit` bucket pairs): banding, the
    *    hub-bucket cap, candidate pairs and exact Jaccard run over
    *    arrays ([[pairsOnDriver]]), and the pairs come back as a local
    *    relation with the relational plan's schema.
    *  - RELATIONAL regime: the band self-join and the candidate-only
    *    Jaccard joins over the cut ([[relationalPairs]]); the docs are
    *    never tokenized a second time.
    *
    * Either regime drops candidate pairs that share no shingle, also at
    * `threshold ≤ 0`. `limit` and `pairLimit` are the regime switch
    * (tests pass 0 to force the relational regime). */
  private[operators] def minhashPairs(signed: DataFrame, idCol: String, threshold: Double,
                                      n: Int, numHashes: Int, bands: Int,
                                      maxBucketSize: Int, cut: DataFrame => DataFrame,
                                      limit: Int = DriverMinhashLimit,
                                      pairLimit: Long = DriverMinhashPairs): DataFrame = {
    val rpb = numHashes / bands
    val docs = cut(signed.select(col(idCol), col("__sig"),
      array_distinct(shingles(col("__tids"), n)).as("__sh")))
    driverDocs(docs, limit)
      .flatMap(pairsOnDriver(_, threshold, rpb, bands, maxBucketSize, pairLimit)) match {
      case Some(pairs) =>
        val schema = relationalPairs(docs, idCol, threshold, rpb, bands, maxBucketSize,
          identity).schema
        val box = boxLong(schema.head.dataType)
        val rows = new java.util.ArrayList[Row](pairs.length)
        pairs.foreach { case (a, b, j) => rows.add(Row(box(a), box(b), j)) }
        signed.sparkSession.createDataFrame(rows, schema)
      case None =>
        relationalPairs(docs, idCol, threshold, rpb, bands, maxBucketSize, cut)
    }
  }

  /** The relational regime of [[minhashPairs]] over the cut docs
    * (idCol, `__sig`, `__sh`). */
  private def relationalPairs(docs: DataFrame, idCol: String, threshold: Double,
                              rowsPerBand: Int, bands: Int, maxBucketSize: Int,
                              cut: DataFrame => DataFrame): DataFrame = {
    // band key: the shared fold, over sig-array elements here
    val bandKey: Int => Column = b => bandKeyFold((b * rowsPerBand until (b + 1) * rowsPerBand)
      .map(i => element_at(col("__sig"), i + 1)))
    // ONE explicit small exchange (bands rows per doc: id+band+key) on
    // the join key: the cap aggregation, the left side, and the right
    // side of the self-join all reuse this exchange (ReuseExchange), so
    // the self-join needs no further shuffle
    val banded = docs.select(
      col(idCol),
      posexplode(array((0 until bands).map(bandKey): _*)).as(Seq("band", "key")))
      .repartition(col("band"), col("key"))
    val guarded = capBuckets(banded, maxBucketSize)
    val l = guarded.select(col(idCol).as("id_a"), col("band"), col("key"))
    val r = guarded.select(col(idCol).as("id_b"), col("band"), col("key"))
    // cut (lazy): the candidate set is referenced by the verification
    // join AND (twice, via the id semi-join) by the candidate-shingle
    // build — without a lineage cut the band self-join would re-run once
    // per reference. Candidates are pair-rare by construction, so the
    // materialized set stays tiny at any scale.
    val cands = cut(l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct())
    // verification shingles: candidate docs only (semi join), already
    // distinct per row; cut for the same reason (3 references in
    // jaccardOnPairs)
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol)))
      .distinct()
    val shCand = cut(docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), explode(col("__sh")).as("shingle")))
    jaccardOnPairs(cands, shCand, idCol, threshold)
  }

  /** The cut docs as (id, signature, sorted distinct shingles) when there
    * are fewer than `limit` of them with integral, non-null ids, else
    * None. A multi-partition cut is counted first, so an over-limit
    * corpus is never pulled; a one-partition cut is read by one task
    * that stops after `limit` docs. */
  private def driverDocs(docs: DataFrame, limit: Int): Option[Array[(Long, Array[Long], Array[Long])]] = {
    val get = longGetter(docs.schema.head.dataType)
    if (get == null || limit <= 0) None
    else {
      val rdd = docs.queryExecution.toRdd
      if (rdd.getNumPartitions > 1 && rdd.count() >= limit) None
      else {
        val parts = rdd.mapPartitions { it =>
          val out = Array.newBuilder[(Long, Array[Long], Array[Long])]
          var k = 0
          var ok = true
          while (ok && it.hasNext) {
            val r = it.next()
            ok = k + 1 < limit && !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)
            if (ok) {
              val sh = r.getArray(2).toLongArray()
              java.util.Arrays.sort(sh)
              out += ((get(r, 0), r.getArray(1).toLongArray(), sh))
              k += 1
            }
          }
          Iterator.single(Option.when(ok)(out.result()))
        }.collect()
        if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get)) else None
      }
    }
  }

  /** The driver regime's kernel: [[relationalPairs]] over arrays, for
    * docs (id, signature, sorted distinct shingles). Docs are ranked by
    * id, so a rank pair (a < b) is an id pair (id_a < id_b). Per band,
    * (key, rank) packs into one long and sorts, so each bucket is a run
    * of ascending ranks; runs over `maxBucketSize` are dropped like
    * [[capBuckets]] drops them. Returns the verified pairs ascending, or
    * None when ids repeat or the kept buckets hold more than `pairLimit`
    * pairs (counted before any is enumerated). */
  private def pairsOnDriver(docs: Array[(Long, Array[Long], Array[Long])], threshold: Double,
                            rowsPerBand: Int, bands: Int, maxBucketSize: Int,
                            pairLimit: Long): Option[Array[(Long, Long, Double)]] = {
    val d = docs.sortBy(_._1)
    val m = d.length.toLong
    if (d.indices.exists(v => v > 0 && d(v)._1 == d(v - 1)._1)) None
    else {
      val sorted = Array.tabulate(bands) { b =>
        val packed = Array.tabulate(d.length) { v =>
          var key = 0L
          var i = b * rowsPerBand
          while (i < (b + 1) * rowsPerBand) { key = (key * BandMul + d(v)._2(i)) % BandMod; i += 1 }
          key * m + v
        }
        java.util.Arrays.sort(packed)
        packed
      }
      // kept buckets as (band, from, until) runs of one key
      val runs = Array.newBuilder[(Int, Int, Int)]
      var total = 0L
      sorted.indices.foreach { b =>
        val p = sorted(b)
        var i = 0
        while (i < p.length) {
          var j = i + 1
          while (j < p.length && p(j) / m == p(i) / m) j += 1
          val s = (j - i).toLong
          if (s <= maxBucketSize) { runs += ((b, i, j)); total += s * (s - 1) / 2 }
          i = j
        }
      }
      if (total > pairLimit) None
      else {
        val cand = new Array[Long](total.toInt)
        var c = 0
        runs.result().foreach { case (b, from, until) =>
          val p = sorted(b)
          var x = from
          while (x < until) {
            var y = x + 1
            while (y < until) { cand(c) = (p(x) % m) * m + p(y) % m; c += 1; y += 1 }
            x += 1
          }
        }
        java.util.Arrays.sort(cand)
        val out = Array.newBuilder[(Long, Long, Double)]
        var k = 0
        while (k < cand.length) {
          if (k == 0 || cand(k) != cand(k - 1)) {
            val (a, b) = (d((cand(k) / m).toInt), d((cand(k) % m).toInt))
            val inter = sortedOverlap(a._3, b._3)
            if (inter > 0) {
              val j = inter.toDouble / (a._3.length.toLong + b._3.length - inter).toDouble
              if (j >= threshold) out += ((a._1, b._1, j))
            }
          }
          k += 1
        }
        Some(out.result())
      }
    }
  }

  /** |a ∩ b| for sorted distinct arrays. */
  private def sortedOverlap(a: Array[Long], b: Array[Long]): Long = {
    var (i, j, n) = (0, 0, 0L)
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /** Exact Jaccard over (id, shingle) sets for given candidate pairs. */
  def jaccardOnPairs(candidates: DataFrame, shingleDf: DataFrame,
                     idCol: String, threshold: Double): DataFrame = {
    val setCol = shingleDf.columns.filter(_ != idCol).head
    val sizes = shingleDf.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val sa = shingleDf.select(col(idCol).as("id_a"), col(setCol))
    val sb = shingleDf.select(col(idCol).as("id_b"), col(setCol))
    val interCnt = candidates.join(sa, "id_a").join(sb, Seq("id_b", setCol))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    interCnt
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-(token, bit) pseudo-random ±1 vote. */
  private def voteBit(t: Column, b: Column): Column =
    when(((t * lit(K.A2) + b * lit(K.B2) + lit(K.C2)) % lit(K.M)) % lit(2L) === lit(1L),
      lit(1L)).otherwise(lit(-1L))

  /** SimHash signature per doc: bit b set iff Σ_tokens vote > 0,
    * assembled acc*2 + bit over bits high→low. Default 60 bits — the
    * scale-safe form (60/4 banding = 131k buckets/band, and 60 keeps the
    * acc*2+bit fold inside positive signed-64 range for the SQL oracle);
    * pass bits=32 for the compact legacy signature (q14/q15 oracles).
    * Native expression on the hot path; [[simhashSigHof]] is the HOF
    * formulation the oracle mirrors (identical exact integer votes —
    * spec-asserted). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 60, maxLength: Int = K.MaxLength): DataFrame =
    df.withColumn("__tids", Kernel.tokenIds(col(textCol), maxLength))
      .filter(size(col("__tids")) > 0)
      .withColumn("simhash",
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.SimhashSig(
            org.apache.spark.sql.graftbridge.Bridge.expression(col("__tids")), bits)))
      .select(col(idCol), col("simhash"))

  /** HOF formulation of the SimHash signature over a token-id array
    * column: one fold over tokens accumulating all bit-votes (tokens-outer
    * so upstream expressions evaluate once), then a fold over
    * reverse(votes) assembles the signature — NOT an index loop
    * referencing the votes column inside a lambda, which Catalyst would
    * inline and re-evaluate per bit. */
  def simhashSigHof(tids: Column, bits: Int = 32): Column = {
    val votes = aggregate(
      tids,
      array_repeat(lit(0L), bits),
      (acc, t) => zip_with(acc, sequence(lit(0L), lit(bits - 1L)), (v, b) => v + voteBit(t, b)))
    aggregate(
      reverse(votes),
      lit(0L),
      (acc, v) => acc * lit(2L) + when(v > 0, lit(1L)).otherwise(lit(0L)))
  }

  /** Near-dup pairs by hamming distance ≤ maxDist over `bands` banded
    * chunks of a `bits`-wide signature (pigeonhole: dist ≤ bands-1 ⇒ at
    * least one band equal). Scale note: the bucket count is
    * bands·2^(bits/bands) and the within-bucket self-join is quadratic in
    * bucket size — 32/4 (8-bit keys, 1,024 buckets) is only safe for
    * small corpora; the default 60/4 (15-bit keys, 131k buckets; 60
    * keeps the acc*2+bit signature fold inside positive signed-64 range
    * for the SQL oracle) scales bucket occupancy down with corpus
    * size. `bits` must match the signature width of `sigs`. */
  /** End-to-end text → simhash near-dup pairs with CONSISTENT signature
    * width: computes the signatures itself, so `bits` cannot drift from
    * the sig column's actual width (feeding 32-bit sigs to a 60-bit
    * banding would collapse the high bands into one all-zero hub
    * bucket). Prefer this over composing [[simhash]]+[[simhashNearDups]]
    * by hand. */
  def simhashNearDupsText(df: DataFrame, idCol: String, textCol: String,
                          maxDist: Int = 3, bits: Int = 60,
                          bands: Int = 4,
                          maxLength: Int = K.MaxLength,
                          maxBucketSize: Int = Int.MaxValue): DataFrame =
    simhashNearDups(simhash(df, idCol, textCol, bits, maxLength),
      idCol, maxDist, bits, bands, maxBucketSize)

  /** `maxBucketSize` is the same hub-bucket cap as [[lshCandidates]]'s
    * (skip non-discriminative band buckets; true near-dups almost
    * always recur in a smaller bucket of another band). It matters
    * MORE here than for minhash when signatures concentrate: a corpus
    * with a small type vocabulary (or heavy boilerplate) collapses
    * many docs onto few signatures, and a single hub band-key's
    * self-join is quadratic in its occupancy — measured on the 50k-doc
    * scale corpus, the top bucket held 5,373 docs and the uncapped
    * candidate stream was ~1.1·10⁸ pairs, ~2/3 of it from the ten
    * largest buckets. Default unlimited = exact pigeonhole semantics
    * (q15/q15b); the capped form is gated separately (q15c). */
  def simhashNearDups(sigs: DataFrame, idCol: String,
                      maxDist: Int = 3, bits: Int = 60,
                      bands: Int = 4,
                      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val bandBits = bits / bands
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        (shiftrightunsigned(col("simhash"), b * bandBits) % lit(1L << bandBits)).as("key")))
    val banded0 = sigs.select(col(idCol), col("simhash"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    val banded = capBuckets(banded0, maxBucketSize)
    val l = banded.select(col(idCol).as("id_a"), col("simhash").as("sig_a"), col("band"), col("key"))
    val r = banded.select(col(idCol).as("id_b"), col("simhash").as("sig_b"), col("band"), col("key"))
    l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      // hamming BEFORE distinct: identical result (hamming is a function
      // of the pair), but the dedup exchange then carries only true
      // near-dup pairs instead of every band-collision candidate — at
      // 10x corpus the candidate stream grows ~quadratically with bucket
      // occupancy while the near-dup result grows ~linearly, so the
      // other order shuffles the quadratic term
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Duplicate-cluster labeling: connected components of the near-dup
    * pair graph by min-label propagation WITH POINTER DOUBLING — every
    * doc in a duplicate group gets the group's smallest id as `cluster`.
    * Labels SEED at min(own id, neighbor ids), then each round takes
    * l(v) ← min(l(v), min over neighbours n of l(n), l(l(v))): the
    * node's own label, its neighbors' labels (1-hop propagation) and
    * its label's label (path doubling — labels are always node ids, so
    * l(l(v)) is a valid lookup). The doubling term makes the closed
    * chain length grow exponentially: from the seeded 1-hop start,
    * round k closes ascending chains of diameter 2^k (2, 4, 8, …), so
    * the default 5 rounds close 32-hop chains where the same budget of
    * plain propagation closed only 6 — spec-checked on a 33-node chain.
    *
    * Runs EXACTLY `iterations` rounds (not to convergence) so the result
    * is a pure function of the input — deterministic and oracle-able;
    * raise `iterations` for pathological graphs. The rounds run on the
    * driver or as distributed barriers by the size of the pair graph
    * ([[components]]); labels and schema do not depend on the regime. */
  def duplicateClusters(pairs: DataFrame,
                        iterations: Int = DefaultClusterIterations): DataFrame =
    components(pairs, iterations, toFixpoint = false)

  /** [[duplicateClusters]] run TO THE FIXPOINT with early exit — for
    * callers that cannot know the graph's diameter (the gated queries
    * burn a fixed 12 so the DuckDB oracle can mirror them, which
    * overshoots graphs that converge in 6 and under-shoots deeper ones).
    * The fixpoint is unique, so the result equals [[duplicateClusters]]
    * at any sufficient budget. `maxIterations` (default 64: pointer
    * doubling closes 2^64-hop chains) only bounds the pathological case;
    * `checkEvery` spaces the distributed regime's convergence checks. */
  def duplicateClustersConverged(pairs: DataFrame,
                                 maxIterations: Int = 64,
                                 checkEvery: Int = 3): DataFrame = {
    require(maxIterations >= 1 && checkEvery >= 1,
      s"need maxIterations >= 1 and checkEvery >= 1 (got $maxIterations, $checkEvery)")
    components(pairs, maxIterations, toFixpoint = true, checkEvery)
  }

  /** Doubled edge lists with fewer rows than this label on the driver;
    * larger pair graphs run distributed rounds. Measured on synthetic
    * chain and random graphs of 2^12–2^22 pairs, labelled to the
    * fixpoint at local[4] (4-core VM, 4 GB driver heap), driver vs
    * distributed regime: 0.2 s vs 3–4 s at 2^12, 1.3 s vs 14 s at 2^18,
    * 6 s vs 70 s at 2^20, 27–31 s vs 335–416 s at 2^22. The driver won
    * at every size, so the limit is set by driver heap instead: at 2^20
    * rows the packed edges, index arrays and label rows take roughly
    * 200 MB (estimated from element sizes), inside a default 1 GB driver. */
  private[operators] val DriverComponentsLimit: Int = 1 << 20

  /** The one connected-components core behind [[duplicateClusters]]
    * (`toFixpoint = false`: exactly `maxRounds` rounds) and
    * [[duplicateClustersConverged]] (`toFixpoint = true`: stop at the
    * fixpoint, or at `maxRounds`). The doubled edge list is cut eagerly
    * once — the pair lineage is never recomputed — and then at most
    * `limit` of its rows are read back in one job (one task walking the
    * checkpoint's blocks; the BPE trainer's `DriverWordsLimit` shape).
    *
    *  - DRIVER regime (fewer than `limit` rows, integral non-null ids):
    *    the seeded recurrence runs over arrays ([[labelOnDriver]]) and
    *    the labels come back as a local relation with the distributed
    *    plan's schema. It mirrors the recurrence round for round rather
    *    than running union-find, so it is bit-exact even where a fixed
    *    budget is too small to reach the fixpoint. A round that changes
    *    nothing ends the loop in either mode: every later round would
    *    change nothing too.
    *  - DISTRIBUTED regime: each round is ONE equi-join + one
    *    min-aggregate over the pair graph, never the corpus. The 1-hop
    *    and pointer-doubling lookups share a single probe of the label
    *    table — probe rows (key=s, out=d) ask "label of my neighbor",
    *    rows (key=cluster, out=id) ask "label of my label". Every round
    *    cuts its lineage (labels are referenced three times per round,
    *    so an uncut chain re-derives exponentially many round plans);
    *    the cuts are LAZY, so all rounds execute as one job chain at
    *    the final action. In fixpoint mode every `checkEvery`-th cut is
    *    EAGER and followed by a label-sum aggregate: labels never
    *    increase, so the sum strictly decreases until — and only until —
    *    the fixpoint, and an unchanged sum between two checks means both
    *    checkpoints already are the fixpoint (decimal(38,0): exact, never
    *    an overflow artifact).
    *
    * `limit` is the regime switch (tests pass 0 to force the
    * distributed regime). */
  private[operators] def components(pairs: DataFrame, maxRounds: Int, toFixpoint: Boolean,
                                    checkEvery: Int = 3,
                                    limit: Int = DriverComponentsLimit): DataFrame = {
    val edges = pairs.select(col("id_a").as("s"), col("id_b").as("d"))
      .union(pairs.select(col("id_b").as("s"), col("id_a").as("d")))
      .localCheckpoint()
    driverEdges(edges, limit) match {
      case Some(sd) =>
        val (ids, labels) = labelOnDriver(sd, maxRounds)
        // the distributed plan's schema, derived without analysing it:
        // `id` is the edge column; `cluster` is a min aggregate (always
        // nullable) after any round, least(s, min) (nullable as s) before
        val e = edges.schema.head
        val schema = StructType(Seq(StructField("id", e.dataType, e.nullable),
          StructField("cluster", e.dataType, maxRounds > 0 || e.nullable)))
        val box = boxLong(e.dataType)
        val rows = new java.util.ArrayList[Row](ids.length)
        ids.indices.foreach(v => rows.add(Row(box(ids(v)), box(labels(v)))))
        pairs.sparkSession.createDataFrame(rows, schema)
      case None =>
        // replaceOriginStats: a cut snapshots the round plan's
        // Statistics, and the round's self-join SQUARES sizeInBytes — a
        // BigInt whose bit length doubles per cut (java.math.BigInteger
        // overflows at ~31 cuts). Stamping each cut with the CONSTANT
        // edge size keeps static planning as healthy early rounds had it
        // (a small graph keeps its broadcast round joins, a 100 TB one
        // keeps shuffling) while the estimate no longer compounds.
        val edgeSize = edges.queryExecution.optimizedPlan.stats.sizeInBytes
        def round(labels: DataFrame): DataFrame = {
          val probe = edges.select(col("s").as("key"), col("d").as("out"))
            .union(labels.select(col("cluster").as("key"), col("id").as("out")))
          val looked = probe.join(labels, probe("key") === labels("id"))
            .select(col("out").as("id"), col("cluster"))
          labels.union(looked).groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
        }
        var labels = edges.groupBy(col("s")).agg(min(col("d")).as("__mn"))
          .select(col("s").as("id"), least(col("s"), col("__mn")).as("cluster"))
        var prevSum: Option[java.math.BigDecimal] = None
        var i = 0
        var converged = false
        while (i < maxRounds && !converged) {
          i += 1
          val check = toFixpoint && (i % checkEvery == 0 || i == maxRounds)
          labels = org.apache.spark.sql.graftbridge.Bridge
            .replaceOriginStats(round(labels).localCheckpoint(check), Some(edgeSize))
          if (check) {
            val s = Option(labels
              .agg(sum(col("cluster").cast(DecimalType(38, 0)))).head().getDecimal(0))
            // compareTo: BigDecimal.equals is scale-sensitive (1E+2 != 100)
            converged = (prevSum, s) match {
              case (Some(p), Some(c)) => p.compareTo(c) == 0
              case (None, None)       => true
              case _                  => false
            }
            prevSum = s
          }
        }
        labels
    }
  }

  /** The doubled edge list as packed (s, d) longs when it has fewer
    * than `limit` rows and integral, non-null ids — read in ONE job
    * whose single task walks the checkpoint's blocks and stops after
    * `limit` rows, so an over-limit graph is never pulled — else None. */
  private def driverEdges(edges: DataFrame, limit: Int): Option[Array[Long]] = {
    val get = longGetter(edges.schema.head.dataType)
    if (get == null || limit <= 0) None
    else edges.queryExecution.toRdd.coalesce(1).mapPartitions { it =>
      val sd = new scala.collection.mutable.ArrayBuilder.ofLong
      var n = 0
      var ok = true
      while (ok && it.hasNext) {
        val r = it.next()
        ok = n + 1 < limit && !r.isNullAt(0) && !r.isNullAt(1)
        if (ok) { sd += get(r, 0); sd += get(r, 1); n += 1 }
      }
      Iterator.single(Option.when(ok)(sd.result()))
    }.collect().headOption.getOrElse(Some(Array.emptyLongArray)) // no blocks: no edges
  }

  /** Reads an integral column of an [[InternalRow]] as a long; null for
    * any other type (the driver regimes take integral ids only). */
  private def longGetter(t: DataType): (InternalRow, Int) => Long = t match {
    case LongType    => _.getLong(_)
    case IntegerType => _.getInt(_).toLong
    case ShortType   => _.getShort(_).toLong
    case ByteType    => _.getByte(_).toLong
    case _           => null
  }

  /** The inverse of [[longGetter]]: a long boxed as a value of type `t`. */
  private def boxLong(t: DataType): Long => Any = t match {
    case IntegerType => _.toInt
    case ShortType   => _.toShort
    case ByteType    => _.toByte
    case _           => identity
  }

  /** The driver regime's kernel: the seeded min-label + pointer-doubling
    * recurrence of [[components]] over arrays, for the packed doubled
    * edge list `sd` (s0, d0, s1, d1, …). Nodes are ranked by id, so a min
    * over ranks is a min over ids. Runs `maxRounds` rounds or stops at
    * the first round that changes nothing (the fixpoint). Returns the
    * node ids ascending and each one's label. */
  private def labelOnDriver(sd: Array[Long], maxRounds: Int): (Array[Long], Array[Long]) = {
    val m = sd.length / 2
    val ids = {
      val all = Array.tabulate(m)(e => sd(2 * e))
      java.util.Arrays.sort(all)
      var k = 0
      all.indices.foreach(i => if (i == 0 || all(i) != all(i - 1)) { all(k) = all(i); k += 1 })
      java.util.Arrays.copyOf(all, k)
    }
    val n = ids.length
    val src = Array.tabulate(m)(e => java.util.Arrays.binarySearch(ids, sd(2 * e)))
    val dst = Array.tabulate(m)(e => java.util.Arrays.binarySearch(ids, sd(2 * e + 1)))
    var l = Array.range(0, n)
    var e = 0
    while (e < m) { if (dst(e) < l(src(e))) l(src(e)) = dst(e); e += 1 }
    var next = new Array[Int](n)
    var r = 0
    var changed = true
    while (r < maxRounds && changed) {
      System.arraycopy(l, 0, next, 0, n)
      e = 0
      while (e < m) { if (l(src(e)) < next(dst(e))) next(dst(e)) = l(src(e)); e += 1 }
      var v = 0
      while (v < n) { if (l(l(v)) < next(v)) next(v) = l(l(v)); v += 1 }
      changed = !java.util.Arrays.equals(l, next)
      val t = l; l = next; next = t
      r += 1
    }
    (ids, l.map(ids(_)))
  }

  /** Exact repeated token spans — the substring-level dedup signal of
    * the suffix-array method (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499) re-expressed
    * relationally: every position of every length-`n` token window
    * whose span hash occurs in MORE THAN ONE document. A splice pass
    * would cut these [pos, pos+n) ranges; downstream of this operator
    * that is a narrow per-doc transform. Output
    * (idCol, pos, shingle, span_docs).
    *
    * Scale shape: span hashing is the narrow native [[shingles]]
    * kernel; the df aggregation is single-key partial (skew-free — a
    * boilerplate span that occurs a million times still reduces
    * map-side); flagging is an equi-join on the span hash back to the
    * position stream — no corpus self-join and no per-span group
    * materialization (a hub span never gathers its occurrence list in
    * one task). The tokenized frame carries a LAZY lineage cut, so the
    * corpus tokenizes ONCE even though the position stream is derived
    * twice (stats + flag join) — the explode re-runs narrowly from the
    * materialized token arrays, which is the right trade at 100 TB:
    * checkpointing the exploded position stream itself would store a
    * corpus-sized intermediate. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 8, maxLength: Int = K.MaxLength): DataFrame =
    repeatedSpansTokens(
      df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
        .localCheckpoint(false),
      idCol, "__tids", n)

  /** [[repeatedSpans]] over a pre-tokenized `(id, tids)` frame. */
  def repeatedSpansTokens(tokens: DataFrame, idCol: String, tidsCol: String,
                          n: Int): DataFrame = {
    val pos = tokens
      .filter(size(col(tidsCol)) >= n)
      .select(col(idCol), posexplode(shingles(col(tidsCol), n)).as(Seq("pos", "shingle")))
    val stats = pos.groupBy(col("shingle"))
      .agg(countDistinct(col(idCol)).as("span_docs"))
      .filter(col("span_docs") > 1)
    pos.join(stats, "shingle")
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("shingle"), col("span_docs"))
  }

  /** Splice repeated spans OUT of the token stream — the cut step of
    * the suffix-array method (the pass [[repeatedSpans]] flags for):
    * every token covered by a length-`n` window whose span hash occurs
    * in more than one document is dropped; the survivors keep their
    * relative order. Output (idCol, tokens_clean: array<bigint>) — every
    * input doc appears, clean docs unchanged.
    *
    * Scale shape: the corpus tokenizes ONCE — the tokenized frame
    * carries a LAZY lineage cut, and both its consumers (the flag pass
    * inside [[repeatedSpansTokens]] and the final rejoin) read the
    * materialized token arrays instead of re-running the tokenizer.
    * Flagged span STARTS gather per doc (starts are span-hits only —
    * orders of magnitude fewer than tokens; the per-doc array is
    * bounded by doc length) and rejoin the tokenized corpus by doc id —
    * one small-side equi-join, AQE-broadcast when the flag set is
    * small; the starts side carries its own lazy cut so the flag pass
    * materializes once instead of re-running per downstream reference.
    * The cut itself is the native
    * [[graft.functions.SpliceSpans]] two-pointer sweep (token i
    * survives iff no flagged start s has s ≤ i < s+n) — narrow,
    * O(tokens + starts) per row, and mirrored term-for-term (as the
    * equivalent exists-HOF) in the SQL oracle; [[spliceSpansHof]]
    * keeps the HOF formulation as the spec-asserted cross-check. */
  def spliceRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 8, maxLength: Int = K.MaxLength): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val toks = df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      .localCheckpoint(false)
    val starts = repeatedSpansTokens(toks, idCol, "__tids", n)
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("pos"))).as("__starts"))
      .localCheckpoint(false)
    toks.join(starts, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__starts").isNull, col("__tids")).otherwise(
          bridge.column(graft.functions.SpliceSpans(
            bridge.expression(col("__tids")),
            bridge.expression(col("__starts")), n))).as("tokens_clean"))
  }

  /** [[spliceRepeatedSpans]] with the canonical ExactSubstr semantics
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): of every duplicated length-`n` window, the
    * GLOBALLY FIRST occurrence — min (doc, start) packed key — SURVIVES,
    * so the corpus keeps exactly one copy of each duplicated span
    * instead of losing all of them; and duplication counts OCCURRENCES
    * (within-doc repetition cuts too), not distinct docs. The two
    * variants bracket the design space: all-copies-cut (q67) for
    * boilerplate scrubbing, keep-first (this, q156) for training-set
    * dedup where the content itself must survive once.
    *
    * Same scale shape as [[spliceRepeatedSpans]]: one tokenize (lazy
    * cut), one shingle-hash partial-agg shuffle, flagged starts gather
    * per doc and rejoin small-side, the cut is the native two-pointer
    * [[graft.functions.SpliceSpans]]. The packed key needs
    * id·pack + pos injective: ids must stay below 2^63/pack (`pack`
    * defaults to 2^20 ≫ maxLength, leaving ~2^43 ids). */
  def spliceDupSpansKeepFirst(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 8, maxLength: Int = K.MaxLength,
                              pack: Long = 1L << 20): DataFrame = {
    require(maxLength <= pack, s"pack $pack must exceed maxLength $maxLength")
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val toks = df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      .localCheckpoint(false)
    val keyed = toks
      .filter(size(col("__tids")) >= n)
      .select(col(idCol), posexplode(shingles(col("__tids"), n)).as(Seq("pos", "shingle")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("shingle"),
        (col(idCol).cast("long") * pack + col("pos")).as("__k"))
    val dup = keyed.groupBy(col("shingle"))
      .agg(min(col("__k")).as("__keep"), count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
    val starts = keyed.join(dup, "shingle")
      .filter(col("__k") =!= col("__keep"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("pos"))).as("__starts"))
      .localCheckpoint(false)
    toks.join(starts, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__starts").isNull, col("__tids")).otherwise(
          bridge.column(graft.functions.SpliceSpans(
            bridge.expression(col("__tids")),
            bridge.expression(col("__starts")), n))).as("tokens_clean"))
  }

  /** HOF formulation of the [[spliceRepeatedSpans]] cut step over
    * pre-joined (tids, sorted starts) columns — the interpreted
    * O(tokens × starts) form the SQL oracle mirrors; kept as the
    * spec-asserted cross-check for the native two-pointer kernel. */
  def spliceSpansHof(tids: Column, starts: Column, n: Int): Column =
    transform(
      filter(
        zip_with(tids,
          sequence(lit(0L), size(tids).cast("long") - 1),
          (t, i) => struct(t.as("t"), i.as("i"))),
        s => !exists(starts, st => st <= s("i") && s("i") < st + lit(n.toLong))),
      s => s("t"))

  /** Cross-document duplicated-block statistics — the ccnet-style
    * "duplicate chunk" signal at corpus scale: the token stream splits
    * into NON-overlapping width-`w` blocks (the stride-`w` subsample of
    * the length-`w` shingle walk, so the one rolling-hash kernel serves
    * both), each block hash counts distinct docs corpus-wide, and every
    * doc with ≥ 1 block reports (n_blocks, dup_blocks) where dup_blocks
    * are its blocks that also appear in at least one OTHER document.
    * Complements [[graft.operators.TextAnalysis.repetitionStats]]
    * (within-doc repetition) and [[repeatedSpans]] (overlapping spans,
    * position-level): this is the doc-level cross-corpus boilerplate
    * signal a pipeline thresholds — as an exact integer comparison
    * (dup_blocks·den > n_blocks·num), never a float fraction.
    *
    * Scale shape: the corpus tokenizes ONCE (lazy lineage cut shared
    * by the stats and rejoin legs); one partial-agg shuffle on the
    * block hash; the flagged set (blocks in > 1 doc — rare unless the
    * corpus is boilerplate-heavy) rejoins the block walk by hash key,
    * AQE-broadcast when small; the final per-doc count agg is
    * map-side partial. No stage holds more than ≤ len/w rows per doc. */
  def dupBlockStats(df: DataFrame, idCol: String, textCol: String,
                    w: Int = 8, maxLength: Int = K.MaxLength): DataFrame = {
    val toks = df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      .localCheckpoint(false)
    val blocks = toks
      .filter(size(col("__tids")) >= w)
      .select(col(idCol), posexplode(shingles(col("__tids"), w)).as(Seq("pos", "block")))
      .filter(col("pos") % w === 0)
    val dup = blocks.groupBy(col("block"))
      .agg(countDistinct(col(idCol)).as("__docs"))
      .filter(col("__docs") > 1)
    blocks.join(dup, Seq("block"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocks"),
        count(col("__docs")).as("dup_blocks"))
  }

  /** The filter step over [[dupBlockStats]]: drop docs whose
    * cross-corpus duplicated-block fraction exceeds num/den (exact
    * integer cross-multiplication). Docs too short to form a block
    * survive — they carry no boilerplate evidence. One anti join
    * against the (small) flagged-id set. */
  def dropDupBlockDocs(df: DataFrame, idCol: String, textCol: String,
                       w: Int = 8, num: Int = 1, den: Int = 2): DataFrame =
    df.join(
      dupBlockStats(df, idCol, textCol, w)
        .filter(col("dup_blocks") * den > col("n_blocks") * num)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Corpus-level dedup — the step a training pipeline actually runs:
    * given near-dup pairs (id_a < id_b), drop every id_b via a left-anti
    * join, keeping the smallest id of each duplicate group that any pair
    * names. One shuffle-side anti join; the pairs side is tiny relative
    * to the corpus, so AQE broadcasts it. */
  def removeNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Eval-set decontamination: training docs that share word n-grams
    * with any eval doc — the standard benchmark-contamination check a
    * training pipeline runs before a data release. One equi-join on the
    * shingle id (shuffles only the shingle sets, never the corpora) →
    * shared-shingle count per (train, eval) pair ≥ minShared. */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int = 3,
                    minShared: Long = 1L): DataFrame = {
    val ts = shingleSet(train, idCol, textCol, n)
      .select(col(idCol).as("train_id"), col("shingle"))
    val es = shingleSet(eval, idCol, textCol, n)
      .select(col(idCol).as("eval_id"), col("shingle"))
    ts.join(es, "shingle")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
  }

  /** Embedding-cosine near-dup pairs: sign-LSH bucket self-join (only
    * same-bucket pairs are scored — the candidate set shrinks
    * ~2^nPlanes-fold) → exact cosine ≥ threshold. The embedding-space
    * member of the dedup family; the bucket count is the scale lever,
    * like [[Similarity.annLshMultiProbe]] — use ≥ 16 planes at scale.
    * `maxBucketSize` caps hub buckets exactly like [[minhashNearDups]]
    * (the within-bucket self-join is quadratic in occupancy); the
    * bucket-size table is ≤ 2^nPlanes rows, so the guard join
    * broadcasts. `Int.MaxValue` opts out. */
  def embeddingNearDups(vecs: DataFrame, idCol: String, vecCol: String,
                        dim: Int, nPlanes: Int, threshold: Double,
                        maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val b0 = vecs.withColumn("__bucket",
      Similarity.lshBucket(col(vecCol), dim, nPlanes))
    val b =
      if (maxBucketSize == Int.MaxValue) b0
      else {
        val ok = b0.groupBy(col("__bucket")).agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxBucketSize)
          .select(col("__bucket"))
        b0.join(broadcast(ok), "__bucket")
      }
    // per-vector norm computed ONCE before the quadratic self-join
    // (Kernel.cosinePre — bit-identical to the fused cosine)
    val bn = b.withColumn("__n2", Kernel.vecNorm(col(vecCol)))
    val l = bn.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
      col("__n2").as("__na"), col("__bucket"))
    val r = bn.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      col("__n2").as("__nb"), col("__bucket"))
    l.join(r, "__bucket")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Kernel.cosinePre(
        col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540)
    * re-expressed relationally: cluster the embedding space with a
    * coarse quantizer, then compare ONLY within-cluster pairs by exact
    * cosine — semantic duplicates (same content, different surface
    * form) land in the same cell, so the candidate set shrinks
    * ~nCells-fold without an all-pairs join. Output near-dup pairs
    * (id_a, id_b, cosine ≥ threshold), `id_a < id_b`.
    *
    * 100 TB shape: assignment is the narrow bank-backed
    * [[graft.functions.NearestCell]] scan (centroids broadcast once per
    * executor — the plan stays O(1) in nCells); the only corpus
    * exchange is the within-cell self-join's hash partition on the cell
    * id; `maxCellSize` caps degenerate hub cells exactly like
    * [[minhashNearDups]] (the cell-size table is nCells rows —
    * broadcast). The quantizer is pluggable: first-k centroids keep the
    * operator oracle-able; [[Similarity.trainKmeans]] output slots in
    * unchanged. Feed the pairs to [[removeNearDups]] to materialize the
    * deduplicated corpus. */
  def semDedupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                    cents: Array[(Long, Array[Double])], threshold: Double,
                    maxCellSize: Int = DefaultMaxBucketSize): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    // LAZY lineage cut: the assigned frame is referenced three times
    // (cap agg + both self-join sides) — without it the O(nCells·dim)
    // NearestCell scan runs once per reference instead of once per row.
    val b0 = vecs.withColumn("__cell", bridge.column(graft.functions.NearestCell(
      bridge.expression(col(vecCol)),
      graft.functions.CentroidBank.of(vecs.sparkSession, cents))))
      .localCheckpoint(false)
    val b =
      if (maxCellSize == Int.MaxValue) b0
      else {
        val ok = b0.groupBy(col("__cell")).agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxCellSize)
          .select(col("__cell"))
        b0.join(broadcast(ok), "__cell")
      }
    val bn = b.withColumn("__n2", Kernel.vecNorm(col(vecCol)))
    val l = bn.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
      col("__n2").as("__na"), col("__cell"))
    val r = bn.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      col("__n2").as("__nb"), col("__cell"))
    l.join(r, "__cell")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Kernel.cosinePre(
        col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Exact token-set Jaccard near-dups over all pairs — quadratic; callers
    * restrict the id range (the exact baseline for the detectors above). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame = {
    val toks = df.select(col(idCol),
      explode(array_distinct(Kernel.tokenIds(col(textCol)))).as("tok"))
    val allPairs = toks.select(col(idCol).as("id_a"), col("tok")).as("a")
      .join(toks.select(col(idCol).as("id_b"), col("tok")).as("b"), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    jaccardOnPairs(allPairs, toks, idCol, threshold)
  }
}
