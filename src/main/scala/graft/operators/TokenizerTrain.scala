package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Kernel

/** Distributed BPE tokenizer TRAINING — the capability the reference
  * only consumes: it loads finished `tokenizer.json` files
  * (`/root/reference/src/common.rs:60-113` wires tokenizer +
  * truncation + padding from pretrained artifacts) but cannot produce
  * one. A 100 TB corpus pipeline needs to train its own vocabulary, so
  * this module learns byte-pair merges the way industrial trainers do:
  *
  *  1. ONE corpus pass folds the text into a (word, cnt) table — the
  *     only corpus-sized shuffle, keyed on the word.
  *  2. Every merge round runs over that word table, never the corpus:
  *     an adjacent-symbol pair count (partial-aggregated map-side, the
  *     exchange is pair-vocabulary-sized), a 1-row TakeOrdered argmax
  *     (count desc, then (left, right) lexicographic — fully
  *     deterministic, partitioning-invariant), and a NARROW greedy-left
  *     re-segmentation of the symbol arrays.
  *
  * At 100 TB the word table is ~1e8 rows regardless of corpus size
  * (vocabulary saturates), so each round is a small job and the merge
  * list — the trained model artifact — is tiny. Segmentation with a
  * learned merge list is a narrow per-row fold chain, no shuffle.
  *
  * The greedy-left fold (merge every non-overlapping occurrence
  * left-to-right within the round) matches the classic BPE trainer; the
  * DuckDB oracle unrolls the same rounds as chained CTEs using a
  * boundary-preserving string encoding (see
  * [[graft.oracle.OracleSql.bpeMergeCtes]]).
  */
object TokenizerTrain {

  /** The one corpus-sized stage: (word, cnt), one shuffle on the word.
    * Same normalization as every other text gate ([[Kernel.tokens]] ↔
    * `OracleSql.toks`). */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Kernel.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial segmentation: each word split to single-character symbols.
    * The empty-string filter makes the no-boundary-symbol invariant
    * explicit (Spark ≥3.4's `split(word, "")` emits no trailing "" after
    * SPARK-40194, but Java's raw `split` does — a silent regression here
    * would count bogus (lastChar, "") pairs and diverge the trained
    * merges from the oracle), consistent with [[alphabetOf]]'s filter. */
  private def withSyms(wc: DataFrame): DataFrame =
    wc.select(col("word"), col("cnt"),
      array_remove(split(col("word"), ""), "").as("syms"))

  /** Adjacent-symbol pair counts weighted by word count over a
    * (word, cnt, syms) table. The transform lambda touches only the
    * projected `syms` column reference (cheap to re-evaluate — no
    * tokenizer-chain inlining). */
  private[graft] def pairCountsOf(syms: DataFrame): DataFrame = {
    val pairs = transform(
      slice(col("syms"), lit(1), size(col("syms")) - 1),
      (x, i) => struct(x.as("l"), element_at(col("syms"), i + lit(2)).as("r")))
    syms.filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(pairs).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Round-0 pair counts straight from a corpus (the gate surface for
    * the distributed leg): (l, r, cnt). */
  def bpePairCounts(df: DataFrame, textCol: String): DataFrame =
    pairCountsOf(withSyms(wordCounts(df, textCol)))

  /** One greedy-left merge application: fold the symbol array,
    * coalescing every non-overlapping (l, r) occurrence left-to-right.
    * A freshly merged symbol never re-merges within the round (the
    * accumulator's last element becomes `l+r` ≠ `l`), exactly the
    * classic BPE round semantics. */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms,
      array().cast("array<string>"),
      (acc, x) =>
        when((size(acc) > 0)
            .and(element_at(acc, -1) === lit(l)).and(x === lit(r)),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Learn `nMerges` merges over a (word, cnt) table. Per round: one
    * pair-vocabulary-sized aggregation + a 1-row TakeOrdered; the
    * re-segmented symbol table is lineage-cut each round so round k
    * never replays rounds 0..k-1. Ties break (count desc, left asc,
    * right asc) — binary string order, shared with the oracle. Returns
    * (rank, left, right, cnt) in rank order; stops early if no pair is
    * left to merge. */
  def trainBpeMerges(wc: DataFrame, nMerges: Int): Seq[(Long, String, String, Long)] = {
    var syms = withSyms(wc).localCheckpoint(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var k = 0
    var exhausted = false
    while (k < nMerges && !exhausted) {
      val best = pairCountsOf(syms)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val b = best(0)
        val (l, r, c) = (b.getString(0), b.getString(1), b.getLong(2))
        out += ((k.toLong, l, r, c))
        syms = syms.select(col("word"), col("cnt"),
          applyMerge(col("syms"), l, r).as("syms")).localCheckpoint(false)
      }
      k += 1
    }
    out.toSeq
  }

  /** [[trainBpeMerges]]'s learned list from fewer driver-sequenced
    * rounds. The sequential trainer's wall at production merge counts
    * (~30k) is not data: the word table saturates (≈1e8 rows at
    * 100 TB), so it is the ROUND COUNT × fixed job overhead
    * (TokTrainProbe: ~0.11 s/round even on a 176-word table ⇒ ~55 min
    * of driver sequencing for 30k merges).
    *
    * ONE merge core, two placements of the word arrays. Every round
    * selects a batch of merges, folds the words with [[foldWord]], and
    * merges each changed word's [[pairDiff]] into one driver-resident
    * pair-count table through [[mergeDelta]]; the table starts from one
    * complete count (the partitioned placement keeps it only while it
    * fits [[CollectPairsLimit]]). The placement decides only how a batch
    * is chosen and which words a round folds:
    *
    *  - '''Driver placement''' (word table ≤ `driverWords`, proven by
    *    one limit+1 collect job): a round is the lazy-deletion heap's
    *    head — the sequential argmax itself — and folds only the words
    *    the pair → words occurrence index names. Reports 1 round: the
    *    collect is its only job.
    *  - '''Partitioned placement''' (the 1e8-word regime): the words
    *    stay in an `RDD[(Array[String], Long)]`, and each round is one
    *    single-stage job that folds every word and returns per-partition
    *    pair deltas. A round accepts the maximal PREFIX of the sorted
    *    candidate pairs that is provably the next run of sequential
    *    argmaxes:
    *    - '''R1 (disjoint)''': accepted pairs share no symbol — merging
    *      one cannot change another's count (a merge only perturbs pairs
    *      adjacent to its own symbols), so every accepted count is the
    *      exact sequential count at its step.
    *    - '''R2 (cascade-free)''': no accepted pair's MERGED token
    *      equals any accepted pair's symbol — new tokens never re-enter
    *      a batch rule, making the one-pass fold order-free and ≡ the
    *      sequential folds.
    *    - '''R3 (new-pair bound)''': merging (l, r) can create new pairs
    *      only of the form (x, lr) or (lr, y), with counts bounded by
    *      count(x, l) resp. count(r, y) — both already in the counts
    *      table. A candidate is accepted only while its count is
    *      STRICTLY above every earlier accepted pair's bound
    *      B = max(maxₓ count(x, l), max_y count(r, y)), so no new pair
    *      can overtake it (strictness also settles lex ties).
    *    - '''Prefix rule''': stop at the FIRST candidate failing any
    *      rule — a skipped candidate's count may have decreased, so
    *      everything after it is unprovable this round.
    *
    * Every batch has length ≥ 1 (the head is the argmax by
    * construction), so this is never worse than sequential; the spec
    * pins list-equality against [[trainBpeMerges]] to exhaustion in
    * both placements, and the q162/q162b gates pin both against the
    * chained-CTE oracle at 128 rounds (past the gate corpus's full
    * 89-merge vocabulary). Returns ((rank, left, right, cnt), rounds).
    * `verifyDeltas` (spec-only) recounts after every round and
    * requires the maintained table to equal the recount. */
  def trainBpeMergesBatched(wc: DataFrame, nMerges: Int,
                            driverWords: Int = DriverWordsLimit,
                            verifyDeltas: Boolean = false): (Seq[(Long, String, String, Long)], Int) =
    trainBpe(wc, nMerges, driverWords, verifyDeltas)

  /** [[trainBpeMergesBatched]] with the pair limit exposed (specs pass
    * a tiny one to force the over-limit recount rounds). */
  private[operators] def trainBpe(wc: DataFrame, nMerges: Int, driverWords: Int,
      verifyDeltas: Boolean, pairLimit: Int = CollectPairsLimit): (Seq[(Long, String, String, Long)], Int) = {
    val head = wc.select(col("word"), col("cnt")).limit(driverWords + 1).collect()
    if (head.length <= driverWords) {
      val words = head.map(r => (r.getString(0).map(_.toString).toArray, r.getLong(1)))
      (new OnDriver(words).run(nMerges, verifyDeltas)._1, 1)
    } else {
      val spark = wc.sparkSession
      import spark.implicits._
      val words = withSyms(wc).select(col("syms"), col("cnt")).as[(Array[String], Long)].rdd
      new Partitioned(words.localCheckpoint(), pairLimit).run(nMerges, verifyDeltas)
    }
  }

  private type Pair = (String, String)

  /** Where the word arrays live — all the round loop leaves open. */
  private abstract class Placement {
    /** The delta-maintained pair-count table, while it is on the driver. */
    def table: Option[mutable.HashMap[Pair, Long]]
    /** The next provably sequential run of at most `budget` merges,
      * (left, right, cnt); empty once no pair is left. */
    def select(budget: Int): Seq[(String, String, Long)]
    /** Fold the words by `batch` and merge their pair deltas into `table`. */
    def fold(batch: Seq[(String, String, Long)]): Unit
    /** A from-scratch pair count of the current words. */
    def recount(): collection.Map[Pair, Long]

    final def run(nMerges: Int, verifyDeltas: Boolean): (Seq[(Long, String, String, Long)], Int) = {
      val out = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      def next() = if (out.size < nMerges) select(nMerges - out.size) else Nil
      var rounds = 0
      var batch = next()
      while (batch.nonEmpty) {
        batch.foreach { case (l, r, c) => out += ((out.size.toLong, l, r, c)) }
        fold(batch)
        if (verifyDeltas) table.foreach(pc => require(recount() == pc,
          s"delta-maintained pair table diverged from recount at round $rounds"))
        rounds += 1
        batch = next()
      }
      (out.toSeq, rounds)
    }
  }

  /** Driver placement: one merge per round, the lazy-deletion heap's
    * head. Heap entries are (l, r, cnt) snapshots pushed whenever a
    * round settles a new count and validated against the live table on
    * pop, so the popped maximum is exactly the sequential trainer's
    * TakeOrdered argmax (symbols are [a-z0-9] strings, where Java
    * code-unit order ≡ the engines' binary order). A round folds only
    * the words the occurrence index names: O(affected words · word
    * length) + heap ops, sub-millisecond where a distributed round
    * pays a job. */
  private final class OnDriver(words: Array[(Array[String], Long)]) extends Placement {
    private val syms = words.map(_._1)
    private val cnts = words.map(_._2)
    private val pc = mutable.HashMap.empty[Pair, Long]
    private val occ = mutable.HashMap.empty[Pair, mutable.Set[Int]]
    private val heap = new java.util.PriorityQueue[(String, String, Long)](ByCount)
    private val touched = mutable.HashSet.empty[Pair]
    val table: Option[mutable.HashMap[Pair, Long]] = Some(pc)

    /** Re-segment word `w`: one pair diff updates the table and the
      * occurrence index together. */
    private def refold(w: Int, o: Array[String], n: Array[String]): Unit = {
      pairDiff(o, n) { (p, before, after) =>
        mergeDelta(pc, p, (after - before).toLong * cnts(w))
        touched += p
        if (after == 0) occ(p) -= w
        else if (before == 0) occ.getOrElseUpdate(p, mutable.Set.empty) += w
      }
      syms(w) = n
    }

    private def pushTouched(): Unit = {
      touched.foreach(p => pc.get(p).foreach(c => heap.add((p._1, p._2, c))))
      touched.clear()
    }

    // the complete count: every word's diff from the empty segmentation
    syms.indices.foreach(w => refold(w, Array.empty, syms(w)))
    pushTouched()

    def select(budget: Int): Seq[(String, String, Long)] = {
      var best: (String, String, Long) = null
      while (best == null && !heap.isEmpty) {
        val e = heap.poll()
        if (pc.get((e._1, e._2)).contains(e._3)) best = e // else stale
      }
      Option(best).toList
    }

    def fold(batch: Seq[(String, String, Long)]): Unit = {
      val rules = rulesOf(batch)
      batch.foreach { case (l, r, _) =>
        occ.get((l, r)).fold(Array.empty[Int])(_.toArray).foreach { w =>
          val n = foldWord(syms(w), rules)
          if (n ne syms(w)) refold(w, syms(w), n)
        }
      }
      pushTouched()
    }

    def recount(): collection.Map[Pair, Long] =
      partitionPairCounts(syms.iterator.zip(cnts.iterator)).toMap
  }

  /** Partitioned placement: the words never leave the RDD. Each round
    * is ONE single-stage `mapPartitions` job — no SQL planning, no
    * exchange — that folds every word (unchanged words keep their array
    * REFERENCE, so per-round heap growth is only the touched words) and
    * persists one element per partition: the folded words plus their
    * summed pair deltas. The delta collect materializes the round's
    * local checkpoint, which keeps every task one round deep.
    *
    * While the table has at most `pairLimit` pairs it stays on the
    * driver, delta-maintained; past the limit it is dropped, and each
    * round recounts the pairs over the same RDD and collects only the
    * top candidates and the symbol-vocabulary-sized bound maxima. A
    * recount that fits the limit puts the table back on the driver. */
  private final class Partitioned(private var state: RDD[(Array[String], Long)], pairLimit: Int)
      extends Placement {
    var table: Option[mutable.HashMap[Pair, Long]] = None

    def select(budget: Int): Seq[(String, String, Long)] = {
      table = table.filter(_.size <= pairLimit)
      val cand = table match {
        case Some(pc) => candidates(pc)
        case None =>
          val counts = pairCounts(state)
          if (counts.count() <= pairLimit) {
            val pc = mutable.HashMap.empty[Pair, Long] ++= counts.collect()
            table = Some(pc)
            candidates(pc)
          } else withBounds(counts.map(triple).takeOrdered(TopN)(ByCount),
            counts.flatMap(symbolEnds).reduceByKey(maxBoth).collectAsMap())
      }
      provablePrefix(cand, budget)
    }

    def fold(batch: Seq[(String, String, Long)]): Unit = {
      val rules = rulesOf(batch)
      val track = table.isDefined
      val staged = state.mapPartitions { it =>
        val acc = mutable.HashMap.empty[Pair, Long]
        val words = it.map { case (a, c) =>
          val n = foldWord(a, rules)
          if (track && (n ne a)) pairDiff(a, n) { (p, before, after) =>
            acc.update(p, acc.getOrElse(p, 0L) + (after - before).toLong * c)
          }
          (n, c)
        }.toArray
        Iterator.single((words, acc.toArray))
      }.localCheckpoint()
      table.foreach(pc => staged.map(_._2).collect()
        .foreach(_.foreach { case (p, d) => mergeDelta(pc, p, d) }))
      state = staged.flatMap(_._1.iterator)
    }

    def recount(): collection.Map[Pair, Long] = pairCounts(state).collectAsMap()
  }

  /** The R1–R3 prefix of the candidates (see [[trainBpeMergesBatched]]),
    * at most `budget` long. */
  private def provablePrefix(cand: Array[(String, String, Long, Long)],
                             budget: Int): Seq[(String, String, Long)] = {
    val used = mutable.Set.empty[String]
    val batch = mutable.ArrayBuffer.empty[(String, String, Long)]
    var maxB = Long.MinValue
    var ok = true
    var i = 0
    while (ok && i < cand.length && batch.size < budget) {
      val (l, r, c, b) = cand(i)
      val m = l + r
      // `used` holds every accepted pair's symbols AND merged token, so
      // the three membership tests cover R1 and both directions of R2.
      // l == r needs no special case: m is strictly longer than either
      // symbol, so it never collides with its own pair's symbols.
      ok = (batch.isEmpty || c > maxB) &&
        !used.contains(l) && !used.contains(r) && !used.contains(m)
      if (ok) {
        batch += ((l, r, c))
        used += l; used += r; used += m
        maxB = math.max(maxB, b)
      }
      i += 1
    }
    batch.toSeq
  }

  /** The top [[TopN]] pairs of a driver-resident table by
    * (cnt desc, l, r), each with its R3 new-pair bound. */
  private def candidates(pc: mutable.HashMap[Pair, Long]): Array[(String, String, Long, Long)] =
    withBounds(pc.iterator.map(triple).toArray.sorted(ByCount).take(TopN),
      pc.toSeq.flatMap(symbolEnds).groupMapReduce(_._1)(_._2)(maxBoth))

  /** Attach B = max(maxₓ count(x, l), max_y count(r, y)); `maxima` maps
    * a symbol to (max count ending in it, max count starting with it). */
  private def withBounds(top: Array[(String, String, Long)],
                         maxima: collection.Map[String, (Long, Long)]) =
    top.map { case (l, r, c) =>
      (l, r, c, math.max(maxima.get(l).fold(0L)(_._1), maxima.get(r).fold(0L)(_._2))) }

  private def triple(e: (Pair, Long)): (String, String, Long) = (e._1._1, e._1._2, e._2)

  private def symbolEnds(e: (Pair, Long)): Iterator[(String, (Long, Long))] =
    Iterator((e._1._2, (e._2, 0L)), (e._1._1, (0L, e._2)))

  private def maxBoth(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (math.max(a._1, b._1), math.max(a._2, b._2))

  /** (cnt desc, left asc, right asc) — the sequential trainer's argmax order. */
  private object ByCount extends Ordering[(String, String, Long)] {
    def compare(a: (String, String, Long), b: (String, String, Long)): Int = {
      val c = java.lang.Long.compare(b._3, a._3)
      if (c != 0) c
      else {
        val lc = a._1.compareTo(b._1)
        if (lc != 0) lc else a._2.compareTo(b._2)
      }
    }
  }

  /** Candidates per partitioned round; the R1–R3 prefix rarely reaches it. */
  private val TopN = 1024

  /** A batch as fold rules: left → [expected right, merged token]. */
  private def rulesOf(batch: Seq[(String, String, Long)]): java.util.HashMap[String, Array[String]] = {
    val rules = new java.util.HashMap[String, Array[String]](batch.size * 2)
    batch.foreach { case (l, r, _) => rules.put(l, Array(r, l + r)) }
    rules
  }

  /** The one array fold: a greedy-left single-lookup pass — if the
    * output's last symbol has a rule whose expected right is the
    * incoming symbol, coalesce. ≡ [[applyMerge]] for one rule, and for
    * an R1–R3 batch ≡ the sequential per-pair folds (a position matches
    * at most one rule, and no merged token re-enters any). Returns the
    * INPUT reference when nothing merged, so callers detect untouched
    * words with a pointer compare. */
  private[operators] def foldWord(a: Array[String],
      rules: java.util.HashMap[String, Array[String]]): Array[String] = {
    val n = a.length
    val out = new Array[String](n)
    var m = 0
    var i = 0
    while (i < n) {
      val x = a(i)
      var merged = false
      if (m > 0) {
        val rule = rules.get(out(m - 1))
        if (rule != null && rule(0) == x) {
          out(m - 1) = rule(1)
          merged = true
        }
      }
      if (!merged) { out(m) = x; m += 1 }
      i += 1
    }
    if (m == n) a else java.util.Arrays.copyOf(out, m)
  }

  /** Adjacent-pair occurrence counts of one word's symbol array. */
  private def wordPairCounts(a: Array[String]): mutable.HashMap[Pair, Int] = {
    val h = mutable.HashMap.empty[Pair, Int]
    var i = 0
    while (i + 1 < a.length) {
      val p = (a(i), a(i + 1))
      h.update(p, h.getOrElse(p, 0) + 1)
      i += 1
    }
    h
  }

  /** The one per-word pair diff: `f(pair, before, after)` for every
    * pair whose occurrence count differs between the word's old
    * segmentation `o` and new one `n`. A word of weight c contributes
    * (after − before)·c to the pair's count — the fold changes nothing
    * else, which `verifyDeltas` re-proves per round. */
  private def pairDiff(o: Array[String], n: Array[String])(f: (Pair, Int, Int) => Unit): Unit = {
    val before = wordPairCounts(o)
    val after = wordPairCounts(n)
    (before.keySet ++ after.keySet).foreach { p =>
      val b = before.getOrElse(p, 0)
      val a = after.getOrElse(p, 0)
      if (a != b) f(p, b, a)
    }
  }

  /** The one pair-table delta merge. A pair whose count reaches zero
    * leaves the table; a count below zero can only be a maintenance
    * bug, so it throws. */
  private[operators] def mergeDelta(pc: mutable.HashMap[Pair, Long], p: Pair, d: Long): Unit = {
    val nv = pc.getOrElse(p, 0L) + d
    require(nv >= 0L, s"BPE delta maintenance drove pair $p below zero ($nv)")
    if (nv == 0L) pc.remove(p) else pc.update(p, nv)
  }

  /** Full per-partition pair counts of a (syms, cnt) iterator. */
  private def partitionPairCounts(it: Iterator[(Array[String], Long)]): Iterator[(Pair, Long)] = {
    val acc = mutable.HashMap.empty[Pair, Long]
    it.foreach { case (a, c) =>
      wordPairCounts(a).foreach { case (p, k) =>
        acc.update(p, acc.getOrElse(p, 0L) + k.toLong * c)
      }
    }
    acc.iterator
  }

  /** The complete pair-count table of a partitioned word state. */
  private def pairCounts(state: RDD[(Array[String], Long)]): RDD[(Pair, Long)] =
    state.mapPartitions(partitionPairCounts).reduceByKey(_ + _)

  /** Word tables at or below this many rows take the driver placement
    * of [[trainBpeMergesBatched]]: rounds never touch the corpus (their
    * input is the saturating word table), so once that table fits one
    * machine a per-round Spark job is pure overhead (TokTrainProbe r18:
    * 0.71–0.77 s/round of mostly fixed job cost at 96k words ⇒ ~2.2 h
    * for a 30k vocab). At the limit the table is ~260k (word, cnt)
    * rows — a few MB — and the pair-occurrence index it builds stays
    * well under driver headroom; past it (the true 1e8-word regime) the
    * partitioned placement runs. */
  val DriverWordsLimit: Int = 1 << 18

  /** Per-symbol unigram counts over a (word, cnt, syms) table:
    * (s, ucnt) — symbol-vocabulary sized. */
  private[graft] def symbolCountsOf(syms: DataFrame): DataFrame =
    syms.select(col("cnt"), explode(col("syms")).as("s"))
      .groupBy("s").agg(sum(col("cnt")).as("ucnt"))

  /** Fixed-point quantization scale for the WordPiece score (shared
    * verbatim with the oracle's HUGEINT arithmetic). */
  val WpScale = 1000000000000L // 10^12

  /** The partitioned placement of [[trainBpeMergesBatched]] keeps its
    * pair-count table on the driver, delta-maintained, while the table
    * has at most this many pairs (~6 MB of (l, r, cnt) entries at the
    * limit). The pair vocabulary saturates with the word vocabulary, so
    * even 1e8-word corpora usually sit under it; over it, each round
    * recounts the pairs over the word RDD and collects only the top
    * candidates and the per-symbol bound maxima. The driver placement
    * always keeps its table: its word table is already bounded by
    * [[DriverWordsLimit]]. */
  val CollectPairsLimit: Int = 1 << 17

  /** WordPiece-objective training: per round the merged pair maximizes
    * `count(pair) / (count(left) · count(right))` — the likelihood-gain
    * score of the WordPiece trainer — instead of the raw pair count BPE
    * uses. Same machinery otherwise: pair-vocabulary-sized aggregation,
    * 1-row TakeOrdered argmax, narrow greedy-left refold, lineage cut
    * per round; the extra cost is one symbol-vocabulary-sized unigram
    * count broadcast-joined onto the pair table (twice, once per side).
    *
    * The argmax is FIXED-POINT EXACT, the repo-wide determinism
    * pattern: `score_q = trunc(cnt · 10^12 / (ucnt_l · ucnt_r))`
    * computed with Decimal(38,0) integral division (`div`), which the
    * oracle reproduces with HUGEINT `//` — exact for counts up to 1e12
    * a side (10^12·10^12 = 10^24 ≪ 10^38), far past any corpus this
    * trains on. Two pairs whose true scores differ by < 10^-12 relative
    * quantize equal and fall to the (left, right) lexicographic
    * tie-break — deterministic in both engines. The continuation-prefix
    * (`##`) decoration of finished WordPiece vocabularies is a
    * rendering concern downstream of merge learning; the learned merge
    * list is the model artifact here, as in [[trainBpeMerges]].
    * Returns (rank, left, right, cnt, score_q) in rank order. */
  def trainWordPieceMerges(wc: DataFrame, nMerges: Int): Seq[(Long, String, String, Long, Long)] = {
    var syms = withSyms(wc).localCheckpoint(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long, Long)]
    var k = 0
    var exhausted = false
    while (k < nMerges && !exhausted) {
      val uc = symbolCountsOf(syms)
      val best = pairCountsOf(syms)
        .join(broadcast(uc.select(col("s").as("l"), col("ucnt").as("ul"))), "l")
        .join(broadcast(uc.select(col("s").as("r"), col("ucnt").as("ur"))), "r")
        .withColumn("score_q", expr(
          s"CAST((CAST(cnt AS DECIMAL(38,0)) * $WpScale) DIV " +
            "(CAST(ul AS DECIMAL(38,0)) * CAST(ur AS DECIMAL(38,0))) AS BIGINT)"))
        .orderBy(col("score_q").desc, col("l").asc, col("r").asc)
        .limit(1).select("l", "r", "cnt", "score_q").collect()
      if (best.isEmpty) exhausted = true
      else {
        val b = best(0)
        val (l, r, c, q) = (b.getString(0), b.getString(1), b.getLong(2), b.getLong(3))
        out += ((k.toLong, l, r, c, q))
        syms = syms.select(col("word"), col("cnt"),
          applyMerge(col("syms"), l, r).as("syms")).localCheckpoint(false)
      }
      k += 1
    }
    out.toSeq
  }

  /** Corpus token counts under a WordPiece-learned vocabulary:
    * train + segment + count composed ([[bpeTokenCounts]]'s twin). */
  def wordPieceTokenCounts(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val wc = wordCounts(df, textCol).localCheckpoint(false)
    val merges = trainWordPieceMerges(wc, nMerges)
    segmentWords(wc, merges.map(m => (m._2, m._3)))
      .select(explode(col("syms")).as("token"), col("cnt"))
      .groupBy("token").agg(sum(col("cnt")).as("total"))
  }

  /** Segment a (word, cnt) table with an ordered merge list — narrow,
    * zero shuffle: the merges are plan literals (the trained artifact
    * is vocabulary-sized, it ships in the plan like a broadcast bank). */
  def segmentWords(wc: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(withSyms(wc)) { case (d, (l, r)) =>
      d.select(col("word"), col("cnt"), applyMerge(col("syms"), l, r).as("syms"))
    }

  /** The word table's distinct single characters — the base alphabet a
    * trained tokenizer's vocab starts from. Bounded by the normalizer's
    * charset ([a-z0-9] → ≤ 36 rows), so the collect is constant-size. */
  def alphabetOf(wc: DataFrame): Seq[String] =
    wc.select(explode(split(col("word"), "")).as("ch"))
      .filter(col("ch") =!= "").distinct()
      .collect().map(_.getString(0)).sorted.toSeq

  /** Serialize a learned merge list as an HF-format `tokenizer.json`
    * (model.type=BPE) — the artifact the reference CONSUMES
    * (/root/reference/src/common.rs:57-157 hands tokenizer.json to the
    * tokenizers runtime), closing the loop: train here, load with
    * [[graft.model.Bpe.fromTokenizerJson]] (or the reference itself).
    * Vocab ids are deterministic — alphabet symbols sorted ascending,
    * then merge products in rank order, the HF convention.
    *
    * The exported list encodes IDENTICALLY under rank-priority
    * `merge_all` (what [[graft.model.BpeModel.tokenizeWord]] and the
    * tokenizers crate run) and under this trainer's sequential
    * greedy-left rounds: a TRAINED list's ranks respect symbol-creation
    * order, so applying rank k can never surface a not-yet-applied
    * lower-rank pair — the spec pins the round trip. WordPiece-trained
    * merge lists export through the same function (the merge list IS
    * the artifact; only the training-time argmax differed). */
  def exportTokenizerJson(alphabet: Seq[String],
                          merges: Seq[(String, String)]): Array[Byte] = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val pieces = alphabet ++ merges.map { case (l, r) => l + r }
    val vocab = pieces.zipWithIndex
      .map { case (p, i) => s""""${esc(p)}": $i""" }.mkString(", ")
    val mergeLines = merges
      .map { case (l, r) => s""""${esc(l)} ${esc(r)}"""" }.mkString(", ")
    s"""{"model": {"type": "BPE", "vocab": {$vocab}, "merges": [$mergeLines]}}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Corpus-level token counts under the learned vocabulary:
    * (token, total). Train + apply composed: the end-to-end check that
    * the learned merges actually tokenize. */
  def bpeTokenCounts(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val wc = wordCounts(df, textCol).localCheckpoint(false)
    val merges = trainBpeMerges(wc, nMerges)
    segmentWords(wc, merges.map(m => (m._2, m._3)))
      .select(explode(col("syms")).as("token"), col("cnt"))
      .groupBy("token").agg(sum(col("cnt")).as("total"))
  }
}
