package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-validation data generator (VERDICT r11 brief item 2; the sole
  * generator after the r13 consolidation of the former
  * `ScaleData.scala`/`ScaleGen.scala` pair — this file's recipe is the
  * one that produced the committed `testdata_sf1/`).
  *
  * Replicates a driver-generated sf directory `factor`× so the bench can
  * measure how each query's cost actually grows with data — the
  * empirical check of the "would this survive 100×" plan-inspection
  * claims. Usage:
  *
  *   runMain graft.ScaleGen <srcSfDir> <outDir> [factor=10]
  *
  * Design choices, so the scaled corpus stresses the same plan shapes a
  * genuinely larger corpus would:
  *
  *  - Replica 0 is byte-identical to the source, so point lookups the
  *    queries make (`doc_id === 0`, `vec_id < 8`) still hit.
  *  - All keys — fact AND scaling-dimension — are offset per replica by
  *    `keyCeil` (max key + 1, derived from the source keyspace so
  *    replicas can never collide even if ids are non-dense), and
  *    offsets are applied consistently across join sides
  *    (o_custkey ↔ c_custkey, o_orderkey ↔ l_orderkey,
  *    p_partkey ↔ l_partkey, s_suppkey ↔ l_suppkey), so per-key join
  *    fan-out stays identical to the base corpus while key cardinality
  *    grows linearly — like a real bigger corpus, not quadratically
  *    like a keyspace collision would.
  *  - `part` and `supplier` SCALE with the corpus (real TPC-H grows
  *    them with sf; only `nation`/`region` are fixed). Copying them
  *    unchanged would make per-partkey fan-out grow ×factor while
  *    group-by-part cardinality stayed flat — a shape no genuinely
  *    larger corpus has.
  *  - Replica texts get a deterministic per-replica word PERMUTATION
  *    composed with a per-replica VOCABULARY SUBSTITUTION
  *    ([[perturbWords]]): 10 exact copies of every doc would inflate
  *    dedup/LSH candidate pairs ~factor² (every doc in a 10-clique).
  *    The permutation mixes seed and position nonlinearly via the
  *    MurmurHash3 64-bit finalizer (`fmix64`) — a linear seed→rank mix
  *    degenerates to a cyclic ROTATION (seeds differ by an additive
  *    constant in the sort key), which preserves nearly all shingles
  *    and keeps the cliquing artifact. fmix64 decorrelates ranks across
  *    seeds, so replicas of one doc share only chance shingles
  *    (ScaleGenSpec asserts cross-seed 3-shingle Jaccard ≈ 0) while
  *    length/vocab/token statistics stay identical. The substitution
  *    then retags ~25% of each replica's word types, because
  *    permutation preserves the token MULTISET and multiset-invariant
  *    signatures (SimHash above all) would otherwise still see every
  *    replica family as 10-way exact duplicates; half the vocabulary
  *    is retagged per replica (see [[substituteWords]] for the
  *    measured calibration).
  *  - Replica embeddings get their DIMENSIONS rotated by a per-seed
  *    lag (29·seed mod dim — nonzero and distinct for all seed pairs
  *    when factor ≤ dim/2): norms and within-replica geometry are
  *    preserved exactly, while cross-replica cosine drops to the
  *    circular autocorrelation of the vector (measured mean |cos|
  *    ≈ 0.10 on the driver's sf0.1 embeddings vs typical top-5
  *    neighbor cosine ≈ 0.37 — replicas compete like ordinary corpus
  *    points, not ties; ScaleGenSpec asserts this). A ±ε jitter was
  *    rejected: it leaves replica pairs at cosine ≈ 0.9996, i.e.
  *    still effective kNN ties.
  *  - `nation`/`region` are copied unchanged — true dimensions don't
  *    grow with corpus size, and q25's broadcast of nation must stay
  *    realistically broadcast-sized.
  *
  * Output lives under the repo (gitignored), never under /root/testdata.
  */
object ScaleGen {
  /** MurmurHash3 64-bit finalizer (public-domain algorithm): full
    * avalanche, so adjacent (j, seed) inputs give uncorrelated ranks. */
  def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  /** Deterministic word shuffle; identity at seed 0. Seed and position
    * are mixed nonlinearly (fmix64) so different seeds yield independent
    * permutations — NOT rotations of each other. */
  def permuteWords(text: String, seed: Int): String =
    if (seed == 0) text
    else {
      val w = text.split(" ", -1)
      w.indices
        .sortBy(j => fmix64(j.toLong ^ (seed.toLong << 32)))
        .map(w)
        .mkString(" ")
    }

  /** Deterministic per-seed VOCABULARY substitution: ~1/`denom` of the
    * word types get a seed-tagged variant (`w` → `w<seed>`), keyed on
    * word CONTENT so a substituted word substitutes consistently
    * throughout the replica. Permutation alone preserves the token
    * MULTISET, and any multiset-invariant signature — SimHash bit-votes
    * over unigram token ids above all — is therefore identical across
    * replicas, putting every replica family at Hamming distance 0 and
    * re-creating the factor² dedup-candidate artifact for those
    * queries. The default retags HALF the vocabulary (denom=2): the
    * driver's synthetic docs draw from a ~31-type vocabulary with the
    * usual frequency skew, and measured through the real SimHash
    * kernel, 25% substitution leaves ~40% of replica pairs within the
    * q15 near-dup radius while 50% pushes ~94% of pairs past it
    * (avg Hamming 19/60 — ScaleGenSpec asserts the rate); the ~6%
    * stragglers are docs dominated by unsubstituted types, a plausible
    * natural near-dup rate. Half-substitution also keeps cross-replica
    * vocabulary sharing Heaps-plausible (a real 10× corpus carries new
    * vocabulary but shares most of the old), while word count,
    * word-length shape, and whitespace statistics stay effectively
    * unchanged. */
  def substituteWords(text: String, seed: Int, denom: Int = 2): String =
    if (seed == 0) text
    else text.split(" ", -1).map { w =>
      val h = fmix64(w.hashCode.toLong ^ (seed.toLong * 0x9e3779b97f4a7c15L))
      if ((h & 0x7fffffffL) % denom == 0) w + seed else w
    }.mkString(" ")

  /** The full replica-text perturbation: independent word permutation
    * (breaks order-sensitive signatures: shingles, minhash, n-gram
    * Jaccard) composed with vocabulary substitution (breaks
    * multiset-invariant signatures: SimHash, exact term stats). */
  def perturbWords(text: String, seed: Int): String =
    substituteWords(permuteWords(text, seed), seed)

  /** Per-seed dimension-rotation lag; nonzero and pairwise-distinct for
    * seeds 1..factor-1 whenever factor ≤ dim/2 (29 is coprime to any
    * power-of-two dim). Lags REPEAT with period `dim` in the seed, so
    * factor > dim alone would hand colliding seed pairs (s, s+dim)
    * byte-identical vectors — exact kNN ties; high seeds therefore
    * substitute [[affinePerm]] composed with [[signVector]] for the
    * rotation. */
  def rotationLag(seed: Int, dim: Int): Int = ((seed * 29) % dim + dim) % dim

  /** Per-seed Rademacher (±1) sign pattern, used (composed with
    * [[affinePerm]]) for replica groups PAST the rotation-lag period
    * (seed ≥ dim). Signs ALONE are not enough: the cosine between
    * sign-flipped copies of one vector is a ±-weighted sum of SQUARED
    * components, whose spread scales with the vector's kurtosis — on
    * the driver's energy-concentrated embeddings that measured mean
    * |cos| ≈ 0.22, double the rotation regime. */
  def signVector(seed: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { i =>
      if ((fmix64(i.toLong ^ (seed.toLong * 0x9e3779b97f4a7c15L)) & 1L) == 0L) 1f else -1f
    }

  /** Per-seed affine dimension permutation i → (a·i + b) mod dim (a
    * odd, so a bijection on any power-of-two dim), for seeds past the
    * rotation-lag period. Unlike a sign pattern on a SHARED rotation,
    * a differing permutation pairs each component with an unrelated
    * component of the partner replica, so the cross-replica cosine is
    * a sum of cross terms with spread ≈ 1/√dim regardless of how the
    * vector's energy concentrates (ScaleGenSpec asserts the composed
    * transform lands colliding-lag pairs in the ordinary-point range,
    * alongside the first-group rotation test).
    *
    * The (a, b) pair is assigned INJECTIVELY in the seed: the dim²/2
    * possible pairs (dim/2 odd multipliers × dim offsets) are walked
    * with a fixed odd stride — a bijection on Z_{dim²/2} for
    * power-of-two dim — so any window of dim²/2 consecutive seeds
    * (2048 at dim 64, far past any factor the bench runs) gets
    * pairwise-distinct pairs by construction. The previous independent
    * per-seed hash draw collided at birthday rate: seeds 83 and 84
    * both drew (a=13, b=2) at dim 64, collapsing that replica pair to
    * the sign-only regime whose mean |cos| ≈ 0.22 the [[signVector]]
    * docstring measures — exactly the tie-adjacent geometry this
    * transform exists to avoid (ScaleGenSpec pins the pair and the
    * window-wide injectivity). Seeds whose pairs DO share a multiplier
    * (idx ≡ mod dim/2) differ by a pure offset shift, the
    * rotation-grade regime (|cos| ≈ 0.10) — still ordinary-point. */
  def affinePerm(seed: Int, dim: Int): Array[Int] = {
    val m = dim * dim / 2
    val stride = (2L * ((fmix64(dim.toLong) >>> 1) % (m / 2)) + 1L).toInt
    val start = ((fmix64(dim.toLong * 0x9e3779b97f4a7c15L) >>> 1) % m).toInt
    val idx = (((seed.toLong % m) * stride + start) % m).toInt
    val a = 2 * (idx % (dim / 2)) + 1
    val b = idx / (dim / 2)
    Array.tabulate(dim)(i => ((a.toLong * i + b) % dim).toInt)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: ScaleGen <srcSfDir> <outDir> [factor=10]")
      sys.exit(1)
    }
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Graft.tunedBuilder(src, sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scalegen] wrote $name")
    }

    /** Union `factor` per-replica projections of `df`; replica 0 is the
      * untouched base so small-id query/eval splits survive. */
    def replicate(df: DataFrame)(project: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => if (i == 0) df else project(df, i)).reduce(_ unionAll _)

    // uniform collision-safe replica step: max source key + 1
    def keyCeil(name: String, key: String): Long =
      tbl(name).agg(max(col(key))).head().getLong(0) + 1L

    // documents: offset ids, permute replica texts, recompute n_chars
    val docStep = keyCeil("documents", "doc_id")
    val perturb = udf((t: String, s: Int) => perturbWords(t, s))
    write(
      replicate(tbl("documents")) { (d, i) =>
        d.select(
          (col("doc_id") + lit(i * docStep)).as("doc_id"),
          perturb(col("text"), lit(i)).as("text"),
          col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "documents")

    // embeddings: offset ids, rotate replica vector dimensions by a
    // per-seed lag (norm-preserving, neighborhood-scrambling); past the
    // lag period (seed ≥ dim — factors > 64 at the driver's dim) the
    // rotation is REPLACED by a per-seed affine dimension permutation
    // composed with a per-seed Rademacher sign pattern, so colliding
    // lags can't produce byte-identical vectors
    val vecStep = keyCeil("embeddings", "vec_id")
    val dim = tbl("embeddings").select(size(col("embedding"))).head().getInt(0)
    def rotateDims(v: Column, seed: Int): Column = {
      val n = size(v)
      val k = pmod(lit(seed * 29), n)
      when(n <= 1, v).otherwise(concat(slice(v, k + 1, n - k), slice(v, lit(1), k)))
    }
    def perturbVec(v: Column, seed: Int): Column =
      if (seed < dim) rotateDims(v, seed)
      else {
        val p = affinePerm(seed, dim)
        val sg = signVector(seed, dim)
        array(p.indices.map(j => v.getItem(p(j)) * lit(sg(j))): _*)
      }
    write(
      replicate(tbl("embeddings")) { (e, i) =>
        e.select(
          (col("vec_id") + lit(i * vecStep)).as("vec_id"),
          perturbVec(col("embedding"), i).as("embedding"),
          col("label"))
      },
      "embeddings")

    // fact + scaling-dimension tables: consistent key offsets across
    // all join sides
    val orderStep = keyCeil("orders", "o_orderkey")
    val custStep = keyCeil("customer", "c_custkey")
    val partStep = keyCeil("part", "p_partkey")
    val suppStep = keyCeil("supplier", "s_suppkey")
    write(
      replicate(tbl("lineitem")) { (l, i) =>
        l.withColumn("l_orderkey", col("l_orderkey") + lit(i * orderStep))
          .withColumn("l_partkey", col("l_partkey") + lit(i * partStep))
          .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppStep))
      },
      "lineitem")
    write(
      replicate(tbl("orders")) { (o, i) =>
        o.withColumn("o_orderkey", col("o_orderkey") + lit(i * orderStep))
          .withColumn("o_custkey", col("o_custkey") + lit(i * custStep))
      },
      "orders")
    write(
      replicate(tbl("customer")) { (c, i) =>
        c.withColumn("c_custkey", col("c_custkey") + lit(i * custStep))
      },
      "customer")
    write(
      replicate(tbl("part")) { (p, i) =>
        p.withColumn("p_partkey", col("p_partkey") + lit(i * partStep))
      },
      "part")
    write(
      replicate(tbl("supplier")) { (s, i) =>
        s.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppStep))
      },
      "supplier")
    val eventStep = keyCeil("events", "event_id")
    val userStep = keyCeil("events", "user_id")
    write(
      replicate(tbl("events")) { (e, i) =>
        e.withColumn("event_id", col("event_id") + lit(i * eventStep))
          .withColumn("user_id", col("user_id") + lit(i * userStep))
      },
      "events")

    // true dimension tables: unchanged (they don't grow with the corpus)
    Seq("nation", "region").foreach(t => write(tbl(t), t))

    System.err.println(s"[scalegen] done: $out = $src × $factor")
    spark.stop()
  }
}
