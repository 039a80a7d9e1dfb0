package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.functions.{K, Kernel}

/** Property-based invariants (SURVEY §5 test plan): the native kernels
  * must equal their HOF formulations for ARBITRARY inputs, not just the
  * corpus — the generator mixes ASCII with the Unicode chars whose
  * lowercasing is tricky (Kelvin sign, dotted İ, final sigma, fullwidth
  * letters, combining marks, surrogates-adjacent emoji). */
class PropertySpec extends AnyFunSuite with SparkSessionTestWrapper {

  /** Deterministic property driver: evaluate `gen` across fixed seeds
    * (the scalatest-scalacheck bridge isn't in the offline cache). */
  private def forAllSeeded[A](gen: Gen[A], trials: Int = 12)(body: A => Unit): Unit =
    (1 to trials).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }
  import spark.implicits._

  private val trickyChars: Gen[Char] = Gen.oneOf(
    'K', 'K', 'İ', 'Σ', 'σ', 'ς', 'ß', 'ẞ', 'Ａ', 'ａ', '̇',
    'é', 'É', 'Ö', 'ß', 'İ', 'ı', '中', '文')
  private val anyChar: Gen[Char] = Gen.frequency(
    8 -> Gen.choose(' ', '~'),
    2 -> trickyChars,
    1 -> Gen.choose('\u0000', '\u001f'))
  private val text: Gen[String] = Gen.chooseNum(0, 80)
    .flatMap(n => Gen.listOfN(n, anyChar).map(_.mkString))

  test("property: smartResize dims are factor multiples inside the budget") {
    import graft.operators.VlPreprocess
    val dims = Gen.zip(Gen.chooseNum(1, 300), Gen.chooseNum(1, 300))
      .suchThat { case (h, w) =>
        math.max(h, w).toDouble / math.min(h, w).toDouble <= 200.0
      }
    forAllSeeded(Gen.listOfN(50, dims), trials = 6) { pairs =>
      pairs.foreach { case (h, w) =>
        val factor = 4
        val (minPx, maxPx) = (256L, 4096L)
        val (hb, wb) = VlPreprocess.smartResize(h, w, factor, minPx, maxPx)
        assert(hb % factor == 0 && wb % factor == 0, s"($h,$w) → ($hb,$wb) not snapped")
        assert(hb >= factor && wb >= factor)
        // the β-shrink branch lands at or under max_pixels (floor only
        // shrinks); the grow branch lands at or over min_pixels (ceil
        // only grows) — except when the factor floor dominates
        val area = hb.toLong * wb.toLong
        val hb0 = math.max(VlPreprocess.roundTiesToEven(h / 4.0) * 4, 4L)
        val wb0 = math.max(VlPreprocess.roundTiesToEven(w / 4.0) * 4, 4L)
        if (hb0 * wb0 > maxPx) assert(area <= maxPx, s"($h,$w) shrink overshot: $area")
        if (hb0 * wb0 < minPx) assert(area >= minPx, s"($h,$w) grow undershot: $area")
      }
    }
  }

  test("property: TokenIds == lower+regexp HOF for arbitrary strings") {
    forAllSeeded(Gen.listOfN(40, text)) { (texts: List[String]) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val bad = df
        .withColumn("fast", Kernel.tokenIds(col("text"), 16))
        .withColumn("hof", Kernel.tokenIdsHof(col("text"), 16))
        .filter(not(col("fast") === col("hof")))
        .select(col("text"), col("fast"), col("hof"))
        .collect()
      assert(bad.isEmpty, s"mismatch on: ${bad.take(3).mkString("; ")}")
    }
  }

  test("property: TextNorm fields == HOF chains for arbitrary strings") {
    val stop = graft.operators.TextAnalysis.stopwords
    forAllSeeded(Gen.listOfN(30, text)) { (texts: List[String]) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val tn = bridge.column(graft.functions.TextNorm(bridge.expression(col("text")), stop))
      val toks = Kernel.tokensHof(col("text"))
      val bad = df
        .withColumn("n", tn)
        .withColumn("norm_hof", concat_ws(" ", toks))
        .withColumn("nw_hof", size(toks).cast("long"))
        .withColumn("ac_hof",
          length(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).cast("long"))
        .withColumn("st_hof",
          size(filter(toks, t => t.isin(stop.map(lit(_)): _*))).cast("long"))
        .withColumn("ws_hof",
          size(filter(split(col("text"), "\\s+"), t => t =!= "")).cast("long"))
        .filter(col("n.norm") =!= col("norm_hof") ||
          col("n.n_words") =!= col("nw_hof") ||
          col("n.alpha_chars") =!= col("ac_hof") ||
          col("n.stops") =!= col("st_hof") ||
          col("n.ws_tokens") =!= col("ws_hof"))
        .select(col("text"), col("n"), col("norm_hof"), col("ac_hof"))
        .collect()
      assert(bad.isEmpty, s"mismatch on: ${bad.take(3).mkString("; ")}")
    }
  }

  test("property: SimhashSig == HOF for arbitrary token-id arrays") {
    val tids: Gen[List[Long]] = Gen.chooseNum(1, 40)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(0L, K.M - 1)))
    forAllSeeded(Gen.listOfN(25, tids)) { (rows: List[List[Long]]) =>
      val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t.toArray) }.toDF("id", "tids")
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val bad = df
        .withColumn("fast", bridge.column(
          graft.functions.SimhashSig(bridge.expression(col("tids")), 32)))
        .withColumn("hof", graft.operators.Dedup.simhashSigHof(col("tids"), 32))
        .filter(col("fast") =!= col("hof"))
        .collect()
      assert(bad.isEmpty)
    }
  }

  test("property: ratioKey orders arbitrary positive rationals exactly") {
    import graft.operators.Sampling
    val longs = Gen.frequency(
      5 -> Gen.chooseNum(1L, Long.MaxValue),
      3 -> Gen.chooseNum(1L, 20L),
      // near-collision neighborhoods: t/s vs (t±1)/(s±1) around 2^62
      2 -> Gen.chooseNum((1L << 62) - 2, (1L << 62) + 2))
    forAllSeeded(Gen.listOfN(14, Gen.zip(longs, longs)), trials = 6) { pairs =>
      val df = pairs.zipWithIndex.map { case ((t, s), i) => (i.toLong, t, s) }
        .toDF("id", "t", "s")
      val keys = df.select(col("id"), Sampling.ratioKey("t", "s").as("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      def exact(p: (Long, Long)) = new java.math.BigDecimal(p._1)
        .divide(new java.math.BigDecimal(p._2), 54, java.math.RoundingMode.FLOOR)
      for (((a, ia), (b, ib)) <- pairs.zipWithIndex.combinations(2).map(c => (c(0), c(1)))) {
        assert(Integer.signum(keys(ia.toLong).compareTo(keys(ib.toLong))) ==
          exact(a).compareTo(exact(b)),
          s"ratioKey misordered ${a._1}/${a._2} vs ${b._1}/${b._2}")
      }
    }
  }

  test("property: topFraction keeps exactly ceil(frac*n) under arbitrary ties") {
    import graft.operators.Sampling
    val scores = Gen.chooseNum(0L, 6L) // tiny range -> massive tie buckets
    forAllSeeded(Gen.zip(
        Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, scores)),
        Gen.chooseNum(1, 99)), trials = 8) { case (xs, pct) =>
      val frac = pct / 100.0
      val df = xs.zipWithIndex.map { case (sc, i) => (i.toLong, sc) }.toDF("id", "score")
      val k = math.ceil(xs.length * frac).toLong
      val kept = Sampling.topFraction(df, "id", "score", frac)
        .select(col("id"), col("score"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(kept.length.toLong == k, s"kept ${kept.length}, want $k of ${xs.length}")
      // kept multiset of scores == the k largest scores
      val wantScores = xs.sorted(Ordering[Long].reverse).take(k.toInt)
      assert(kept.map(_._2).sorted.toList == wantScores.sorted,
        "kept scores are not the k largest")
      // and the loose variant is a superset with every >=-threshold row
      val minKept = kept.map(_._2).min
      val loose = Sampling.quantileThreshold(df, "id", "score", frac)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(kept.map(_._1).toSet.subsetOf(loose))
      assert(loose.size == xs.count(_ >= minKept))
    }
  }

  test("property: embedding is invariant under input partitioning") {
    forAllSeeded(Gen.zip(Gen.listOfN(20, text.suchThat(_.nonEmpty)), Gen.chooseNum(1, 7)), trials = 6) {
      case (texts: List[String], parts: Int) =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        def run(d: org.apache.spark.sql.DataFrame) =
          graft.operators.TextEmbedder().embed(d, "text", "emb")
            .select(col("doc_id"), col("emb"))
            .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
        assert(run(df.repartition(parts)) == run(df.coalesce(1)))
    }
  }
}
