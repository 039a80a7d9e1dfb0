package graft

import org.apache.spark.sql.functions.col
import graft.functions.K
import graft.operators.Similarity

/** Recall side of ANN plane growth: the cost side is measured in
  * SCALING.md (fixed-constant vs auto-sized, 22–28× at 100×); this
  * probe measures the RECALL side — what fraction of the exact mutual
  * kNN graph's edges the bucketed ANN candidate pass keeps as planes
  * grow, and how much of the loss the 1-flip multiprobe rule
  * ([[Similarity.probesFor]]) buys back at what cost.
  *
  * Ground truth is the brute mutual-kNN edge set
  * ([[Similarity.mutualKnnPairs]] — O(n²), which is why this probe
  * runs at sf0.1/sf1 corpus sizes where the exact graph is computable;
  * recall at a GIVEN plane count is a per-pair geometric event, so the
  * probes-vs-planes trade measured here transfers to bigger corpora
  * plane-for-plane). Edge recall = |ANN ∩ exact| / |exact| over
  * unordered id pairs.
  *
  * Usage: runMain graft.RecallProbe <sfDir> [k=4] [planted]
  * Prints one JSON line per probed variant. The optional `planted`
  * argument skips the brute exact-graph legs and runs ONLY the
  * planted-pair eval — the form that scales to any corpus size
  * (sf10's 200k vectors would need 40G cosine pairs for the exact
  * graph; the planted ground truth needs none).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: RecallProbe <sfDir> [k=4] [planted]"); sys.exit(1) }
    val sfDir = args(0)
    // `planted` may appear in place of the optional k (the usage string
    // allows `RecallProbe <sfDir> planted`) — parse only numeric args as k
    val k = args.drop(1).flatMap(a => scala.util.Try(a.toInt).toOption)
      .headOption.getOrElse(4)
    val plantedOnly = args.contains("planted")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.tunedBuilder(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = vecs.count()
    val auto = Similarity.nPlanesFor(n)

    def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .collect()
        .map(r => { val (a, b) = (r.getLong(0), r.getLong(1)); (math.min(a, b), math.max(a, b)) })
        .toSet

    val exact: Set[(Long, Long)] = if (plantedOnly) Set.empty else {
      val t0 = System.nanoTime()
      val e = edges(Similarity.mutualKnnPairs(vecs, "vec_id", "embedding", k))
      val exactSec = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe":"recall_exact","sf":"$sfDir","n":$n,"k":$k,"edges":${e.size},"sec":$exactSec%.3f}""")
      e
    }

    // per-edge cosine for stratified recall: random-hyperplane collision
    // probability is (1 − θ/π)^nPlanes, so recall is a function of the
    // pair's ANGLE — a single number over all mutual edges mixes the
    // near-dup-grade pairs (the ones dedup exists to find) with the
    // weak-tie tail. The id→vector map is corpus-sized on the DRIVER
    // only because the probe runs at exact-computable corpus sizes.
    val vecMap = vecs.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (vecMap(a), vecMap(b))
      var d = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      d / math.max(math.sqrt(nx) * math.sqrt(ny), 1e-12)
    }
    val bands = Seq(("cos_ge_0.8", 0.8, 1.01), ("cos_0.6_0.8", 0.6, 0.8),
      ("cos_0.4_0.6", 0.4, 0.6), ("cos_lt_0.4", -1.01, 0.4))
    val exactByBand = bands.map { case (name, lo, hi) =>
      name -> exact.filter { case (a, b) => val c = cos(a, b); c >= lo && c < hi }
    }.toMap

    val variants = if (plantedOnly) Seq.empty else Seq(
      ("auto_probes0", auto, 0),
      ("auto_probesFor", auto, Similarity.probesFor(auto)),
      ("auto_probesAll", auto, auto),
      ("fixed4_probes0", math.min(4, auto), 0))
    for ((label, nPlanes, probes) <- variants) {
      val t1 = System.nanoTime()
      val ann = edges(Similarity.mutualAnnPairs(vecs, "vec_id", "embedding",
        K.Dim, nPlanes, k, probes, salt = 1))
      val sec = (System.nanoTime() - t1) / 1e9
      val hit = ann.intersect(exact).size
      val recall = if (exact.isEmpty) 1.0 else hit.toDouble / exact.size
      val bandJson = bands.map { case (name, _, _) =>
        val ex = exactByBand(name)
        val r = if (ex.isEmpty) 1.0 else ann.intersect(ex).size.toDouble / ex.size
        f""""$name":{"exact":${ex.size},"recall":$r%.4f}"""
      }.mkString(",")
      println(f"""{"probe":"recall_$label","sf":"$sfDir","n":$n,"k":$k,"nPlanes":$nPlanes,"probes":$probes,"edges":${ann.size},"hit":$hit,"recall":$recall%.4f,"sec":$sec%.3f,$bandJson}""")
    }

    // INDEX-BACKED candidate generation (q161's operator): ADC
    // proposals from a persisted IVF-PQ index, exact-cosine rescored —
    // the serving-path answer to the sign-LSH mid-band recall gap. Two
    // settings: the gate's (nProbe 4/16 cells, overfetch 8) and the
    // wider serving recommendation (nProbe 8, overfetch 16).
    if (!plantedOnly) {
      val path = java.nio.file.Files.createTempDirectory("graft_recall_idx").toString
      graft.operators.VectorIndex.writeIvfPq(vecs, "vec_id", "embedding",
        nCells = 16, m = 8, nCentsPq = 16, path = path, storeVectors = true)
      val idx = graft.operators.VectorIndex.load(spark, path)
      // auto-sized build: cells follow the corpus (nCellsFor — the
      // nPlanesFor analog), Lloyd-trained geometry, occupancy-bounded
      // probes. The fixed-16-cell variants above measure the carried
      // small-corpus constant for contrast.
      val nCellsAuto = graft.operators.VectorIndex.nCellsFor(n)
      val pathAuto = java.nio.file.Files.createTempDirectory("graft_recall_idxa").toString
      graft.operators.VectorIndex.writeIvfPqTrained(vecs, "vec_id", "embedding",
        K.Dim, nCells = nCellsAuto, m = 8, nCentsPq = 16, iterations = 4,
        path = pathAuto, storeVectors = true)
      val idxAuto = graft.operators.VectorIndex.load(spark, pathAuto)
      for ((label, useIdx, nProbe, overfetch) <- Seq(
          ("indexed_gate", idx, 4, 8), ("indexed_serving", idx, 8, 16),
          ("indexed_auto", idxAuto, math.max(4, nCellsAuto / 8), 16))) {
        val t1 = System.nanoTime()
        val knn = graft.operators.VectorIndex
          .selfKnnCandidates(spark, useIdx, nProbe, k, overfetch)
          .localCheckpoint(false)
        val ann = edges(graft.operators.Similarity.mutualEdges(knn))
        val sec = (System.nanoTime() - t1) / 1e9
        val hit = ann.intersect(exact).size
        val recall = if (exact.isEmpty) 1.0 else hit.toDouble / exact.size
        val bandJson = bands.map { case (name, _, _) =>
          val ex = exactByBand(name)
          val r = if (ex.isEmpty) 1.0 else ann.intersect(ex).size.toDouble / ex.size
          f""""$name":{"exact":${ex.size},"recall":$r%.4f}"""
        }.mkString(",")
        println(f"""{"probe":"recall_$label","sf":"$sfDir","n":$n,"k":$k,"nProbe":$nProbe,"overfetch":$overfetch,"edges":${ann.size},"hit":$hit,"recall":$recall%.4f,"sec":$sec%.3f,$bandJson}""")
      }
    }

    // PLANTED near-dup eval: the generator decorrelates replicas by
    // design (ordinary-point |cos| ≈ 0.10), so the corpus's mutual
    // edges are ALL weak ties (cos 0.4–0.6 at sf1) — the regime
    // sign-LSH is worst at, and NOT the regime embedding-dedup exists
    // for. Plant ground truth instead: a deterministic jittered copy
    // of every 20th vector at cos ≈ 0.95 (near-dup grade), union it
    // in, and measure what fraction of the planted pairs each variant
    // keeps as edges. Needs no brute-force graph, so it works at any
    // corpus size. Jitter is fmix64-seeded — reproducible, no RNG.
    val idCeil = vecMap.keys.max + 1L
    val planted = vecMap.toSeq.sortBy(_._1).filter(_._1 % 20 == 0).map { case (id, v) =>
      val noise = Array.tabulate(v.length) { i =>
        val h = ScaleGen.fmix64(id * 0x9e3779b97f4a7c15L ^ i.toLong)
        ((h & 0xffff).toFloat / 0x8000 - 1f)
      }
      val vn = math.sqrt(v.map(x => x.toDouble * x).sum)
      val nn = math.sqrt(noise.map(x => x.toDouble * x).sum)
      // noise scaled to ~1/3 of the vector norm -> cos ≈ 0.95
      val s = (0.33 * vn / math.max(nn, 1e-9)).toFloat
      (id + idCeil, v.indices.map(i => v(i) + s * noise(i)).toArray)
    }
    val plantedPairs = planted.map { case (jid, _) => (jid - idCeil, jid) }.toSet
    val plantedCos = planted.map { case (jid, jv) =>
      val v = vecMap(jid - idCeil)
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- v.indices) { d += v(i) * jv(i); nx += v(i) * v(i); ny += jv(i) * jv(i) }
      d / math.sqrt(nx * ny)
    }
    import spark.implicits._
    val aug = vecs.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .unionByName(planted.toDF("vec_id", "embedding"))
    val nAug = n + planted.size
    val autoAug = Similarity.nPlanesFor(nAug)
    for ((label, nPlanes, probes) <- Seq(
        ("auto_probes0", autoAug, 0),
        ("auto_probesFor", autoAug, Similarity.probesFor(autoAug)),
        ("auto_probesAll", autoAug, autoAug))) {
      val ann = edges(Similarity.mutualAnnPairs(aug, "vec_id", "embedding",
        K.Dim, nPlanes, k, probes, salt = 1))
      val hit = ann.intersect(plantedPairs).size
      val r = hit.toDouble / plantedPairs.size
      println(f"""{"probe":"planted_$label","sf":"$sfDir","n":$nAug,"k":$k,"nPlanes":$nPlanes,"probes":$probes,"planted":${plantedPairs.size},"mean_cos":${plantedCos.sum / plantedCos.size}%.3f,"hit":$hit,"recall":$r%.4f}""")
    }
    // MID/HIGH-BAND planted eval (r17 verdict #4): real embedding
    // neighbors live at cos 0.6–0.8, where the synthetic corpus's own
    // mutual-kNN graph has too few exact edges to state a floor. Plant
    // three bands at once — every 20th vector gets replicas at target
    // cos ≈ 0.6 / 0.7 / 0.8 (noise scale s = sqrt(1/c² − 1) · |v|/|e|,
    // fmix64-seeded per band) — build ONE auto-sized index over the
    // augmented corpus, and sweep (nProbe, overfetch) on the indexed
    // candidate path. Per row: per-band recall + candidate-edge count
    // (the serving cost the sweep trades against).
    if (args.contains("band") || args.contains("bandenc")) {
      val bandTargets = Seq(0.6, 0.7, 0.8)
      val bandStep = vecMap.keys.max + 1L
      val bandPlants = bandTargets.zipWithIndex.map { case (c, bi) =>
        val plants = vecMap.toSeq.sortBy(_._1).filter(_._1 % 20 == 0).map { case (id, v) =>
          val noise = Array.tabulate(v.length) { i =>
            val h = ScaleGen.fmix64((id * 31L + bi + 1L) * 0x9e3779b97f4a7c15L ^ i.toLong)
            ((h & 0xffff).toFloat / 0x8000 - 1f)
          }
          val vn = math.sqrt(v.map(x => x.toDouble * x).sum)
          val nn = math.sqrt(noise.map(x => x.toDouble * x).sum)
          val s = (math.sqrt(1.0 / (c * c) - 1.0) * vn / math.max(nn, 1e-9)).toFloat
          (id + bandStep * (bi + 1L), v.indices.map(i => v(i) + s * noise(i)).toArray)
        }
        (c, bi, plants)
      }
      val bandPairs = bandPlants.map { case (c, bi, plants) =>
        (c, plants.map { case (jid, _) => (jid - bandStep * (bi + 1L), jid) }.toSet)
      }
      val bandMeanCos = bandPlants.map { case (c, _, plants) =>
        val cs = plants.map { case (jid, jv) =>
          val v = vecMap(jid % bandStep)
          var d = 0.0; var nx = 0.0; var ny = 0.0
          for (i <- v.indices) { d += v(i) * jv(i); nx += v(i) * v(i); ny += jv(i) * jv(i) }
          d / math.sqrt(nx * ny)
        }
        (c, cs.sum / cs.size)
      }.toMap
      import spark.implicits._
      val augB = vecs.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .unionByName(bandPlants.flatMap(_._3).toDF("vec_id", "embedding"))
      val nB = n + bandPlants.map(_._3.size).sum
      val nCellsB = graft.operators.VectorIndex.nCellsFor(nB)
      val pathB = java.nio.file.Files.createTempDirectory("graft_recall_band").toString
      graft.operators.VectorIndex.writeIvfPqTrained(augB, "vec_id", "embedding",
        K.Dim, nCells = nCellsB, m = 8, nCentsPq = 16, iterations = 4,
        path = pathB, storeVectors = true)
      val idxB = graft.operators.VectorIndex.load(spark, pathB)
      // env overrides for targeted follow-ups (comma lists), e.g. the
      // overfetch-saturation question at a fixed probe count
      def envList(name: String, dflt: Seq[Int]): Seq[Int] =
        sys.env.get(name).map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(dflt)
      val bandProbes = envList("GRAFT_BAND_PROBES", (Seq(2, 4, 8, 16) ++
        Seq(nCellsB / 4, nCellsB / 2, nCellsB)).distinct)
        .filter(p => p > 0 && p <= nCellsB).sorted
      val bandOverfetch = envList("GRAFT_BAND_OVERFETCH", Seq(8, 16, 32))
      if (args.contains("band"))
      for (nProbe <- bandProbes;
           overfetch <- bandOverfetch) {
        val t1 = System.nanoTime()
        val knn = graft.operators.VectorIndex
          .selfKnnCandidates(spark, idxB, nProbe, k, overfetch)
          .localCheckpoint(false)
        val nCand = knn.count()
        val ann = edges(graft.operators.Similarity.mutualEdges(knn))
        val sec = (System.nanoTime() - t1) / 1e9
        val bandJson = bandPairs.map { case (c, pairs) =>
          val hit = ann.intersect(pairs).size
          f""""band_$c":{"planted":${pairs.size},"mean_cos":${bandMeanCos(c)}%.3f,"recall":${hit.toDouble / pairs.size}%.4f}"""
        }.mkString(",")
        println(f"""{"probe":"band_indexed","sf":"$sfDir","n":$nB,"k":$k,"nCells":$nCellsB,"nProbe":$nProbe,"overfetch":$overfetch,"candidates":$nCand,"sec":$sec%.3f,$bandJson}""")
      }
      // ENCODE-VARIANT sweep (r18 verdict #1): the 0.6-band ceiling is
      // PQ-ORDERING-bound — more probes cannot buy it — so attack the
      // quantizer itself: subspace count m (code granularity), per-
      // subspace centroid count kPq (code alphabet; 16 = 4-bit codes,
      // 256 = the standard 8-bit IVFPQ books), and the residual frame
      // (codes spend their budget on within-cell offsets). ADC search
      // work is O(dim) regardless of m, and the candidate bound is
      // unchanged — the sweep's cost axis is encode+storage, its win
      // axis is mid-band ordering. Variants as m:kPq:res triples.
      if (args.contains("bandenc")) {
        val variants = sys.env.get("GRAFT_BANDENC_VARIANTS")
          .map(_.split(",").toSeq.map { v =>
            val Array(m, kp, res) = v.trim.split(":"); (m.toInt, kp.toInt, res == "1")
          })
          .getOrElse(Seq((8, 16, false), (8, 16, true), (16, 16, true),
            (8, 64, true), (8, 256, false), (8, 256, true), (16, 256, true)))
        val encProbes = envList("GRAFT_BANDENC_PROBES", Seq(16, nCellsB / 8))
          .filter(p => p > 0 && p <= nCellsB).distinct.sorted
        val encOverfetch = envList("GRAFT_BANDENC_OVERFETCH", Seq(16))
        for ((m, kPq, res) <- variants) {
          val t0 = System.nanoTime()
          val pathV = java.nio.file.Files.createTempDirectory(
            s"graft_recall_enc_${m}_${kPq}_$res").toString
          graft.operators.VectorIndex.writeIvfPqTrained(augB, "vec_id", "embedding",
            K.Dim, nCells = nCellsB, m = m, nCentsPq = kPq, iterations = 4,
            path = pathV, storeVectors = true, residual = res)
          val buildSec = (System.nanoTime() - t0) / 1e9
          val idxV = graft.operators.VectorIndex.load(spark, pathV)
          for (nProbe <- encProbes; overfetch <- encOverfetch) {
            val t1 = System.nanoTime()
            val knn = graft.operators.VectorIndex
              .selfKnnCandidates(spark, idxV, nProbe, k, overfetch)
              .localCheckpoint(false)
            val nCand = knn.count()
            val ann = edges(graft.operators.Similarity.mutualEdges(knn))
            val sec = (System.nanoTime() - t1) / 1e9
            val bandJson = bandPairs.map { case (c, pairs) =>
              val hit = ann.intersect(pairs).size
              f""""band_$c":{"planted":${pairs.size},"mean_cos":${bandMeanCos(c)}%.3f,"recall":${hit.toDouble / pairs.size}%.4f}"""
            }.mkString(",")
            println(f"""{"probe":"band_encoded","sf":"$sfDir","n":$nB,"k":$k,"nCells":$nCellsB,"m":$m,"kPq":$kPq,"residual":$res,"nProbe":$nProbe,"overfetch":$overfetch,"candidates":$nCand,"build_sec":$buildSec%.3f,"sec":$sec%.3f,$bandJson}""")
          }
        }
      }

      // the sign-LSH contrast at the same bands: the production
      // mutualAnnPairs path the indexed sweep is measured against
      val autoB = Similarity.nPlanesFor(nB)
      if (args.contains("band"))
      for ((label, probes) <- Seq(("probes0", 0), ("probesFor", Similarity.probesFor(autoB)))) {
        val t1 = System.nanoTime()
        val ann = edges(Similarity.mutualAnnPairs(augB, "vec_id", "embedding",
          K.Dim, autoB, k, probes, salt = 1))
        val sec = (System.nanoTime() - t1) / 1e9
        val bandJson = bandPairs.map { case (c, pairs) =>
          val hit = ann.intersect(pairs).size
          f""""band_$c":{"planted":${pairs.size},"mean_cos":${bandMeanCos(c)}%.3f,"recall":${hit.toDouble / pairs.size}%.4f}"""
        }.mkString(",")
        println(f"""{"probe":"band_lsh_$label","sf":"$sfDir","n":$nB,"k":$k,"nPlanes":$autoB,"probes":$probes,"sec":$sec%.3f,$bandJson}""")
      }
    }

    // the INDEX-BACKED path on the planted near-dup band — the regime
    // embedding-dedup exists for, and the floor the serving path must
    // clear: auto-sized Lloyd cells + ADC proposal + exact rescore
    locally {
      val nCellsAug = graft.operators.VectorIndex.nCellsFor(nAug)
      val pathAug = java.nio.file.Files.createTempDirectory("graft_recall_pidx").toString
      graft.operators.VectorIndex.writeIvfPqTrained(aug, "vec_id", "embedding",
        K.Dim, nCells = nCellsAug, m = 8, nCentsPq = 16, iterations = 4,
        path = pathAug, storeVectors = true)
      val idxAug = graft.operators.VectorIndex.load(spark, pathAug)
      // two probe settings: the wide one, and q161b's LINEAR serving
      // default (fixed nProbe=4 → nProbe·targetCell candidates per
      // vector regardless of n — the setting the sf10 artifact runs)
      for ((label, nProbe) <- Seq(
          ("planted_indexed_auto", math.max(4, nCellsAug / 8)),
          ("planted_indexed_linear", math.min(nCellsAug, 4)),
          // the fixed-probe ladder: how the linear serving default's
          // recall decays as cells outgrow a fixed coverage constant,
          // and what constant restores the floor at this cell count
          ("planted_indexed_linear8", math.min(nCellsAug, 8)),
          ("planted_indexed_linear12", math.min(nCellsAug, 12)),
          ("planted_indexed_linear16", math.min(nCellsAug, 16)),
          ("planted_indexed_linear24", math.min(nCellsAug, 24)))) {
        val knn = graft.operators.VectorIndex
          .selfKnnCandidates(spark, idxAug, nProbe, k, overfetch = 16)
          .localCheckpoint(false)
        val ann = edges(graft.operators.Similarity.mutualEdges(knn))
        val hit = ann.intersect(plantedPairs).size
        val r = hit.toDouble / plantedPairs.size
        println(f"""{"probe":"$label","sf":"$sfDir","n":$nAug,"k":$k,"nCells":$nCellsAug,"nProbe":$nProbe,"overfetch":16,"planted":${plantedPairs.size},"hit":$hit,"recall":$r%.4f}""")
      }
    }
    spark.stop()
  }
}
