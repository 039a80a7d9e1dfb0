package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** One generated document. */
final case class Doc(id: Long, text: String)

/** One generated embedding (64 floats, the shape of the sf0.1 `embeddings` table). */
final case class Vec(id: Long, vec: Array[Float])

/** One row of an ingest micro-batch. `kind` is `new` (an insert, possibly
  * a planted near-duplicate), `upd` (a new version of a base row) or `del`
  * (a removal of a base row; text and vector are then empty). */
final case class IngestRow(id: Long, kind: String, text: String, vec: Array[Float],
                           source: String, tsSec: Long)

/** What every artifact records about its inputs. */
final case class Manifest(seed: Long, sizes: Seq[(String, Long)], sha256: String)

/** Seeded input generator. Every input of every workload is a pure
  * function of the workload seed, so the same seed gives the same bytes
  * and the program under test only ever sees the generated inputs.
  *
  * The shapes follow the sf0.1 test tables: documents are 16–96 words of
  * a small technical vocabulary (the sf0.1 `documents` table uses ~40 such
  * words) extended by 400 synthetic words drawn Zipf-like, so tokenizer
  * training and BM25 see a long tail; embeddings are 64-d float vectors
  * in families of about [[FamilySize]] around 10 cluster centers (sf0.1
  * `embeddings`: 2,000 rows, 10 labels). Planted near-duplicates change
  * one word in twenty (shingle Jaccard ≈ 0.8) or add small noise to a
  * vector (cosine ≈ 0.9999). */
object Inputs {
  val Dim: Int = 64
  val Clusters: Int = 10
  /** Mean number of vectors per family. */
  val FamilySize: Int = 16

  private val BaseWords: Array[String] = ("spark table query join scan filter group sort " +
    "hash window stream batch vector column row key value order part line " +
    "customer data agg merge fast slow big small plan index search token " +
    "model embed shard cache disk memory node task stage job driver").split(" ")

  /** Syllable words: fixed, independent of any seed. */
  private val SynthWords: Array[String] = {
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou")
    val r = new SplittableRandom(0x5EEDL)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 400) {
      val n = 2 + r.nextInt(2)
      out += (0 until n).map(_ => on(r.nextInt(on.length)) + nu(r.nextInt(nu.length))).mkString
    }
    out.toArray
  }

  val Vocabulary: Array[String] = BaseWords ++ SynthWords.filterNot(BaseWords.contains)

  /** Cumulative Zipf(1.1) weights over the vocabulary. */
  private val ZipfCdf: Array[Double] = {
    val w = Vocabulary.indices.map(i => 1.0 / math.pow(i + 1.0, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }

  /** A generator stream for one named input of one seed. */
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xBF58476D1CE4E5B9L)

  def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(ZipfCdf, r.nextDouble())
    Vocabulary(math.min(Vocabulary.length - 1, if (i >= 0) i else -i - 1))
  }

  def text(r: SplittableRandom, words: Int): String =
    Array.fill(words)(word(r)).mkString(" ")

  /** Word count of the `i`-th document of a set: 16–96 words, cycling
    * through every length once per 81 documents in the same order for
    * every seed, so the amount of work does not vary with the seed. */
  def docWords(i: Long): Int = 16 + ((i * 37) % 81).toInt

  /** Whether the `i`-th row of a set is a near-duplicate: exactly a
    * `share` of the rows, spread evenly and the same for every seed. */
  def isDup(i: Long, share: Double): Boolean =
    i > 0 && ((i + 1) * share).toLong > (i * share).toLong

  /** A near-duplicate: one word in twenty replaced. */
  def perturbText(r: SplittableRandom, t: String): String = {
    val ws = t.split(" ")
    (0 until math.max(1, ws.length / 20)).foreach(_ => ws(r.nextInt(ws.length)) = word(r))
    ws.mkString(" ")
  }

  def centers(seed: Long): Array[Array[Double]] = {
    val r = rng(seed, "centers")
    Array.fill(Clusters)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
  }

  /** Family centers: each of `n` families sits around one of the
    * [[Clusters]] cluster centers; a vector is drawn close to one family
    * center, so every vector has about `size / n` near neighbours and a
    * true top-10 that exact search can tell apart. */
  def families(seed: Long, stream: String, n: Int): Array[Array[Double]] = {
    val r = rng(seed, s"$stream.families")
    val cs = centers(seed)
    Array.fill(n) {
      val c = cs(r.nextInt(cs.length))
      Array.tabulate(Dim)(j => c(j) + gaussian(r) * 0.35)
    }
  }

  def vector(r: SplittableRandom, fs: Array[Array[Double]]): Array[Float] = {
    val f = fs(r.nextInt(fs.length))
    Array.tabulate(Dim)(j => (f(j) + gaussian(r) * 0.05).toFloat)
  }

  def perturbVec(r: SplittableRandom, v: Array[Float], sd: Double = 0.005): Array[Float] =
    v.map(x => (x + gaussian(r) * sd).toFloat)

  private def gaussian(r: SplittableRandom): Double = {
    // Box–Muller from two uniforms in (0, 1]
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** `n` docs with ids `from`…, a `dupShare` of them ([[isDup]]) near-duplicates of
    * earlier original (non-duplicate) docs of the same set, so duplicate
    * groups are stars of the same depth for every seed. */
  def docs(seed: Long, stream: String, n: Int, from: Long = 0L,
           dupShare: Double = 0.0): Array[Doc] = {
    val r = rng(seed, stream)
    val out = new Array[Doc](n)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until n).foreach { i =>
      val t =
        if (isDup(i, dupShare)) perturbText(r, out(originals(r.nextInt(originals.length))).text)
        else { originals += i; text(r, docWords(i)) }
      out(i) = Doc(from + i, t)
    }
    out
  }

  /** `n` vectors with ids `from`…, a `dupShare` of them near-duplicates of
    * earlier original vectors of the same set. */
  def vecs(seed: Long, stream: String, n: Int, from: Long = 0L,
           dupShare: Double = 0.0): Array[Vec] = {
    val r = rng(seed, stream)
    val cs = families(seed, stream, math.max(1, n / FamilySize))
    val out = new Array[Vec](n)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until n).foreach { i =>
      val v =
        if (isDup(i, dupShare)) perturbVec(r, out(originals(r.nextInt(originals.length))).vec)
        else { originals += i; vector(r, cs) }
      out(i) = Vec(from + i, v)
    }
    out
  }

  /** Query vectors: perturbed copies of corpus vectors, so every query has
    * true neighbours in the corpus. */
  def vecQueries(seed: Long, stream: String, corpus: Array[Vec], n: Int): Array[Vec] = {
    val r = rng(seed, stream)
    Array.tabulate(n)(i => Vec(i.toLong, perturbVec(r, corpus(r.nextInt(corpus.length)).vec, 0.03)))
  }

  /** Query texts: 2–4 words of the vocabulary. */
  def textQueries(seed: Long, stream: String, n: Int): Array[Doc] = {
    val r = rng(seed, stream)
    Array.tabulate(n)(i => Doc(i.toLong, text(r, 2 + i % 3)))
  }

  /** Ingest micro-batches over a base corpus of `base` docs/vecs (ids
    * 0 until base.length). Each batch has `newRows` inserts (a `dupShare`
    * of them near-duplicates of base rows), `upd` updates and `del`
    * removals of base rows; every base id is updated or removed at most
    * once over all batches. */
  def ingestBatches(seed: Long, baseDocs: Array[Doc], baseVecs: Array[Vec], nBatches: Int,
                    newRows: Int, upd: Int, del: Int, dupShare: Double): Array[Array[IngestRow]] = {
    val r = rng(seed, "ingest")
    val cs = families(seed, "ingest", math.max(1, baseVecs.length / FamilySize))
    val touched = {
      val ids = baseDocs.indices.toArray
      // Fisher–Yates: a seeded order of base ids to update / delete
      (ids.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
      }
      ids.iterator
    }
    var next = baseDocs.length.toLong
    Array.tabulate(nBatches) { b =>
      val ts = 1767225600L + 60L * b
      val ins = Array.fill(newRows) {
        val id = next; next += 1
        val src = s"src${r.nextInt(4)}"
        if (isDup(id, dupShare)) {
          val o = r.nextInt(baseDocs.length)
          IngestRow(id, "new", perturbText(r, baseDocs(o).text), perturbVec(r, baseVecs(o).vec), src, ts)
        } else IngestRow(id, "new", text(r, docWords(id)), vector(r, cs), src, ts)
      }
      val ups = Array.fill(upd) {
        val id = touched.next().toLong
        IngestRow(id, "upd", text(r, docWords(id)), vector(r, cs), "src0", ts)
      }
      val dels = Array.fill(del)(IngestRow(touched.next().toLong, "del", "", new Array[Float](0), "src0", ts))
      ins ++ ups ++ dels
    }
  }

  /** SHA-256 over a canonical encoding of the given records. */
  final class Hasher {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Hasher = { buf.clear(); buf.putLong(x); md.update(buf.array()); this }
    def str(s: String): Hasher = {
      val b = s.getBytes("UTF-8"); long(b.length.toLong); md.update(b); this
    }
    def floats(v: Array[Float]): Hasher = {
      long(v.length.toLong); v.foreach(f => long(java.lang.Float.floatToIntBits(f).toLong)); this
    }
    def docs(ds: Array[Doc]): Hasher = { ds.foreach(d => long(d.id).str(d.text)); this }
    def vecs(vs: Array[Vec]): Hasher = { vs.foreach(v => long(v.id).floats(v.vec)); this }
    def rows(rs: Array[IngestRow]): Hasher = {
      rs.foreach(x => long(x.id).str(x.kind).str(x.text).floats(x.vec).str(x.source).long(x.tsSec))
      this
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
