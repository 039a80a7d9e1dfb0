package graft.model

import java.nio.{ByteBuffer, ByteOrder}

/** S9: the safetensors weight container, parsed offline — no network,
  * no mmap, just bytes. The format (public HF spec): an 8-byte
  * little-endian u64 header length, a JSON header mapping tensor name →
  * {dtype, shape, data_offsets} (offsets relative to the byte region
  * after the header; optional "__metadata__" string map), then the raw
  * little-endian tensor data.
  *
  * Mirrors the reference's two consumption surfaces:
  *  - `SafeTensors::deserialize` + per-tensor `data()` chunks to f32 LE
  *    (/root/reference/src/sparse_text_embedding/bgem3_weights.rs:17-36)
  *    — here [[parseHeader]] / [[tensorF32]];
  *  - the sharded-checkpoint file naming probe
  *    `model-{i:05}-of-{total:05}.safetensors`
  *    (/root/reference/src/models/qwen3.rs:1033-1045,
  *    nomic_v2_moe.rs:704-722) — here [[shardFileNames]].
  *
  * [[write]] exists so specs (and users exporting deterministic banks)
  * can round-trip without any external fixture. */
object Safetensors {

  final case class TensorInfo(dtype: String, shape: Seq[Int], begin: Long, end: Long) {
    def byteLen: Long = end - begin
    def numElements: Long = shape.foldLeft(1L)(_ * _)
  }

  final case class Header(
      tensors: Map[String, TensorInfo],
      metadata: Map[String, String],
      dataStart: Long,
      dataLen: Long) {
    def tensor(name: String): TensorInfo =
      tensors.getOrElse(name,
        throw new NoSuchElementException(s"Missing '$name' tensor"))
  }

  private val DtypeBytes = Map("F64" -> 8L, "F32" -> 4L, "F16" -> 2L, "BF16" -> 2L,
    "I64" -> 8L, "I32" -> 4L, "I16" -> 2L, "I8" -> 1L, "U8" -> 1L, "BOOL" -> 1L)

  /** Deserialize the header and validate every tensor's offsets against
    * the data region (a malformed file must fail at load, not at first
    * tensor read). */
  def parseHeader(bytes: Array[Byte]): Header = {
    require(bytes.length >= 8, s"truncated safetensors: ${bytes.length} bytes")
    val headerLen = ByteBuffer.wrap(bytes, 0, 8).order(ByteOrder.LITTLE_ENDIAN).getLong
    // subtraction, not 8 + headerLen: a crafted headerLen near
    // Long.MaxValue would overflow the addition past the guard
    require(headerLen > 0 && headerLen <= bytes.length - 8L,
      s"header length $headerLen exceeds file of ${bytes.length} bytes")
    val json = new String(bytes, 8, headerLen.toInt, java.nio.charset.StandardCharsets.UTF_8)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parsed = JsonMethods.parse(json)
    val dataStart = 8L + headerLen
    val dataLen = bytes.length - dataStart
    var meta = Map.empty[String, String]
    val tensors = parsed match {
      case JObject(fields) => fields.flatMap {
        case ("__metadata__", JObject(mf)) =>
          meta = mf.collect { case (k, JString(v)) => k -> v }.toMap
          None
        case (name, JObject(tf)) =>
          val m = tf.toMap
          val dtype = m.get("dtype") match {
            case Some(JString(s)) => s
            case _ => throw new IllegalArgumentException(s"tensor '$name': missing dtype")
          }
          val shape = m.get("shape") match {
            case Some(JArray(xs)) => xs.map {
              case JInt(i) => i.toInt
              case v => throw new IllegalArgumentException(s"tensor '$name': bad shape $v")
            }
            case _ => throw new IllegalArgumentException(s"tensor '$name': missing shape")
          }
          val (b, e) = m.get("data_offsets") match {
            case Some(JArray(Seq(JInt(b0), JInt(e0)))) => (b0.toLong, e0.toLong)
            case _ => throw new IllegalArgumentException(s"tensor '$name': missing data_offsets")
          }
          require(b >= 0 && e >= b && e <= dataLen,
            s"tensor '$name': offsets [$b,$e) outside data region of $dataLen bytes")
          val info = TensorInfo(dtype, shape, b, e)
          DtypeBytes.get(dtype).foreach { w =>
            require(info.numElements * w == info.byteLen,
              s"tensor '$name': shape ${shape.mkString("x")} x $w bytes != ${info.byteLen}")
          }
          Some(name -> info)
        case (name, v) =>
          throw new IllegalArgumentException(s"tensor '$name': expected object, got $v")
      }
      case v => throw new IllegalArgumentException(s"safetensors header must be an object, got $v")
    }
    // the upstream spec requires distinct names and non-overlapping data
    // ranges — a file violating either must fail at load, not read the
    // wrong bytes later (toMap alone would silently keep the last dup)
    val names = tensors.map(_._1)
    require(names.distinct.length == names.length,
      s"duplicate tensor names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    val byBegin = tensors.map(_._2).sortBy(_.begin)
    byBegin.sliding(2).foreach {
      case Seq(a, b) => require(b.begin >= a.end,
        s"overlapping tensor ranges: [${a.begin},${a.end}) and [${b.begin},${b.end})")
      case _ =>
    }
    Header(tensors.toMap, meta, dataStart, dataLen)
  }

  /** Raw bytes of one tensor. */
  def tensorBytes(bytes: Array[Byte], h: Header, name: String): Array[Byte] = {
    val t = h.tensor(name)
    java.util.Arrays.copyOfRange(bytes,
      (h.dataStart + t.begin).toInt, (h.dataStart + t.end).toInt)
  }

  /** F32 tensor as floats — little-endian chunks of 4, exactly the
    * reference's `chunks_exact(4) → f32::from_le_bytes`. */
  def tensorF32(bytes: Array[Byte], h: Header, name: String): Array[Float] = {
    val t = h.tensor(name)
    require(t.dtype == "F32", s"tensor '$name' is ${t.dtype}, expected F32")
    val raw = tensorBytes(bytes, h, name)
    val out = new Array[Float](raw.length / 4)
    ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().get(out)
    out
  }

  /** Serialize F32 tensors (contiguous offsets, names in given order) —
    * the spec round-trip source and the export surface for
    * deterministic banks. */
  def write(tensors: Seq[(String, Seq[Int], Array[Float])],
            metadata: Map[String, String] = Map.empty): Array[Byte] = {
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
    var off = 0L
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    if (metadata.nonEmpty)
      entries += "\"__metadata__\":{" +
        metadata.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",") + "}"
    tensors.foreach { case (name, shape, data) =>
      require(shape.product == data.length,
        s"tensor '$name': shape ${shape.mkString("x")} != ${data.length} elements")
      val end = off + 4L * data.length
      entries += s""""${esc(name)}":{"dtype":"F32","shape":[${shape.mkString(",")}],"data_offsets":[$off,$end]}"""
      off = end
    }
    val json = entries.mkString("{", ",", "}").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val total = 8L + json.length + off
    require(total <= Int.MaxValue,
      s"safetensors write of $total bytes exceeds the 2 GiB single-buffer limit")
    val out = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    out.putLong(json.length.toLong)
    out.put(json)
    out.order(ByteOrder.LITTLE_ENDIAN)
    tensors.foreach { case (_, _, data) =>
      data.foreach(f => out.putFloat(f))
    }
    out.array()
  }

  /** The sharded-checkpoint naming convention the reference probes when
    * `model.safetensors` is absent (qwen3.rs:1033-1045). */
  def shardFileNames(total: Int): Seq[String] =
    (1 to total).map(i => f"model-$i%05d-of-$total%05d.safetensors")

  /** The reference's single-or-sharded weight-file resolution
    * (qwen3.rs:1033-1056): `model.safetensors` wins outright; otherwise
    * probe `model-{i:05}-of-{total:05}` for i = 1.. against every total
    * in 1..maxShards, keep the first hit per i, and stop at the first
    * i with no hit. Errors (like the reference) when nothing resolves. */
  def resolveWeightFiles(available: Set[String], maxShards: Int = 20): Seq[String] = {
    if (available.contains("model.safetensors")) Seq("model.safetensors")
    else {
      val files = Iterator.from(1)
        .map { i =>
          (1 to maxShards).iterator
            .map(total => f"model-$i%05d-of-$total%05d.safetensors")
            .find(available.contains)
        }
        .takeWhile(_.isDefined)
        .flatten
        .toSeq
      require(files.nonEmpty,
        "Could not locate model.safetensors or sharded weight files")
      files
    }
  }

  /** S10: a multi-shard checkpoint view — every shard parsed and
    * validated up front, tensors resolved by name across shards (a
    * tensor lives wholly inside one shard; the set of names must be
    * globally distinct, like candle's `from_mmaped_safetensors` merge,
    * qwen3.rs:1057). */
  final case class ShardedWeights(shards: Seq[(Array[Byte], Header)]) {
    private val byName: Map[String, Int] = {
      val pairs = shards.zipWithIndex.flatMap { case ((_, h), i) =>
        h.tensors.keys.map(_ -> i)
      }
      val names = pairs.map(_._1)
      require(names.distinct.length == names.length,
        s"tensor defined in multiple shards: ${names.diff(names.distinct).distinct.mkString(", ")}")
      pairs.toMap
    }
    def tensorNames: Set[String] = byName.keySet
    def tensorF32(name: String): Array[Float] = {
      val i = byName.getOrElse(name,
        throw new NoSuchElementException(s"Missing '$name' tensor in ${shards.length} shard(s)"))
      val (bytes, h) = shards(i)
      Safetensors.tensorF32(bytes, h, name)
    }
    /** F32 tensor re-quantized onto a bank's integer grid:
      * `floor(f · scale + 0.5)` recovers the k a bank wrote as
      * k / scale exactly. */
    def quantized(name: String, scale: Long): Array[Long] =
      tensorF32(name).map(f => math.floor(f.toDouble * scale + 0.5).toLong)
  }

  def loadShards(files: Seq[Array[Byte]]): ShardedWeights =
    ShardedWeights(files.map(b => (b, parseHeader(b))))

  /** [[resolveWeightFiles]] over a named file set, then [[loadShards]]:
    * the load path every weight-fixture bank shares. */
  def resolved(files: Map[String, Array[Byte]]): ShardedWeights =
    loadShards(resolveWeightFiles(files.keySet).map(files))

  /** The BGE-M3 sparse-linear consumption shape
    * (bgem3_weights.rs:15-38): a flat `weight` F32 tensor plus a scalar
    * `bias` — token_weight = relu(hidden · weight + bias). */
  def loadSparseLinear(bytes: Array[Byte]): (Array[Float], Float) = {
    val h = parseHeader(bytes)
    val weight = tensorF32(bytes, h, "weight")
    val bias = tensorF32(bytes, h, "bias")
    require(bias.length >= 1, "bias tensor is empty")
    (weight, bias(0))
  }
}
