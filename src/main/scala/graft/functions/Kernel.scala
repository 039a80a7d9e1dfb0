package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared integer constants of the deterministic feature-hashing projector
  * backend (the "model"). Every constant is mirrored verbatim into the
  * DuckDB oracle SQL built by [[graft.oracle.OracleSql]], so the two
  * engines perform bit-identical arithmetic.
  *
  * Design rule for cross-engine reproducibility: per-document reductions
  * are either (a) integer sums — exact and order-independent — or
  * (b) left-folds over arrays, which Spark's `aggregate` HOF and DuckDB's
  * `list_reduce` both evaluate in element order. No transcendental
  * functions (log/exp/sin) appear anywhere on a checked path; only
  * +,-,*,/,%,sqrt which are IEEE-754 correctly rounded in both engines.
  */
object K {
  /** Hash modulus (prime). All token/projection hashes live in [0, M). */
  val M: Long = 1000003L
  /** Projector constants: token vec dim d of token t is ((t*A + d*B + C) % M). */
  val A: Long = 1315423911L
  val B: Long = 2654435761L
  val C: Long = 104729L
  /** Sparse-scorer constants (distinct stream from the dense projector). */
  val A2: Long = 2246822519L
  val B2: Long = 3266489917L
  val C2: Long = 668265263L
  /** Transformer-contract backend constants (a third hash stream,
    * distinct from the dense projector and the sparse scorer). M3 is
    * small so attention-score products stay far inside int64. */
  val M3: Long = 10007L
  val A3: Long = 2869860233L
  val B3: Long = 1540483477L
  val C3: Long = 97003L
  /** Default dense embedding dimensionality (matches the smallest registry
    * models' 384-d role; sized to the testdata embeddings table). */
  val Dim: Int = 64
  /** Default truncation cap — reference default max sequence length 512
    * (/root/reference/src/text_embedding/mod.rs:6). */
  val MaxLength: Int = 512
  /** Epsilon of L2 normalization (/root/reference/src/common.rs:163). */
  val Eps: Double = 1e-12
  /** MinHash universe prime (< 2^32). */
  val P32: Long = 4294967291L
}

/** Column-level kernel: tokenization, hashing, vector math.
  *
  * All functions are pure `org.apache.spark.sql.Column` expressions built
  * from codegen'd built-ins and higher-order functions — no UDFs — so
  * Catalyst can fold constants, prune columns, and keep the whole pipeline
  * inside WholeStageCodegen. Semantics follow the reference:
  *  - dot: /root/reference/src/similarity.rs:14-16
  *  - cosine (zero-vector guard → 0.0): src/similarity.rs:19-26
  *  - l2normalize (eps 1e-12): src/common.rs:159-165
  *  - truncation min(user,max): src/common.rs:92-97
  */
object Kernel {
  import K._

  /** text → array<string> of its normalized words: lowercase, every char
    * whose lowercase is outside [a-z0-9] separates, no empty words. The
    * analogue of the reference's tokenizer front (S7/P1): one native pass
    * over [[WordStream]] ([[Tokens]]), the word stream of every tokenizer
    * family; equal to [[tokensHof]] (spec-asserted). */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      Tokens(org.apache.spark.sql.graftbridge.Bridge.expression(text)))

  /** Reference SQL formulation of [[tokens]] — lowercase, strip
    * non-alphanumerics, split on whitespace, drop empties; the chain the
    * DuckDB oracle mirrors (`OracleSql.toks`), kept for the `*Hof`
    * cross-validation variants. */
  def tokensHof(text: Column): Column =
    filter(
      split(regexp_replace(lower(text), "[^a-z0-9 ]", " "), "\\s+"),
      t => t =!= "")

  /** Deterministic polynomial rolling hash of a token string into [0, M).
    * fold(acc, c) = (acc*31 + codepoint(c)) % M over the token's chars. */
  def polyHash(tok: Column): Column =
    aggregate(
      transform(split(tok, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => (acc * lit(31L) + c) % lit(M))

  /** text → array<bigint> of token ids, truncated at maxLen (P1+P3).
    * Fast path: the native [[TokenIds]] expression (identical semantics
    * to [[tokenIdsHof]], asserted by spec). */
  def tokenIds(text: Column, maxLen: Int = MaxLength): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      TokenIds(org.apache.spark.sql.graftbridge.Bridge.expression(text), maxLen))

  /** Reference HOF formulation of [[tokenIds]] — the expression the DuckDB
    * oracle mirrors token for token; kept for cross-validation. */
  def tokenIdsHof(text: Column, maxLen: Int = MaxLength): Column =
    transform(slice(tokensHof(text), 1, maxLen), t => polyHash(t))

  import org.apache.spark.sql.graftbridge.Bridge

  /** Pseudo-random projector cell: dim `d` of token id `t`, an integer in
    * [0, M). Kept in the integer domain so pooled sums are exact. */
  def cell(t: Column, d: Column): Column =
    (t * lit(A) + d * lit(B) + lit(C)) % lit(M)

  /** Integer-pooled projection: for each dim d, the exact Σ_tokens cell(t,d).
    * Returns array<bigint> of length `dim`. Order-independent by
    * construction (integer addition commutes) — this is what makes the
    * pipeline invariant under repartitioning AND bit-identical to the
    * DuckDB oracle (A2 mean pooling, src/pooling.rs:34-76, done exactly).
    *
    * Shaped as ONE fold over the token array accumulating all dims at once
    * (not a per-dim loop referencing `tids` inside a lambda): Catalyst
    * inlines projected columns into lambda bodies, and a dims-outer loop
    * would re-evaluate the whole tokenizer chain once per dim — measured
    * 64× slowdown. The tokens-outer fold evaluates `tids` exactly once. */
  def pooledSums(tids: Column, dim: Int = Dim): Column =
    Bridge.column(PooledSums(Bridge.expression(tids), dim))

  /** Reference HOF formulation of [[pooledSums]] (same exact integer sums;
    * kept for cross-validation against the native expression). */
  def pooledSumsHof(tids: Column, dim: Int = Dim): Column =
    aggregate(
      tids,
      array_repeat(lit(0L), dim),
      (acc, t) => zip_with(acc, sequence(lit(0L), lit(dim - 1L)), (a, d) => a + cell(t, d)))

  /** Scale integer sums to mean token-vector values in (-1, 1):
    * v_d = (sums_d / n / M) * 2 - 1  (each op double, mirrored in SQL). */
  def meanScaled(sums: Column, n: Column): Column =
    transform(sums, s =>
      (s.cast("double") / n.cast("double") / lit(M.toDouble)) * lit(2.0) - lit(1.0))

  /** Σ v_i² left-fold (order fixed by the array). */
  def sumSquares(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => acc + x * x)

  /** L2 norm. */
  def l2norm(v: Column): Column = sqrt(sumSquares(v))

  /** v / (‖v‖ + 1e-12), reference src/common.rs:159-165.
    *
    * Shaped as zip_with(v, array_repeat(norm, size(v))) rather than
    * transform(v, x => x / norm): an expression referenced inside a
    * lambda body is re-evaluated per element (the norm fold would run
    * size(v) times), while arguments evaluate once per row. */
  def l2normalize(v: Column): Column =
    zip_with(v, array_repeat(l2norm(v) + lit(Eps), size(v)), (x, n) => x / n)

  /** Dot product as a left-fold over zipped arrays (src/similarity.rs:14-16).
    * Inputs are cast to double element-wise before multiplying so float
    * columns widen identically in Spark and DuckDB. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Cosine similarity with the reference's zero-vector guard: returns 0.0
    * if either norm is 0 (src/similarity.rs:19-26). Native expression —
    * bit-identical to [[cosineHof]] (spec-asserted). */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))

  /** ‖v‖ as [[cosine]]'s per-vector norm fold (native). */
  def vecNorm(v: Column): Column =
    Bridge.column(VecNorm(Bridge.expression(v)))

  /** [[cosine]] with PRE-computed per-side norms — bit-identical
    * (spec-pinned: same dot fold, same `dot / (normA · normB)`
    * division, same zero guard) but an n×m pair loop computes each
    * side's norm once instead of three folds per pair. `na` must be
    * the left vector's [[vecNorm]], `nb` the right's. */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    // null guard FIRST: `NULL OR TRUE` is TRUE in SQL, so a null norm
    // beside a zero norm would otherwise take the zero arm and turn the
    // fused kernel's NULL into a 0.0 score
    org.apache.spark.sql.functions.when(
      na.isNull || nb.isNull,
      org.apache.spark.sql.functions.lit(null).cast("double"))
      .when(
        na === org.apache.spark.sql.functions.lit(0.0) ||
          nb === org.apache.spark.sql.functions.lit(0.0),
        org.apache.spark.sql.functions.lit(0.0))
      .otherwise(
        Bridge.column(DotProd(Bridge.expression(a), Bridge.expression(b))) / (na * nb))

  /** Reference HOF formulation of [[cosine]] — what the DuckDB oracle
    * mirrors; kept for cross-validation. */
  def cosineHof(a: Column, b: Column): Column = {
    val na = l2norm(transform(a, x => x.cast("double")))
    val nb = l2norm(transform(b, x => x.cast("double")))
    when(na === lit(0.0) || nb === lit(0.0), lit(0.0))
      .otherwise(dot(a, b) / (na * nb))
  }
}
