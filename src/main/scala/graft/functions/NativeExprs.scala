package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.util.sketch.BloomFilter
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot sketching loops.
  *
  * Catalyst's higher-order functions (`transform`/`aggregate`) are
  * CodegenFallback — evaluated by interpreting the expression tree per
  * element. A 128-hash MinHash over a few hundred shingles costs ~50k
  * interpreted node evaluations per row, which measured ~500x slower than a
  * compiled loop. These expressions keep the declarative plan (they are
  * ordinary expressions, pushdown/pruning still apply) but run tight JVM
  * loops in eval. CodegenFallback here only costs a virtual call per row —
  * the loop body itself is compiled Scala.
  */
object NativeExprs {
  /** Mersenne prime 2^31-1: modulus of the affine MinHash family. */
  val P: Long = 2147483647L

  /** Seeded affine coefficients, identical on every JVM (java.util.Random's
    * algorithm is specified). */
  def coeffs(numHashes: Int): (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(42L)
    def draw(): Long = { val v = rnd.nextLong() % P; if (v < 0) v + P else v }
    val a = Array.fill(numHashes)(draw() | 1L)
    val b = Array.fill(numHashes)(draw())
    (a, b)
  }

  /** xxhash64 of a UTF8String with Spark's builtin seed (42), reduced mod P. */
  private[functions] def shingleHash(s: UTF8String): Long = {
    val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    val m = h % P
    if (m < 0) m + P else m
  }

  def minHashSig(shingles: Column, numHashes: Int): Column =
    GraftShims.toColumn(MinHashSigExpr(GraftShims.toExpression(shingles), numHashes))

  def simHash(tokens: Column, md5Hash: Boolean = false): Column =
    GraftShims.toColumn(SimHashExpr(GraftShims.toExpression(tokens), md5Hash))

  /** Distinct word n-grams of `tokens`, in first-occurrence order. */
  def shingles(tokens: Column, n: Int): Column =
    GraftShims.toColumn(ShinglesExpr(GraftShims.toExpression(tokens), n, distinct = true))

  /** Every word n-gram of `tokens`, in order, with multiplicity. */
  def ngrams(tokens: Column, n: Int): Column =
    GraftShims.toColumn(ShinglesExpr(GraftShims.toExpression(tokens), n, distinct = false))

  def cosineSim(a: Column, b: Column): Column =
    GraftShims.toColumn(CosineSimExpr(GraftShims.toExpression(a), GraftShims.toExpression(b)))

  def nfcNormalize(s: Column): Column =
    GraftShims.toColumn(NfcNormalizeExpr(GraftShims.toExpression(s)))

  def winnowFingerprints(tokens: Column, k: Int, w: Int,
                         md5Hash: Boolean = false): Column =
    GraftShims.toColumn(WinnowExpr(GraftShims.toExpression(tokens), k, w, md5Hash))

  def hyperplaneSig(vec: Column, planes: Seq[Seq[Double]]): Column =
    GraftShims.toColumn(HyperplaneSigExpr(GraftShims.toExpression(vec), planes))

  def nearestCells(vec: Column, centroids: Seq[(Int, Seq[Double])], n: Int): Column =
    GraftShims.toColumn(NearestCellsExpr(GraftShims.toExpression(vec), centroids, n))

  def bloomMightContain(s: Column, bfBc: Broadcast[BloomFilter]): Column =
    GraftShims.toColumn(BloomMightContainExpr(GraftShims.toExpression(s), bfBc))

  def sigProbes(sig: Column, maxHamming: Int): Column =
    GraftShims.toColumn(SigProbesExpr(GraftShims.toExpression(sig), maxHamming))

  def queryTf(tokens: Column, vocab: Seq[String]): Column =
    GraftShims.toColumn(QueryTfExpr(GraftShims.toExpression(tokens), vocab))

  def nearestCellsBc(vec: Column, centsBc: Broadcast[Array[(Int, Array[Double])]],
                     n: Int): Column =
    GraftShims.toColumn(BcNearestCellsExpr(GraftShims.toExpression(vec), centsBc, n))

  def bpeMergeOnce(symbols: Column, left: String, right: String): Column =
    GraftShims.toColumn(BpeMergeExpr(GraftShims.toExpression(symbols), left, right))

  def bpeSegment(tokens: Column, merges: Seq[(String, String)], endOfWord: String): Column =
    GraftShims.toColumn(BpeSegmentExpr(GraftShims.toExpression(tokens), merges, endOfWord))

  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    GraftShims.toColumn(PqEncodeExpr(GraftShims.toExpression(vec), codebooks))

  def pqLut(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    GraftShims.toColumn(PqLutExpr(GraftShims.toExpression(vec), codebooks))

  def adcSum(table: Column, codes: Column): Column =
    GraftShims.toColumn(AdcSumExpr(GraftShims.toExpression(table), GraftShims.toExpression(codes)))

  def xxhash64Array(arr: Column): Column =
    GraftShims.toColumn(ArrayXxhash64Expr(GraftShims.toExpression(arr)))

  def cdcChunks(tokens: Column, k: Int, maskBits: Int, md5Hash: Boolean = false): Column =
    GraftShims.toColumn(CdcChunksExpr(GraftShims.toExpression(tokens), k, maskBits, md5Hash))
}

/** Shared best-n-cells-by-cosine kernel of [[NearestCellsExpr]] (plan-literal
  * centroids) and [[BcNearestCellsExpr]] (broadcast-variable centroids) —
  * identical arithmetic and (-sim, cellId) tie policy, so the two carriers
  * are interchangeable result-wise and differ only in how the centroid set
  * reaches the executor. */
private[functions] object NearestCellsEval {
  def apply(input: ArrayData, cellIds: Array[Int], cellVecs: Array[Array[Double]],
            cellNorms: Array[Double], n: Int): GenericArrayData = {
    val len = input.numElements()
    val m = cellVecs.length
    val vec = new Array[Double](len)
    var nv = 0.0
    var i = 0
    while (i < len) { val xi = input.getDouble(i); vec(i) = xi; nv += xi * xi; i += 1 }
    val vnorm = math.sqrt(nv)
    val sims = new Array[Double](m)
    var p = 0
    while (p < m) {
      val c = cellVecs(p)
      var dot = 0.0
      i = 0
      val d = math.min(len, c.length)
      while (i < d) { dot += vec(i) * c(i); i += 1 }
      sims(p) = dot / (vnorm * cellNorms(p))
      p += 1
    }
    // best-first selection of n cells by (-sim, cellId) ascending: a
    // bounded insertion scan — O(m*n) primitive compares, no per-row
    // tuple/boxing allocations (a full sortBy costs m log m TUPLE
    // allocations per row, which dominated large-index assignment).
    // NaN sims (zero-norm vectors) order LAST, as in the sort they replace.
    val take = math.min(math.max(n, 0), m)
    if (take == 0) return new GenericArrayData(Array.empty[Any])
    val best = new Array[Int](take) // cell INDICES, best-first
    var filled = 0
    def beats(a: Int, b: Int): Boolean = {
      val sa = sims(a); val sb = sims(b)
      if (sa > sb || (sb.isNaN && !sa.isNaN)) true
      else if (sa == sb) cellIds(a) < cellIds(b)
      else false
    }
    p = 0
    while (p < m) {
      if (filled < take || beats(p, best(take - 1))) {
        var pos = if (filled < take) filled else take - 1
        while (pos > 0 && beats(p, best(pos - 1))) { best(pos) = best(pos - 1); pos -= 1 }
        best(pos) = p
        if (filled < take) filled += 1
      }
      p += 1
    }
    new GenericArrayData(best.take(filled).map(p => cellIds(p): Any))
  }
}

/** Codegen'd membership probe of a string column against a broadcast Bloom
  * filter — the map-side shuffle-pruning predicate for decontamination-style
  * small-set-vs-huge-stream semi-joins. Unlike a Scala UDF (which forces a
  * UTF8String -> java.lang.String conversion per row and an opaque closure
  * call inside the hottest projection of the plan), this stays inside
  * whole-stage codegen: the generated code fetches the broadcast value once
  * per partition-task and probes the filter with the column's raw UTF-8
  * bytes — the same bytes `BloomFilter.putString` hashes on the build side,
  * so probe and build agree with zero copies or charset round-trips.
  */
case class BloomMightContainExpr(child: Expression, bfBc: Broadcast[BloomFilter])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes() = {
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain requires string, got $other")
    }
  }

  @transient private lazy val bf: BloomFilter = bfBc.value

  override protected def nullSafeEval(input: Any): Any =
    bf.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomBc", bfBc, classOf[Broadcast[_]].getName)
    // One filter deref per task, hoisted out of the per-row loop.
    val bfVar = ctx.addMutableState(classOf[BloomFilter].getName, "bloomFilter",
      v => s"$v = (${classOf[BloomFilter].getName}) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $bfVar.mightContainBinary($c.getBytes());")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpr =
    copy(child = newChild)
  override def prettyName: String = "bloom_might_contain"
}

/** Per-element Spark `xxhash64` (seed 42 — bit-identical to the builtin, so
  * these values can join against `xxhash64(string)` keys) of an
  * array<string>, DEDUPLICATED and sorted: the 8-byte carrier of a shingle
  * SET for hashed set-similarity verification. |A∩B| over two such arrays
  * equals the string-set intersection size modulo within-document hash
  * collisions (~s²/2⁶⁴ per doc). A `transform(arr, xxhash64)` lambda would
  * evaluate interpreted (HOFs are CodegenFallback per element); this runs
  * one compiled loop per row. */
case class ArrayXxhash64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"xxhash64_array requires array<string>, got $other")
    }
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val hs = new Array[Long](n)
    var j = 0
    var m = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val s = arr.getUTF8String(j)
        hs(m) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        m += 1
      }
      j += 1
    }
    java.util.Arrays.sort(hs, 0, m)
    // drop duplicates (within-doc collisions or duplicate input elements)
    var w = 0
    var r = 0
    while (r < m) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayXxhash64Expr =
    copy(child = newChild)
  override def prettyName: String = "xxhash64_array"
}

/** MinHash signature of an array<string> shingle set: for each of the
  * `numHashes` seeded affine permutations h -> (a*h + b) mod P, the minimum
  * over the shingles' xxhash64 values. Output: array<bigint>(numHashes).
  * Equivalent to the declarative transform/aggregate formulation, ~500x
  * faster (compiled loop vs interpreted HOF tree).
  */
case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  import NativeExprs._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires array<string>, got $other")
    }
  }

  @transient private lazy val (a, b) = coeffs(numHashes)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = shingleHash(arr.getUTF8String(j))
        var i = 0
        while (i < numHashes) {
          val v = (a(i) * h + b(i)) % P
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** Frequency-weighted 64-bit SimHash (Charikar) of an array<string> token
  * list, packed into one long: bit k is the sign of the sum over ALL token
  * occurrences of +/-1 from bit k of the token's 64-bit hash. Weighting by
  * term frequency is essential on small-vocabulary corpora — an unweighted
  * token-SET simhash collides for most documents (they share the whole
  * vocabulary) and candidate generation degenerates to all-pairs.
  *
  * Token hash is pluggable: xxhash64 (default — fastest, the production
  * choice) or the top 8 bytes of MD5 (`md5Hash = true`), which any SQL
  * engine can reproduce (`('0x' || substr(md5(t),1,16))::UBIGINT` in
  * DuckDB) — the cross-engine-verifiable variant the correctness oracle
  * runs. Both are uniform 64-bit families; the simhash guarantees are
  * hash-agnostic.
  */
/** First 8 MD5 bytes of a string, big-endian — the exact value DuckDB
  * parses from the first 16 hex chars of md5(t)
  * (`('0x' || substr(md5(t),1,16))::UBIGINT`). THE hash-convention-critical
  * helper every cross-engine-oracled md5 carrier shares (simhash,
  * winnowing): one definition, so an oracle-side convention change can
  * never break one expression while the other still passes. */
private[functions] object Md5Low64 {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue() = java.security.MessageDigest.getInstance("MD5")
  }
  def apply(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val bytes = d.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (bytes(i) & 0xffL); i += 1 }
    h
  }
}

case class SimHashExpr(child: Expression, md5Hash: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash requires array<string>, got $other")
    }
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val s = arr.getUTF8String(j)
        val h =
          if (md5Hash) Md5Low64(s)
          else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var k = 0
        while (k < 64) {
          if (((h >>> k) & 1L) == 1L) counts(k) += 1 else counts(k) -= 1
          k += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) { if (counts(k) > 0) sig |= (1L << k); k += 1 }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
  override def prettyName: String = "simhash"
}

/** Word n-grams of an array<string> token list: each gram is n
  * consecutive tokens joined by one space (the bytes of
  * `concat_ws(' ', ...)`, a null token counting as ""). With `distinct`
  * the grams are deduplicated in first-occurrence order (shingles),
  * otherwise every gram is kept in order with multiplicity (ngrams).
  * Fewer than n tokens -> empty array. The one word n-gram kernel: a
  * transform/slice/zip_with formulation is interpreted per gram, this is
  * one compiled pass.
  */
case class ShinglesExpr(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got $other")
    }
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      val t = arr.getUTF8String(i)
      toks(i) = if (t == null) UTF8String.EMPTY_UTF8 else t
      i += 1
    }
    val sep = UTF8String.fromString(" ")
    val window = new Array[UTF8String](n)
    val grams = new Array[AnyRef](m - n + 1)
    i = 0
    while (i < grams.length) {
      System.arraycopy(toks, i, window, 0, n)
      grams(i) = UTF8String.concatWs(sep, window: _*)
      i += 1
    }
    if (!distinct) new GenericArrayData(grams)
    else {
      val seen = new java.util.LinkedHashSet[AnyRef](grams.length * 2)
      grams.foreach(seen.add)
      new GenericArrayData(seen.toArray)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
  override def prettyName: String = if (distinct) "shingles" else "ngrams"
}

/** Unicode NFC normalization of a string — canonical composition so that
  * visually-identical text (e.g. combining-accent vs precomposed forms)
  * compares and hashes identically. Essential before exact/near dedup on
  * crawled corpora; Spark has no built-in normalizer.
  */
case class NfcNormalizeExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def checkInputDataTypes() = {
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nfc_normalize requires string, got $other")
    }
  }

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    UTF8String.fromString(java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): polynomial
  * ROLLING hash over token k-grams computed in O(n) (each step adds the next
  * token's hash and removes the oldest via a precomputed base^(k-1) factor),
  * then the minimum hash of every window of w consecutive k-gram hashes
  * (rightmost-min rule), deduplicated. Guarantees any shared token run of
  * length >= k + w - 1 between two documents produces at least one shared
  * fingerprint — the standard near-copy detection sketch.
  * Output: sorted array<bigint> of selected fingerprints.
  *
  * Token hash is pluggable exactly as [[SimHashExpr]]'s: xxhash64
  * (default — the production choice) or the top 8 bytes of MD5
  * (`md5Hash = true`), which any SQL engine can reproduce — combined
  * with the small base (1000003 < 2^20), the whole rolling chain
  * `h = (h*B + t) mod 2^64` is replayable in DuckDB HUGEINT arithmetic,
  * so the md5 variant's fingerprint SETS are row-hash-oracled
  * (`winnow_fingerprint`), not just invariant-checked. Both are uniform
  * 64-bit families; the winnowing guarantees are hash-agnostic.
  */
case class WinnowExpr(child: Expression, k: Int, w: Int, md5Hash: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnow requires array<string>, got $other")
    }
  }

  private val Base = 1000003L
  @transient private lazy val basePowK1: Long = {
    var p = 1L; var i = 0
    while (i < k - 1) { p = p * Base; i += 1 } // wrapping 64-bit arithmetic
    p
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    // per-token hashes
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      th(i) = if (s == null) 0L
        else if (md5Hash) Md5Low64(s)
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    // rolling k-gram hashes: h_i = h_{i-1}*B - th(i-1)*B^k + th(i+k-1)
    val m = n - k + 1
    val kg = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + th(i); i += 1 }
    kg(0) = h
    i = 1
    while (i < m) {
      h = (h - th(i - 1) * basePowK1) * Base + th(i + k - 1)
      kg(i) = h
      i += 1
    }
    // winnow: min of each window of w hashes (rightmost on ties), dedup
    val sel = new java.util.TreeSet[java.lang.Long]()
    if (m <= w) {
      var best = 0
      i = 1
      while (i < m) { if (kg(i) <= kg(best)) best = i; i += 1 }
      sel.add(kg(best))
    } else {
      var start = 0
      while (start + w <= m) {
        var best = start
        i = start + 1
        while (i < start + w) { if (kg(i) <= kg(best)) best = i; i += 1 }
        sel.add(kg(best))
        start += 1
      }
    }
    val out = sel.toArray(new Array[java.lang.Long](0)).map(_.longValue: Any)
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
  override def prettyName: String = "winnow_fingerprints"
}

/** Content-defined chunking (the FastCDC/rsync discipline applied to token
  * streams): cut a token array into variable-length chunks at positions
  * where the rolling k-gram hash has its low `maskBits` bits zero —
  * boundaries are a function of LOCAL CONTENT ONLY, so an identical
  * passage produces identical interior chunks at ANY offset in any
  * document. This is the position-robust complement of fixed-grid span
  * cutting ([[graft.operators.Dedup.spanDedup]]'s documented miss class:
  * duplicates shifted off the span grid escape it; CDC chunks catch
  * them). Expected chunk length ≈ 2^maskBits tokens (geometric); a doc
  * shorter than k tokens is one chunk; a boundary on the final token
  * produces no empty trailing chunk. Chunks partition the token stream
  * losslessly: concatenation reproduces the input tokens in order.
  *
  * Rolling hash: the [[WinnowExpr]] chain — per-token xxhash64 (seed 42)
  * or MD5-top-8-bytes (`md5Hash = true`, the DuckDB-replayable oracle
  * variant), folded as h = h·1000003 + t in wrapping 64-bit arithmetic.
  * The boundary predicate reads only the low bits, which signed wrap
  * preserves, so the SQL replay needs no re-signing. */
case class CdcChunksExpr(child: Expression, k: Int, maskBits: Int, md5Hash: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"k must be >= 1, got $k")
  require(maskBits >= 1 && maskBits <= 30, s"maskBits must be in [1,30], got $maskBits")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cdc_chunks requires array<string>, got $other")
    }
  }

  private val Base = 1000003L
  @transient private lazy val basePowK1: Long = {
    var p = 1L; var i = 0
    while (i < k - 1) { p = p * Base; i += 1 }
    p
  }
  private val mask = (1L << maskBits) - 1

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val toks = new Array[String](n)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      toks(i) = s.toString
      th(i) = if (md5Hash) Md5Low64(s)
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    val chunks = new scala.collection.mutable.ArrayBuffer[Any](4)
    def emit(from: Int, until: Int): Unit = {
      val sb = new java.lang.StringBuilder()
      var j = from
      while (j < until) {
        if (j > from) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      chunks += UTF8String.fromString(sb.toString)
    }
    if (n < k) {
      if (n > 0) emit(0, n)
    } else {
      var h = 0L
      i = 0
      while (i < k) { h = h * Base + th(i); i += 1 }
      var start = 0
      var end = k - 1 // index of the token closing the current k-gram
      while (end < n) {
        // boundary AFTER `end` when the k-gram hash's low bits are zero;
        // never cut after the last token (no empty trailing chunk)
        if ((h & mask) == 0L && end < n - 1) {
          emit(start, end + 1)
          start = end + 1
        }
        if (end + 1 < n) h = (h - th(end - k + 1) * basePowK1) * Base + th(end + 1)
        end += 1
      }
      emit(start, n)
    }
    new GenericArrayData(chunks.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunksExpr =
    copy(child = newChild)
  override def prettyName: String = "cdc_chunks"
}

/** ADC table walk — the PQ SCORING kernel: Σ_j table[j][codes[j]], one
  * fused loop over the m codes of an index row. This runs once per
  * (index row × probing query), the hottest loop in the PQ/IVF-PQ
  * searchers, where the declarative formulation
  * (`aggregate(zip_with(table, codes, element_at...))`) is interpreted
  * per element — the same trap [[CosineSimExpr]]'s doc notes for the
  * cross-join cosine. Null semantics mirror the HOF shape it replaces:
  * mismatched table/codes lengths score null (dropped by the rankers'
  * degenerate-row policy), as does an out-of-range code (impossible from
  * `pq_encode`, defensive for hand-built tables). */
case class AdcSumExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes() = {
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"adc_sum requires (array<array<double>>, array<int>), got $other")
    }
  }

  override protected def nullSafeEval(t: Any, c: Any): Any = {
    val table = t.asInstanceOf[ArrayData]
    val codes = c.asInstanceOf[ArrayData]
    val m = codes.numElements()
    if (table.numElements() != m) return null
    var s = 0.0
    var j = 0
    while (j < m) {
      // null elements (the types admit containsNull) score null like the
      // HOF chain did — never an NPE, never a silent 0-index read
      if (table.isNullAt(j) || codes.isNullAt(j)) return null
      val row = table.getArray(j)
      val code = codes.getInt(j)
      if (code < 0 || code >= row.numElements() || row.isNullAt(code)) return null
      s += row.getDouble(code)
      j += 1
    }
    s
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcSumExpr =
    copy(left = l, right = r)
  override def prettyName: String = "adc_sum"
}

/** Cosine similarity of two array<double> vectors (null if either side is
  * null or a length mismatch). One fused pass: dot and both norms in a
  * single loop. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim requires (array<double>, array<double>), got $other")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Sign-bit LSH signature of an array<double> vector under fixed
  * hyperplanes, as a '0'/'1' string (the bucket key). */
case class HyperplaneSigExpr(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(DoubleType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_sig requires array<double>, got $other")
    }
  }

  @transient private lazy val planeArr: Array[Array[Double]] = planes.map(_.toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val sb = new java.lang.StringBuilder(planeArr.length)
    var p = 0
    while (p < planeArr.length) {
      val plane = planeArr(p)
      var dot = 0.0
      var i = 0
      val m = math.min(n, plane.length)
      while (i < m) { dot += v.getDouble(i) * plane(i); i += 1 }
      sb.append(if (dot >= 0) '1' else '0')
      p += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigExpr =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_sig"
}

/** Multiprobe expansion of an LSH bit-string signature: the signature plus
  * every neighbor within hamming distance `maxHamming` (1 or 2), as
  * array<string> — original first, then single flips in position order,
  * then double flips (i < j).
  *
  * The declarative formulation (one concat/substring expression per flip —
  * 1 + n + n*(n-1)/2 nested string-surgery terms for n planes) costs
  * Catalyst seconds of analysis + janino compilation PER QUERY RUN; this
  * expression is one opaque call evaluated only on the tiny broadcast query
  * side, so the plan keeps its shape and loses the compile bill. */
case class SigProbesExpr(child: Expression, maxHamming: Int)
    extends UnaryExpression with CodegenFallback {

  require(maxHamming >= 1 && maxHamming <= 2, "sig_probes supports maxHamming 1..2")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sig_probes requires string, got $other")
    }
  }

  override protected def nullSafeEval(input: Any): Any = {
    val sig = input.asInstanceOf[UTF8String].toString.toCharArray
    val n = sig.length
    def flip(c: Char): Char = if (c == '1') '0' else '1'
    val out = new scala.collection.mutable.ArrayBuffer[Any](1 + n + n * (n - 1) / 2)
    out += UTF8String.fromString(new String(sig))
    var i = 0
    while (i < n) {
      val a = sig.clone(); a(i) = flip(a(i))
      out += UTF8String.fromString(new String(a))
      i += 1
    }
    if (maxHamming >= 2) {
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val a = sig.clone(); a(i) = flip(a(i)); a(j) = flip(a(j))
          out += UTF8String.fromString(new String(a))
          j += 1
        }
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): SigProbesExpr =
    copy(child = newChild)
  override def prettyName: String = "sig_probes"
}

/** Top-n nearest IVF cells of an array<double> vector by cosine against a
  * fixed centroid table (ties to the lowest cell id), as array<int>.
  *
  * The declarative formulation (array_sort over a literal array of structs,
  * one typedLit vector per centroid) generates kilobytes of codegen per
  * centroid and seconds of janino compilation per stage; this expression
  * keeps the centroid matrix as plain JVM state and runs one fused loop —
  * same plan shape (a pure map-side projection), none of the compile cost. */
case class NearestCellsExpr(child: Expression, centroids: Seq[(Int, Seq[Double])], n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(DoubleType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_cells requires array<double>, got $other")
    }
  }

  @transient private lazy val cellIds: Array[Int] = centroids.map(_._1).toArray
  @transient private lazy val cellVecs: Array[Array[Double]] = centroids.map(_._2.toArray).toArray
  @transient private lazy val cellNorms: Array[Double] =
    cellVecs.map(c => math.sqrt(c.map(x => x * x).sum))

  override protected def nullSafeEval(input: Any): Any =
    NearestCellsEval(input.asInstanceOf[ArrayData], cellIds, cellVecs, cellNorms, n)

  override protected def withNewChildInternal(newChild: Expression): NearestCellsExpr =
    copy(child = newChild)
  override def prettyName: String = "nearest_cells"
}

/** [[NearestCellsExpr]] with the centroid set carried by a BROADCAST
  * VARIABLE instead of plan literals — the scale carrier past the ~4k-cell
  * plan-literal budget: the plan serializes only the broadcast handle, each
  * executor fetches the centroid array once, and analysis/codegen cost
  * stays flat no matter how many cells the index has. Same kernel, same
  * tie policy — results are identical to the literal carrier for the same
  * centroid set (spec-pinned). */
case class BcNearestCellsExpr(child: Expression,
    centsBc: Broadcast[Array[(Int, Array[Double])]], n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(DoubleType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_cells_bc requires array<double>, got $other")
    }
  }

  // One broadcast deref per task; norms derived once per JVM, not per row.
  @transient private lazy val cellIds: Array[Int] = centsBc.value.map(_._1)
  @transient private lazy val cellVecs: Array[Array[Double]] = centsBc.value.map(_._2)
  @transient private lazy val cellNorms: Array[Double] =
    cellVecs.map(c => math.sqrt(c.map(x => x * x).sum))

  override protected def nullSafeEval(input: Any): Any =
    NearestCellsEval(input.asInstanceOf[ArrayData], cellIds, cellVecs, cellNorms, n)

  override protected def withNewChildInternal(newChild: Expression): BcNearestCellsExpr =
    copy(child = newChild)
  override def prettyName: String = "nearest_cells_bc"
}

/** Per-document term frequencies restricted to a bounded query vocabulary —
  * the map-side postings primitive of [[graft.operators.Retrieval.bm25TopK]].
  * Returns `array<struct<term,tf>>` with one entry per vocabulary term the
  * document contains (vocabulary order), so `explode` of the result IS the
  * query-term hits table — no corpus-wide explode and no (doc, term)
  * aggregation shuffle are ever needed to obtain tf.
  *
  * One compiled pass per row: a shared hash map from vocabulary term to
  * counter slot, O(|tokens|) lookups — independent of vocabulary size,
  * where the inlined-InSet + explode + groupBy formulation it replaces paid
  * a corpus-wide Generate plus a (doc_id, dl, term) exchange. The
  * vocabulary lives in this expression instance (task-serialized once), not
  * unrolled into codegen literals, so plan/codegen size stays flat as the
  * vocabulary grows.
  */
case class QueryTfExpr(child: Expression, vocab: Seq[String])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("term", StringType, nullable = false),
      StructField("tf", IntegerType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"query_tf requires array<string>, got $other")
    }
  }

  @transient private lazy val vocabU: Array[UTF8String] =
    vocab.map(UTF8String.fromString).toArray
  // duplicate vocab entries keep their FIRST slot (second insert skipped),
  // so counts never split across slots even on unsanitized input
  @transient private lazy val slot: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](vocabU.length * 2)
    var i = 0
    while (i < vocabU.length) { m.putIfAbsent(vocabU(i), i); i += 1 }
    m
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](vocabU.length)
    var hit = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null) {
        val j = slot.get(t)
        if (j != null) {
          if (counts(j) == 0) hit += 1
          counts(j) += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](hit)
    var k = 0
    var j = 0
    while (j < vocabU.length) {
      if (counts(j) > 0 && slot.get(vocabU(j)) == j) {
        out(k) = org.apache.spark.sql.catalyst.InternalRow(vocabU(j), counts(j))
        k += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): QueryTfExpr =
    copy(child = newChild)
  override def prettyName: String = "query_tf"
}

/** Non-overlapping fixed-width token spans (space-joined) — the span grid
  * of [[graft.operators.Dedup.spanDedup]] exposed as a scalar expression so
  * SQL users can reproduce the span-level dedup building block
  * (`graft_spans`). Cut semantics match spanDedup exactly: ceil(m/n) spans,
  * the last one short; null tokens are skipped like concat_ws does.
  */
case class SpansExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "spanTokens must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"spans requires array<string>, got $other")
    }
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val nSpans = (m + n - 1) / n
    val out = new Array[Any](nSpans)
    var s = 0
    while (s < nSpans) {
      val sb = new java.lang.StringBuilder()
      var i = s * n
      val end = math.min((s + 1) * n, m)
      var first = true
      while (i < end) {
        val t = arr.getUTF8String(i)
        if (t != null) {
          if (!first) sb.append(' ')
          sb.append(t.toString)
          first = false
        }
        i += 1
      }
      out(s) = UTF8String.fromString(sb.toString)
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SpansExpr =
    copy(child = newChild)
  override def prettyName: String = "spans"
}

/** Best-n nearest cells by cosine against a PER-ROW centroid column
  * (`array<array<double>>`, cell id = position) — the SQL-surface variant
  * of [[NearestCellsExpr]] (`graft_nearest_cells`): SQL has no way to hand
  * a Scala centroid literal to the planner, so the centroid set arrives as
  * an ordinary (usually literal or scalar-subquery) column instead. Same
  * kernel and (-sim, cellId) tie policy as the library carriers; intended
  * for dimension-sized centroid sets — the set is re-read per row.
  */
case class NearestCellsDynExpr(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes() = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_cells_dyn requires (array<double>, array<array<double>>), got $other")
    }
  }

  override protected def nullSafeEval(vec: Any, cents: Any): Any = {
    val ca = cents.asInstanceOf[ArrayData]
    val m = ca.numElements()
    val cellIds = Array.tabulate(m)(identity)
    val cellVecs = Array.tabulate(m) { i =>
      if (ca.isNullAt(i)) Array.empty[Double] else ca.getArray(i).toDoubleArray()
    }
    val cellNorms = cellVecs.map(c => math.sqrt(c.map(x => x * x).sum))
    NearestCellsEval(vec.asInstanceOf[ArrayData], cellIds, cellVecs, cellNorms, n)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCellsDynExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "nearest_cells_dyn"
}

/** One BPE training merge applied to a symbol array: every non-overlapping
  * adjacent (left, right) occurrence becomes the concatenated symbol, in a
  * single left-to-right pass (the greedy order reference BPE trainers use).
  * Higher-order functions can't express an adjacent-merge fold without a
  * struct-typed accumulator interpreted per element; this is one compiled
  * scan per row of the vocabulary-sized word table.
  */
case class BpeMergeExpr(child: Expression, mergeLeft: String, mergeRight: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_merge requires array<string>, got $other")
    }
  }

  @transient private lazy val l = UTF8String.fromString(mergeLeft)
  @transient private lazy val r = UTF8String.fromString(mergeRight)
  @transient private lazy val lr = UTF8String.fromString(mergeLeft + mergeRight)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val out = new java.util.ArrayList[AnyRef](m)
    var i = 0
    while (i < m) {
      val cur = arr.getUTF8String(i)
      if (i + 1 < m && cur != null && l == cur && r == arr.getUTF8String(i + 1)) {
        out.add(lr)
        i += 2
      } else {
        out.add(cur)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeExpr =
    copy(child = newChild)
  override def prettyName: String = "bpe_merge"
}

/** BPE segmentation of a whitespace-token array under a TRAINED merge list:
  * each word starts as characters with the end-of-word marker folded into
  * its final character (Sennrich et al. 2016), then the lowest-rank merge
  * present in the word is applied (all non-overlapping occurrences,
  * left-to-right — the same pass [[BpeMergeExpr]] runs in training, so
  * apply-time segmentation reproduces train-time symbol states exactly)
  * until no listed pair remains; the per-word pieces concatenate in word
  * order. The merge list is a plan literal — tokenizer vocabularies are
  * bounded (32k-100k merges) and shared corpus-wide, the same boundary the
  * IVF centroid literals document. A bounded per-instance word cache skips
  * re-segmenting repeated words (Zipf makes the hit rate high); the cache
  * only ever stores the deterministic segmentation, so results are
  * identical with or without hits.
  */
case class BpeSegmentExpr(child: Expression, merges: Seq[(String, String)],
                          endOfWord: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_segment requires array<string>, got $other")
    }
  }

  // Keyed "left right" — the space separator never occurs inside a symbol
  // (symbols come from whitespace-split tokens); the composite string key
  // avoids a per-lookup tuple allocation.
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    var i = 0
    merges.foreach { case (a, b) =>
      m.putIfAbsent(a + " " + b, Integer.valueOf(i))
      i += 1
    }
    m
  }
  // Bounded at 2^16 entries with clear-on-full eviction: size can never
  // exceed cacheMax (checked before every put), worst case ~64k words ×
  // ~avg word bytes + piece arrays ≈ tens of MB per expression instance —
  // the same documented-bound discipline as DriverVocabBound and the
  // centroid literal budget. Spec-pinned in BpeSpec via [[cacheStats]].
  private val cacheMax = 1 << 16
  @transient private lazy val cache =
    new java.util.HashMap[String, Array[UTF8String]]()

  /** (current cache size, bound) — test hook pinning the cache bound. */
  private[graft] def cacheStats: (Int, Int) = (cache.size, cacheMax)

  private def segmentWord(word: String): Array[UTF8String] = {
    var syms = new java.util.ArrayList[String](word.length)
    var i = 0
    // code-point iteration; the training side initializes words through
    // THIS expression with an empty merge list, so train/segment init are
    // one code path (surrogate pairs stay whole in both)
    while (i < word.length) {
      val cc = Character.charCount(word.codePointAt(i))
      syms.add(word.substring(i, i + cc))
      i += cc
    }
    syms.set(syms.size - 1, syms.get(syms.size - 1) + endOfWord)
    var done = false
    while (!done && syms.size > 1) {
      // lowest-rank adjacent pair present in this word
      var bestRank = Int.MaxValue
      i = 0
      while (i < syms.size - 1) {
        val r = rank.get(syms.get(i) + " " + syms.get(i + 1))
        if (r != null && r.intValue() < bestRank) bestRank = r.intValue()
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val (a, b) = merges(bestRank)
        val next = new java.util.ArrayList[String](syms.size)
        i = 0
        while (i < syms.size) {
          if (i + 1 < syms.size && syms.get(i) == a && syms.get(i + 1) == b) {
            next.add(a + b)
            i += 2
          } else {
            next.add(syms.get(i))
            i += 1
          }
        }
        syms = next
      }
    }
    val out = new Array[UTF8String](syms.size)
    i = 0
    while (i < syms.size) { out(i) = UTF8String.fromString(syms.get(i)); i += 1 }
    out
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < n) {
      val w = arr.getUTF8String(i)
      if (w != null && w.numBytes > 0) {
        val key = w.toString
        var pieces = cache.get(key)
        if (pieces == null) {
          pieces = segmentWord(key)
          if (cache.size >= cacheMax) cache.clear()
          cache.put(key, pieces)
        }
        var j = 0
        while (j < pieces.length) { out.add(pieces(j)); j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeSegmentExpr =
    copy(child = newChild)
  override def prettyName: String = "bpe_segment"
}

/** Product-quantization encoder: maps a full vector to its m subspace code
  * ids (nearest codebook centroid per subspace by SQUARED L2, ties to the
  * lowest code — the classical PQ assignment metric; Jégou et al. 2011).
  * ONE compiled pass emits all m codes — the per-subspace slice+argmin
  * pipeline this replaces paid m Generate-free but still m column
  * evaluations and m array allocations per row. The codebooks live in this
  * expression instance (task-serialized once, like [[QueryTfExpr]]'s
  * vocabulary), NOT unrolled into plan literals or codegen — plan size
  * stays flat as ksub grows. Dimensions beyond the input's length read as
  * 0.0 (short vectors encode against zero-padded subvectors).
  */
/** Shared PQ-assignment kernel of [[PqEncodeExpr]] (codebooks in the
  * expression instance) and [[PqEncodeDynExpr]] (codebooks as a column for
  * SQL) — per subspace, the squared-L2 argmin with ties to the lowest
  * code; dimensions past the input's length read as 0.0. */
private[functions] object PqEncodeEval {
  def apply(input: ArrayData, books: Array[Array[Array[Double]]],
            offsets: Array[Int]): GenericArrayData = {
    val len = input.numElements()
    val m = books.length
    val codes = new Array[Any](m)
    var j = 0
    while (j < m) {
      val book = books(j)
      val off = offsets(j)
      val sub = book(0).length
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var d2 = 0.0
        var i = 0
        while (i < sub) {
          val x = if (off + i < len) input.getDouble(off + i) else 0.0
          val d = x - cent(i)
          d2 += d * d
          i += 1
        }
        if (d2 < bestD) { bestD = d2; best = c } // strict: ties keep lowest c
        c += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  def offsetsOf(books: Array[Array[Array[Double]]]): Array[Int] =
    books.scanLeft(0)((acc, b) => acc + b(0).length).init
}

case class PqEncodeExpr(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with CodegenFallback {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "pq_encode needs at least one non-empty codebook per subspace")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(DoubleType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_encode requires array<double>, got $other")
    }
  }

  @transient private lazy val books: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val offsets: Array[Int] = PqEncodeEval.offsetsOf(books)

  override protected def nullSafeEval(input: Any): Any =
    PqEncodeEval(input.asInstanceOf[ArrayData], books, offsets)

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
  override def prettyName: String = "pq_encode"
}

/** [[PqEncodeExpr]] with the codebooks supplied as an ordinary COLUMN —
  * the SQL-callable variant (`graft_pq_encode`), the NearestCellsDynExpr
  * pattern: SQL has no way to hand a Scala codebook literal to the
  * planner, so it arrives as array<array<array<double>>> (usually a
  * literal or scalar subquery). Intended for dimension-sized codebooks —
  * the set is re-read per row. */
case class PqEncodeDynExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes() = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_encode_dyn requires (array<double>, array<array<array<double>>>), got $other")
    }
  }

  override protected def nullSafeEval(vec: Any, booksCol: Any): Any = {
    val ba = booksCol.asInstanceOf[ArrayData]
    val m = ba.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val books = Array.tabulate(m) { j =>
      if (ba.isNullAt(j))
        throw new IllegalArgumentException(
          s"graft_pq_encode: subspace $j is null")
      val bj = ba.getArray(j)
      Array.tabulate(bj.numElements()) { c =>
        if (bj.isNullAt(c))
          throw new IllegalArgumentException(
            s"graft_pq_encode: subspace $j centroid $c is null")
        bj.getArray(c).toDoubleArray()
      }
    }
    // malformed codebooks fail LOUDLY (the repo's ANSI discipline), never
    // crash with an index error or return null from a non-nullable slot:
    // the encode kernel walks every centroid to subspace width book(0), so
    // an empty subspace or ragged centroid widths must be rejected here
    books.zipWithIndex.foreach { case (b, j) =>
      if (b.isEmpty)
        throw new IllegalArgumentException(
          s"graft_pq_encode: subspace $j has no centroids")
      val w = b(0).length
      if (!b.forall(_.length == w))
        throw new IllegalArgumentException(
          s"graft_pq_encode: subspace $j centroids differ in width (expected $w)")
    }
    PqEncodeEval(vec.asInstanceOf[ArrayData], books, PqEncodeEval.offsetsOf(books))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqEncodeDynExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "pq_encode_dyn"
}

/** ADC (asymmetric distance computation) lookup table for one query vector:
  * out[j][c] = dot(query subvector j, codebook j centroid c). Evaluated
  * ONCE PER QUERY ROW (queries are small by definition); the corpus-side
  * scan then scores a row with m table lookups + adds instead of a full
  * d-dim dot product — the whole point of PQ's memory/compute asymmetry.
  * Codebooks carried in the expression instance like [[PqEncodeExpr]].
  */
case class PqLutExpr(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with CodegenFallback {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "pq_lut needs at least one non-empty codebook per subspace")

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(DoubleType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_lut requires array<double>, got $other")
    }
  }

  @transient private lazy val books: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val offsets: Array[Int] = PqEncodeEval.offsetsOf(books)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    val m = books.length
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val book = books(j)
      val off = offsets(j)
      val sub = book(0).length
      val row = new Array[Any](book.length)
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var dot = 0.0
        var i = 0
        while (i < sub) {
          if (off + i < len) dot += arr.getDouble(off + i) * cent(i)
          i += 1
        }
        row(c) = dot
        c += 1
      }
      out(j) = new GenericArrayData(row)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
  override def prettyName: String = "pq_lut"
}
