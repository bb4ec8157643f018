package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native hash primitives — the map-side hot loops of the dedup
  * family (q29 signatures, q30 LSH pairs, q47 cluster edges) and of
  * the portable-hash operators. Three md5 kernels share one per-thread
  * digest:
  *  - the 52-bit hash ([[hexHash]], and [[hexHashArray]] per element)
  *    — `conv(substring(md5(concat(salt, s)), 1, 13), 16, 10)`;
  *  - the 32-bit lanes ([[md5Lanes]]) — lane i is
  *    `pmod(conv(substring(md5(s), 1 + 8i, 8), 16, 10), width)`;
  *  - the SimHash votes ([[simhash16]], [[simhash64]]).
  *
  * The Column formulations they replace evaluate md5 once per use and
  * round-trip every value through a hex string; the array forms are
  * higher-order functions, which Spark evaluates interpreted
  * (CodegenFallback), and the signature battery
  * (`numHashes × array_min(zip_with(h1, h2, a + i·b))`) re-walked both
  * hash arrays once per slot. These expressions produce BIT-IDENTICAL
  * values with one digest per item, in one static-call pass per row
  * inside whole-stage codegen.
  */
object MinHashOps {

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The first 13 hex nibbles of an md5 digest as a long (==
    * `conv(substring(md5_hex, 1, 13), 16, 10)` — bytes 0..5 whole plus
    * the high nibble of byte 6). The one place this arithmetic lives.
    */
  private def prefix52(h: Array[Byte]): Long = {
    var v = 0L
    var k = 0
    while (k < 6) { v = (v << 8) | (h(k) & 0xffL); k += 1 }
    (v << 4) | ((h(6) & 0xf0L) >>> 4)
  }

  /** 52-bit hash of one item: [[prefix52]] of md5(salt ++ s). */
  def hexHash(s: UTF8String, salt: UTF8String): Long = {
    val digest = digests.get()
    digest.reset()
    digest.update(salt.getBytes)
    digest.update(s.getBytes)
    prefix52(digest.digest())
  }

  /** 52-bit hash battery: [[hexHash]] per element. */
  def hexHashArray(arr: ArrayData, salt: UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      // null element → null hash, matching the transform() formulation
      if (!arr.isNullAt(i)) out(i) = hexHash(arr.getUTF8String(i), salt)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `k` (≤ 4) hash lanes of one item from ONE md5 digest: lane i is
    * the unsigned big-endian int in digest bytes 4i..4i+3 (the 8-hex
    * slice at offset 8i) mod `width`. A null item gives k null lanes,
    * as `array(pmod(conv(substring(md5(null), ..))))` does.
    */
  def md5Lanes(item: UTF8String, width: Long, k: Int): ArrayData = {
    val out = new Array[Any](k)
    if (item != null) {
      val digest = digests.get()
      digest.reset()
      val h = digest.digest(item.getBytes)
      var i = 0
      while (i < k) {
        var v = 0L
        var b = 4 * i
        while (b < 4 * i + 4) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
        out(i) = v % width
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Carter-Wegman signature: slot i = min over shingles of h1+i·h2,
    * all `num` slots in ONE pass over the hash arrays. Empty input →
    * all-null slots (the `array_min(empty) = null` contract the band
    * hasher downstream relies on).
    */
  def minhash(h1: ArrayData, h2: ArrayData, num: Int): ArrayData = {
    val m = h1.numElements()
    val mins = new Array[Long](num)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var j = 0
    while (j < m) {
      // null slots are skipped — array_min ignores null elements, so
      // the zip_with/array_min formulation did the same
      if (!h1.isNullAt(j) && !h2.isNullAt(j)) {
        any = true
        val a = h1.getLong(j)
        val b = h2.getLong(j)
        var v = a
        var i = 0
        while (i < num) {
          if (v < mins(i)) mins(i) = v
          v += b
          i += 1
        }
      }
      j += 1
    }
    if (!any) return new GenericArrayData(Array.fill[Any](num)(null))
    val out = new Array[Any](num)
    var i = 0
    while (i < num) { out(i) = mins(i); i += 1 }
    new GenericArrayData(out)
  }

  /** 16-bit SimHash: one md5 per token, vote on every hex digit's high
    * bit, pack majorities. Bit layout and the null-token −1 vote match
    * the HOF formulation exactly (`substring(md5(null),j,1) >= '8'` is
    * null → otherwise(−1)).
    */
  def simhash16(tokens: ArrayData): Int = {
    val votes = new Array[Int](16)
    val digest = digests.get()
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) {
        var j = 0
        while (j < 16) { votes(j) -= 1; j += 1 }
      } else {
        digest.reset()
        val h = digest.digest(tokens.getUTF8String(i).getBytes)
        var j = 0
        while (j < 16) {
          val b = h(j >> 1) & 0xff
          val nib = if ((j & 1) == 0) b >>> 4 else b & 0xf
          if (nib >= 8) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0
    var j = 0
    while (j < 16) {
      if (votes(j) > 0) out |= 1 << (15 - j)
      j += 1
    }
    out
  }

  /** 64-bit SimHash — [[simhash16]] widened for the exact-Hamming
    * dedup machinery ([[graft.ext.ImageDedup]] needs 64 bits: a
    * 16-bit hash would leave 48 constant band bits and collapse every
    * row into one bucket). Votes come from 64 nibbles: the 32 of
    * md5(token) then the 32 of md5("#" + token) — the salt-prefix
    * second digest keeps the oracle replay one `substr(md5(...))`
    * expression per bit. Bit j (0-based) lands at position 63 − j,
    * MSB-first like simhash16; null tokens vote −1 everywhere.
    */
  def simhash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val digest = digests.get()
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) {
        var j = 0
        while (j < 64) { votes(j) -= 1; j += 1 }
      } else {
        val tok = tokens.getUTF8String(i).getBytes
        digest.reset()
        val h1 = digest.digest(tok)
        digest.reset()
        digest.update('#'.toByte)
        val h2 = digest.digest(tok)
        var j = 0
        while (j < 64) {
          val h = if (j < 32) h1 else h2
          val jj = j & 31
          val b = h(jj >> 1) & 0xff
          val nib = if ((jj & 1) == 0) b >>> 4 else b & 0xf
          if (nib >= 8) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= 1L << (63 - j)
      j += 1
    }
    out
  }

  /** Weighted-sample key ([[graft.ext.Sketches.weightedKey]] hot
    * loop): min over j in 1..weight of the 52-bit hash of
    * salt ++ id ++ "#" ++ j — byte-identical to the HOF formulation
    * `array_min(transform(sequence(1, w), j -> hexHash(id#j)))`.
    * Weights must be ≥ 1 (`sequence(1, 0)` would count DOWN in the
    * HOF form; the sampler contract never passes w < 1).
    */
  def weightedMinKey(id: UTF8String, weight: Int, salt: UTF8String): Long = {
    val digest = digests.get()
    val saltBytes = salt.getBytes
    val idBytes = id.getBytes
    var best = Long.MaxValue
    var j = 1
    while (j <= weight) {
      digest.reset()
      digest.update(saltBytes)
      digest.update(idBytes)
      digest.update('#'.toByte)
      digest.update(String.valueOf(j).getBytes)
      val v = prefix52(digest.digest())
      if (v < best) best = v
      j += 1
    }
    best
  }

  /** Occurrence count of tokens in a marker set (null tokens miss —
    * `isin` over null is not-true, same as the HOF it replaces).
    */
  def markerHits(tokens: ArrayData, markers: java.util.HashSet[UTF8String]): Int = {
    var hits = 0
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i) && markers.contains(tokens.getUTF8String(i))) hits += 1
      i += 1
    }
    hits
  }
}

/** `hex_hash_array(shingles, salt)` → array<long> of 52-bit hashes. */
case class HexHashArray(child: Expression, salt: String) extends UnaryExpression
    with StaticKernel {
  // null input elements yield null hashes
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "hex_hash_array"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hex_hash_array needs array<string>, got $other")
  }

  override protected def kernel = MinHashOps
  override protected def method = "hexHashArray"
  override protected def constants = Seq(Literal(salt))

  override protected def withNewChildInternal(newChild: Expression): HexHashArray =
    copy(child = newChild)
}

/** `hex_hash(s, salt)` → the 52-bit hash of one value (a non-string
  * argument is cast to string, as `concat` did in the md5/conv
  * formulation). Null input → null.
  */
case class HexHash(child: Expression, salt: String)
  extends UnaryExpression with StaticKernel with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hex_hash"

  override protected def kernel = MinHashOps
  override protected def method = "hexHash"
  override protected def constants = Seq(Literal(salt))

  override protected def withNewChildInternal(newChild: Expression): HexHash =
    copy(child = newChild)
}

/** `md5_lanes(item, width, k)` → array<long> of k lanes (see
  * [[MinHashOps.md5Lanes]]). Never null: a null item gives k nulls.
  */
case class Md5Lanes(child: Expression, width: Long, k: Int)
  extends UnaryExpression with StaticKernel with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "md5_lanes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (width <= 0 || k < 1 || k > 4) TypeCheckResult.TypeCheckFailure(
      s"md5_lanes needs width > 0 and k in [1, 4], got ($width, $k)")
    else super.checkInputDataTypes()

  override protected def kernel = MinHashOps
  override protected def method = "md5Lanes"
  override protected def constants = Seq(Literal(width), Literal(k))
  // the kernel maps a null item to k null lanes
  override protected def propagateNull = false

  override protected def withNewChildInternal(newChild: Expression): Md5Lanes =
    copy(child = newChild)
}

/** `minhash_array(h1, h2, num)` → array<long> signature. */
case class MinhashArray(left: Expression, right: Expression, num: Int)
  extends BinaryExpression with StaticKernel {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_array"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) if num > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_array needs (array<long>, array<long>) and num > 0, got $other")
    }

  override protected def kernel = MinHashOps
  override protected def method = "minhash"
  override protected def constants = Seq(Literal(num))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinhashArray =
    copy(left = newLeft, right = newRight)
}

/** `marker_hits(tokens, markers)` → int — occurrence count of tokens
  * in a fixed marker lexicon (language-ID / stopword scoring). The
  * `size(filter(tokens, isin(...)))` HOF this replaces evaluated an
  * interpreted isin chain per token per lexicon; here the lexicon is a
  * hash set probed once per token inside codegen.
  */
case class MarkerHits(child: Expression, markers: Seq[String])
  extends UnaryExpression with StaticKernel {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "marker_hits"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"marker_hits needs array<string>, got $other")
  }

  override protected def kernel = MinHashOps
  override protected def method = "markerHits"
  override protected def constants = {
    val set = new java.util.HashSet[UTF8String](markers.size * 2)
    markers.foreach(m => set.add(UTF8String.fromString(m)))
    Seq(Literal(set, ObjectType(classOf[java.util.HashSet[_]])))
  }

  override protected def withNewChildInternal(newChild: Expression): MarkerHits =
    copy(child = newChild)
}

/** `simhash64(tokens)` → long (see [[MinHashOps.simhash64]]). */
case class SimHash64(child: Expression) extends UnaryExpression
    with StaticKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 needs array<string>, got $other")
  }

  override protected def kernel = MinHashOps
  override protected def method = "simhash64"

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `simhash16(tokens)` → int — 16-bit SimHash over tokens (duplicates
  * counted): bit j set iff the majority of tokens have md5 hex digit j
  * >= '8' (hex digit j's high bit). ONE md5 per token for all 16 bits,
  * versus the HOF formulation's `transform(sequence(1,16), j =>
  * aggregate(tokens, ...))` which re-folded the whole token array
  * interpreted once per bit.
  */
case class SimHash16(child: Expression) extends UnaryExpression
    with StaticKernel {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "simhash16"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash16 needs array<string>, got $other")
  }

  override protected def kernel = MinHashOps
  override protected def method = "simhash16"

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

/** `weighted_min_key(id, weight, salt)` → the 52-bit weighted-sample
  * key (min of `weight` independent hashes). Codegen'd static call —
  * the HOF formulation it replaces walks an interpreted tree per
  * ticket.
  */
case class WeightedMinKey(left: Expression, right: Expression, salt: String)
  extends BinaryExpression with StaticKernel {

  override def dataType: DataType = LongType
  override def prettyName: String = "weighted_min_key"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"weighted_min_key needs (string, int), got $other")
    }

  override protected def kernel = MinHashOps
  override protected def method = "weightedMinKey"
  override protected def constants = Seq(Literal(salt))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WeightedMinKey =
    copy(left = newLeft, right = newRight)
}

object WeightedMinKey {
  /** The SQL builder ([[Kernels.table]]): the salt is a constant of
    * the kernel, so it must be a non-null string literal.
    */
  def build(exprs: Seq[Expression]): WeightedMinKey = {
    val a = new SqlArgs("weighted_min_key", 3 to 3, exprs)
    WeightedMinKey(a(0), a(1), a.string(2))
  }
}

object MinHashFunctions {
  /** Column-level entry points. */
  def hexHash(s: Column, salt: String): Column =
    GraftSql.column(HexHash(GraftSql.expression(s), salt))

  def md5Lanes(item: Column, width: Long, k: Int): Column =
    GraftSql.column(Md5Lanes(GraftSql.expression(item), width, k))

  def hexHashArray(shingles: Column, salt: String): Column =
    GraftSql.column(HexHashArray(GraftSql.expression(shingles), salt))

  def minhashArray(h1: Column, h2: Column, num: Int): Column =
    GraftSql.column(MinhashArray(
      GraftSql.expression(h1), GraftSql.expression(h2), num))

  def simhash16(tokens: Column): Column =
    GraftSql.column(SimHash16(GraftSql.expression(tokens)))

  def simhash64(tokens: Column): Column =
    GraftSql.column(SimHash64(GraftSql.expression(tokens)))

  def markerHits(tokens: Column, markers: Seq[String]): Column =
    GraftSql.column(MarkerHits(GraftSql.expression(tokens), markers))

  def weightedMinKey(id: Column, weight: Column, salt: String): Column =
    GraftSql.column(WeightedMinKey(
      GraftSql.expression(id), GraftSql.expression(weight), salt))
}
