package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.StreamShim.{column, expressionOf}
import org.apache.spark.sql.types._

/** Native one-pass MinHash signature over a shingle-string array.
  *
  * Replaces the composed HOF form
  * `array((0 until k).map(i => array_min(transform(hashes, remix(_, i)))))`
  * which evaluates `k` interpreted lambda traversals per row and
  * allocates `k` intermediate arrays (higher-order functions never enter
  * whole-stage codegen). This expression hashes each shingle once
  * (xxhash64, seed 42 — identical to `functions.xxhash64`) and updates
  * all `numHashes` lane minima in a tight JVM loop; the lane mix is
  * `xxhash64(lane, h)` exactly as `Dedup.remix` composes it (lane
  * hashed first LongType against seed 42, then `h` against that), so
  * signatures are bit-equal to the composed form. A full re-hash per
  * lane, not a cheap xorshift: the xorshift mixer's weak cross-lane
  * avalanche made lane minima correlate (see Dedup.remix).
  *
  * Reference behavior matched: LeoneGarage/StreamJoin has no minhash —
  * this backs graft's §2B dedup surface.
  */
final case class MinHashShingles(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${dt.simpleString}")
  }

  // per-lane xxhash seeds: `xxhash64(lane, h)` folds left over its
  // children, so lane i's value is hash(h, LongType, hash(i, LongType, 42))
  private lazy val laneSeeds: Array[Long] =
    Array.tabulate(numHashes)(i =>
      XxHash64Function.hash(i.toLong, LongType, 42L))

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val k = numHashes
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    var j = 0
    while (j < m) {
      if (!arr.isNullAt(j)) {
        seen = true
        val h = XxHash64Function.hash(arr.getUTF8String(j), StringType, 42L)
        var i = 0
        while (i < k) {
          val c = XxHash64Function.hash(h, LongType, laneSeeds(i))
          if (c < mins(i)) mins(i) = c
          i += 1
        }
      }
      j += 1
    }
    if (!seen) new GenericArrayData(Array.fill[Any](k)(null))
    else new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `xxhash64` of every element of a string array in one native pass —
  * the join-key form of a shingle set (20-char shingle strings become
  * 8-byte longs before the shuffle). Element order and count are
  * preserved; seed 42 matches `functions.xxhash64`.
  */
final case class XxHashLongArray(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${dt.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      if (!arr.isNullAt(j))
        out(j) = XxHash64Function.hash(arr.getUTF8String(j), StringType, 42L)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Distinct word n-gram shingles of a text column in one native pass —
  * the codegen-unfriendly composed form is
  * `array_distinct(transform(sequence(0, size(w)-n), i => array_join(slice(w, i+1, n), " ")))`
  * over `w = split(text, " ")`: four interpreted HOF traversals and two
  * intermediate arrays per row. Semantics are matched exactly:
  * `split(text, " ")` keeps trailing empty strings (regex split, limit
  * -1), shingles join words with a single space, order is first
  * occurrence, and texts shorter than `n` words yield the whole text
  * as the only shingle.
  */
final case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${dt.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val text = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val parts = text.toString.split(" ", -1)
    if (parts.length < n)
      return new GenericArrayData(Array[Any](text))
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= parts.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(parts(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** 64-bit SimHash of a word array in one native pass: per word an
  * xxhash64 (seed 42), each of the 64 bits votes ±1, the signature bit
  * is the vote sign. Replaces the explode → 64-sum groupBy formulation
  * — which shuffles one row PER WORD — with a shuffle-free projection;
  * bit-equal to that formulation (same hash, same vote rule, ties at 0
  * → bit 0).
  */
final case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${dt.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < m) {
      if (!arr.isNullAt(j)) {
        val h = XxHash64Function.hash(arr.getUTF8String(j), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HashExpressions {
  /** Distinct word n-gram shingles of a text column. */
  def wordShingles(text: Column, n: Int): Column =
    column(WordShingles(expressionOf(text), n))

  /** MinHash signature (lane minima) of a shingle-string array. */
  def minhashShingles(shingles: Column, numHashes: Int): Column =
    column(MinHashShingles(expressionOf(shingles), numHashes))

  /** Per-element xxhash64 of a string array. */
  def hashArray(strings: Column): Column =
    column(XxHashLongArray(expressionOf(strings)))

  /** 64-bit SimHash of a word array (shuffle-free). */
  def simhash64(words: Column): Column =
    column(SimHash64(expressionOf(words)))
}
