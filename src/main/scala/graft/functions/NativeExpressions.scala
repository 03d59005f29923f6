package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the similarity hot paths - codegen'd
  * scalar functions that stay inside whole-stage codegen (no UDF
  * boundary, no intermediate array allocation the way
  * zip_with+aggregate has).
  *
  * Math is the pinned-order formulation the DuckDB oracles use
  * (per-element float→double cast, ascending-index sequential
  * accumulation), so swapping them in changes nothing bit-wise.
  */

/** cosine(a, b) over two float vectors, accumulated in double. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects two array<float> args, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot
         |  / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** popcount(a XOR b) over two 64-bit keys - SimHash Hamming distance. */
case class HammingDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hamming expects two bigint args, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hamming"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
      .toLong

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (long) java.lang.Long.bitCount($a ^ $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Md5Util {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Single-pass 48-bit SimHash over pre-hashed tokens: per-bit
    * frequency-weighted majority vote - identical to the 48 per-bit
    * sum formulations in the SQL oracle, in one traversal.
    */
  def simhash48(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val counts = new Array[Int](48)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 48) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 48) { if (counts(b) > 0) sim |= (1L << b); b += 1 }
    sim
  }

  /** First 48 bits of md5(utf8(s)), big-endian - numerically identical
    * to the Horner value of the first 12 hex nibbles (the portable SQL
    * formulation in HashParity), without materializing the hex string.
    */
  def hash48(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md.get(); d.reset()
    val b = d.digest(s.getBytes)
    ((b(0) & 0xffL) << 40) | ((b(1) & 0xffL) << 32) |
      ((b(2) & 0xffL) << 24) | ((b(3) & 0xffL) << 16) |
      ((b(4) & 0xffL) << 8) | (b(5) & 0xffL)
  }
}

/** graft_qdot(a, b) over two int arrays - the quantized-ANN scoring
  * kernel. Accumulates in long (int8-range elements cannot overflow),
  * and because every intermediate is an exact integer the score is
  * bit-identical across engines with NO pinned evaluation order - the
  * portability argument for scoring on quantized vectors.
  */
case class QDotInt(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_qdot expects two array<int> args, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qdot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getInt(i).toLong * y.getInt(i); i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += (long) $a.getInt($i) * (long) $b.getInt($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NGramUtil {

  private def joinGram(
      toks: org.apache.spark.sql.catalyst.util.ArrayData,
      start: Int, n: Int,
      space: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.unsafe.types.UTF8String = {
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](
      2 * n - 1)
    var j = 0
    while (j < n) {
      if (j > 0) parts(2 * j - 1) = space
      parts(2 * j) = toks.getUTF8String(start + j)
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.concat(parts: _*)
  }

  /** Distinct space-joined n-gram 48-bit hashes, first-occurrence
    * order; empty array below n tokens.
    */
  def gramHashes(
      toks: org.apache.spark.sql.catalyst.util.ArrayData, n: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val len = toks.numElements()
    val total = len - n + 1
    if (total <= 0)
      return org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.emptyLongArray)
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val seen = new java.util.HashSet[
      org.apache.spark.unsafe.types.UTF8String](total * 2)
    val out = new Array[Long](total)
    var m = 0
    var i = 0
    while (i < total) {
      val g = joinGram(toks, i, n, space)
      if (seen.add(g)) { out(m) = Md5Util.hash48(g); m += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** ALL space-joined n-gram 48-bit hashes in position order (one per
    * starting token, repeats kept) - the positional form dup-span
    * coverage needs, where `gramHashes`' dedup would lose the positions
    * a repeated gram occupies. Empty array below n tokens.
    */
  def gramHashesAll(
      toks: org.apache.spark.sql.catalyst.util.ArrayData, n: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val len = toks.numElements()
    val total = len - n + 1
    if (total <= 0)
      return org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.emptyLongArray)
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val out = new Array[Long](total)
    var i = 0
    while (i < total) {
      out(i) = Md5Util.hash48(joinGram(toks, i, n, space))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Per-token (non-distinct) 48-bit hashes. */
  def tokenHashes(
      toks: org.apache.spark.sql.catalyst.util.ArrayData):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = toks.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = Md5Util.hash48(toks.getUTF8String(i)); i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Occurrences minus distinct count of the array's word n-grams
    * (space-joined, matching `concat_ws(' ', ...)` and the oracle's
    * `array_to_string(..., ' ')`). 0 for arrays shorter than n.
    */
  def dupNgrams(
      toks: org.apache.spark.sql.catalyst.util.ArrayData, n: Int): Long = {
    val len = toks.numElements()
    val total = len - n + 1
    if (total <= 0) return 0L
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val seen = new java.util.HashSet[
      org.apache.spark.unsafe.types.UTF8String](total * 2)
    var i = 0
    while (i < total) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](
        2 * n - 1)
      var j = 0
      while (j < n) {
        if (j > 0) parts(2 * j - 1) = space
        parts(2 * j) = toks.getUTF8String(i + j)
        j += 1
      }
      seen.add(org.apache.spark.unsafe.types.UTF8String.concat(parts: _*)): Unit
      i += 1
    }
    (total - seen.size).toLong
  }

  /** Most frequent adjacent token pair with the (count desc, bigram
    * desc) tie-break - the in-row form of
    * `explode(bigrams) -> groupBy count -> max(struct(c, bg))`, which
    * would shuffle corpus-token-count rows twice; the mode of a
    * WITHIN-document relation never needs to leave the row. Returns
    * null for arrays with fewer than 2 elements.
    */
  def topBigram(
      toks: org.apache.spark.sql.catalyst.util.ArrayData):
      org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    if (n < 2) return null
    val counts = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Int](n * 2)
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    var i = 0
    while (i < n - 1) {
      val bg = org.apache.spark.unsafe.types.UTF8String.concat(
        toks.getUTF8String(i), space, toks.getUTF8String(i + 1))
      counts.merge(bg, 1, (a, b) => a + b)
      i += 1
    }
    var bestBg: org.apache.spark.unsafe.types.UTF8String = null
    var bestC = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      if (c > bestC || (c == bestC && e.getKey.compareTo(bestBg) > 0)) {
        bestC = c; bestBg = e.getKey
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestBg, bestC.toLong))
  }
}

/** graft_dup_ngrams(toks, n): how many of the document's word n-gram
  * OCCURRENCES are repeats (total n-grams minus distinct n-grams) -
  * the repetition signal's in-row form. The interpreted
  * `array_distinct(transform(...))` HOF formulation costs ~65µs per
  * document at scale; this is one codegen'd pass with a hash set.
  * `n` must be an int literal (>= 1).
  */
case class DupNgrams(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_dup_ngrams expects array<string>, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dup_ngrams"

  override def nullSafeEval(v: Any): Any =
    NGramUtil.dupNgrams(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NGramUtil.dupNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_gram_hashes(toks, n): 48-bit md5 hashes of the array's
  * DISTINCT space-joined word n-grams, in first-occurrence order -
  * exactly `array_distinct(transform(sequence...)) |> graft_md5_48`
  * fused into one codegen'd pass (the interpreted sequence/transform/
  * slice/concat_ws chain evaluates ~5 lambda frames per gram). Empty
  * array when the input is shorter than n. Feeds dedup shingling
  * (n=3) and decontamination (n=5).
  */
case class GramHashes(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_gram_hashes expects array<string>, got ${other.catalogString}")
    }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes"

  override def nullSafeEval(v: Any): Any =
    NGramUtil.gramHashes(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NGramUtil.gramHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_gram_hashes_all(toks, n): 48-bit md5 hashes of EVERY
  * space-joined word n-gram in position order (index i = the gram
  * starting at token i; repeats kept) - the positional sibling of
  * `graft_gram_hashes`, for operators that need to know WHERE a gram
  * sits (dup-span coverage), not just the distinct gram set. Empty
  * array when the input is shorter than n.
  */
case class GramHashesAll(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_gram_hashes_all expects array<string>, got ${other.catalogString}")
    }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes_all"

  override def nullSafeEval(v: Any): Any =
    NGramUtil.gramHashesAll(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NGramUtil.gramHashesAll($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_token_hashes(toks): per-token 48-bit md5 hashes (NOT
  * distinct - SimHash weights by frequency), one codegen'd pass
  * instead of an interpreted `transform` lambda per token.
  */
case class TokenHashes(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_token_hashes expects array<string>, got ${other.catalogString}")
    }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_token_hashes"

  override def nullSafeEval(v: Any): Any =
    NGramUtil.tokenHashes(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NGramUtil.tokenHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_minhash_sigs: all k MinHash signatures
  * `min over hs of (a_i * h + b_i) mod p` in ONE traversal of the hash
  * array - the relational form evaluates k interpreted
  * `array_min(transform(...))` passes per document. Returns null for
  * an empty array (matching array_min's null on empty, which the band
  * builder's empty-guard already excludes). Constructed from Scala
  * with the permutation constants baked in (plan-time parameters, like
  * the IVF centroid matrix); not SQL-registered.
  */
case class MinHashSigs(child: Expression,
                       a: Array[Long], b: Array[Long], p: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(a.length == b.length && a.length >= 1)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_sigs expects array<bigint>, got ${other.catalogString}")
    }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sigs"

  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    MinHashUtil.sigs(hs, a, b, p)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", a, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", b, "long[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.MinHashUtil.sigs($c, $aRef, $bRef, ${p}L);
      |${ev.isNull} = (${ev.value} == null);
    """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashUtil {
  /** One pass over hs maintaining all k minima. Null on empty input. */
  def sigs(hs: org.apache.spark.sql.catalyst.util.ArrayData,
           a: Array[Long], b: Array[Long], p: Long):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val k = a.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (a(j) * h + b(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
  }
}

/** graft_top_bigram(array<string>): the document's most frequent word
  * bigram and its count as struct(bg, c) - one codegen'd per-row pass
  * with an open hash map, replacing an explode + two corpus-token-
  * volume exchanges. Tie-break (count desc, bigram desc), identical to
  * `max(struct(c, bg))` in the relational form and to the oracle's
  * `ORDER BY c DESC, bg DESC` window.
  */
case class TopBigram(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_top_bigram expects array<string>, got ${other.catalogString}")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("bg", StringType, nullable = true),
    StructField("c", LongType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_top_bigram"

  override def nullSafeEval(v: Any): Any =
    NGramUtil.topBigram(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.NGramUtil.topBigram($c);
      |${ev.isNull} = (${ev.value} == null);
    """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_md5_48(s): 48-bit integer content hash - the dedup hot path
  * (one digest per shingle/token, no hex-string round trip).
  */
case class Md5Prefix48(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_md5_48 expects a string arg, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_48"

  override def nullSafeEval(v: Any): Any =
    Md5Util.hash48(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Util.hash48($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_ts_us(ts): event time as BIGINT epoch-microseconds, adaptive
  * at ANALYSIS time to the physical encoding of the scanned column -
  * the engine's one canonical event-time accessor (≙ the reference's
  * source-format-agnostic Extract contract, protocols.clj):
  *
  *   - BIGINT            → epoch-nanos (parquet TIMESTAMP(NANOS) read
  *                         under `nanosAsLong`, or a raw INT64 column):
  *                         divide by 1000;
  *   - TIMESTAMP[_NTZ]   → Catalyst's internal value IS epoch-micros
  *                         (local-wall micros for NTZ; the engine pins
  *                         the session to UTC so both equal DuckDB's
  *                         `epoch_us`): reinterpret, zero work.
  *
  * Dispatching on the resolved child type here - instead of hardcoding
  * one physical layout at ~20 call sites - is what keeps every
  * event-time operator correct when the warehouse rewrites the table's
  * timestamp encoding (exactly what a long-lived 100 TB deployment
  * does across parquet-writer generations).
  */
case class TsMicros(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | TimestampType | TimestampNTZType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ts_us expects bigint (epoch-nanos) or a timestamp type, " +
        s"got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_ts_us"

  override def nullSafeEval(v: Any): Any = child.dataType match {
    case LongType => v.asInstanceOf[Long] / 1000L
    case _ => v // internal timestamp representation is already micros
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    child.dataType match {
      case LongType => defineCodeGen(ctx, ev, c => s"($c / 1000L)")
      case _ => defineCodeGen(ctx, ev, c => c)
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_bloom_contains(bloom, h): membership probe of a 64-bit key
  * against a plan-time Bloom filter (`org.apache.spark.util.sketch`,
  * the same sketch Spark's own runtime row-level filters use). The
  * filter bytes must be FOLDABLE (a literal): the filter is
  * deserialized once per plan, shipped with the serialized expression,
  * and probed inside whole-stage codegen - no UDF boundary, no
  * per-row deserialization, no join. One-sided error: mightContain
  * never reports a stored key absent, so "false" prunes are exact -
  * the contract pipe_decont_bloom's exactness rests on.
  */
case class BloomMightContainLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_bloom_contains filter bytes must be foldable (a literal)")
    else if (left.dataType != BinaryType || right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains expects (binary, bigint), got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(
        left.eval(null).asInstanceOf[Array[Byte]]))

  override def nullSafeEval(a: Any, b: Any): Any =
    bloom.mightContainLong(b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom,
      "org.apache.spark.util.sketch.BloomFilter")
    nullSafeCodeGen(ctx, ev, (_, b) =>
      s"${ev.value} = $ref.mightContainLong($b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_bloom_any(bloom, hs): true iff ANY element of the bigint
  * array might be in the plan-time Bloom filter. The batch form of
  * `graft_bloom_contains`: one codegen'd early-exit loop per row
  * instead of an interpreted `exists` HOF per element - on a corpus
  * scan probing ~hundreds of n-gram hashes per document, the HOF's
  * per-element interpretation overhead is larger than the probes
  * themselves. Same one-sided-error contract: false means NO element
  * is stored, exactly.
  */
case class BloomAnyContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_bloom_any filter bytes must be foldable (a literal)")
    else if (left.dataType != BinaryType ||
        !right.dataType.isInstanceOf[ArrayType] ||
        right.dataType.asInstanceOf[ArrayType].elementType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_any expects (binary, array<bigint>), got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_any"

  @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(
        left.eval(null).asInstanceOf[Array[Byte]]))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val hs = b.asInstanceOf[ArrayData]
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      if (bloom.mightContainLong(hs.getLong(i))) return true
      i += 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom,
      "org.apache.spark.util.sketch.BloomFilter")
    nullSafeCodeGen(ctx, ev, (_, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $b.numElements();
         |${ev.value} = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($ref.mightContainLong($b.getLong($i))) {
         |    ${ev.value} = true; break;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_simhash48(array<bigint>): frequency-weighted 48-bit SimHash. */
case class SimHash48(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_simhash48 expects array<bigint>, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash48"

  override def nullSafeEval(v: Any): Any =
    Md5Util.simhash48(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Util.simhash48($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Random-hyperplane LSH math shared by the native bucket expression
  * and (as precomputed literals) the DuckDB oracle SQL. Sign(j, i) is
  * +1/-1 from the first md5 nibble of "p{j}:{i}" - deterministic, no
  * seed to ship. The per-(planes, dims) sign matrix is built once per
  * JVM and cached; bucket evaluation is one fused loop per row.
  */
object LshMath {

  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  /** First md5 nibble of s (0-15). */
  private def firstNibble(s: String): Int = {
    val d = md.get(); d.reset()
    (d.digest(s.getBytes("UTF-8"))(0) >> 4) & 0xf
  }

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def signs(planes: Int, dims: Int): Array[Array[Double]] =
    signCache.computeIfAbsent((planes, dims), { case (p, d) =>
      Array.tabulate(p, d) { (j, i) =>
        if (firstNibble(s"p$j:$i") >= 8) 1.0 else -1.0
      }
    })

  /** Bucket id in [0, 2^planes): bit j set iff the signed sum of plane
    * j is > 0. Pinned evaluation order (ascending index, double
    * accumulation, ±1.0 multiply - all exact IEEE ops) so the result
    * is bitwise identical to the literal sum formulation the DuckDB
    * oracle evaluates.
    */
  def bucket(arr: ArrayData, planes: Int): Long = {
    val dims = arr.numElements()
    val s = signs(planes, dims)
    var b = 0L
    var j = 0
    while (j < planes) {
      val row = s(j)
      var acc = 0.0
      var i = 0
      while (i < dims) { acc += row(i) * arr.getFloat(i).toDouble; i += 1 }
      if (acc > 0) b |= (1L << j)
      j += 1
    }
    b
  }
}

/** graft_lsh_bucket(vec[, planes]): random-hyperplane bucket id. The
  * codegen'd replacement for a ~(planes × dims)-term generated SQL
  * expression, which falls out of whole-stage codegen (Janino method
  * size) and pays interpreted evaluation per row.
  */
case class LshBucket(child: Expression, planes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_lsh_bucket expects array<float>, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  override def nullSafeEval(v: Any): Any =
    LshMath.bucket(v.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LshMath.bucket($c, $planes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IvfMath {

  /** Index of the centroid with the highest pinned-order cosine to
    * `vec`; ties resolve to the smallest index (≙ ORDER BY csim DESC,
    * cid ASC with row_number = 1). One pass over the row, zero shuffle,
    * zero copies of the corpus - replaces a crossJoin + window argmax
    * that shuffled #centroids copies of every corpus row.
    */
  def nearest(vec: ArrayData, cents: Array[Array[Double]]): Long = {
    val n = vec.numElements()
    var best = Double.NegativeInfinity
    var bestC = 0
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)
      val m = math.min(n, ce.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < m) {
        val xv = vec.getFloat(i).toDouble
        val yv = ce(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
      }
      val csim = dot / (math.sqrt(na) * math.sqrt(nb))
      if (csim > best) { best = csim; bestC = c }
      c += 1
    }
    bestC.toLong
  }

  /** Index of the SECOND-best centroid under the same
    * (csim DESC, cid ASC) order as `nearest` (≙ row_number = 2) — the
    * kNN-join probe's boundary cell. Same per-centroid math, one pass;
    * requires ≥ 2 centroids (the cells knob guarantees it).
    */
  def second(vec: ArrayData, cents: Array[Array[Double]]): Long = {
    val n = vec.numElements()
    var best = Double.NegativeInfinity
    var bestC = -1
    var sec = Double.NegativeInfinity
    var secC = -1
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)
      val m = math.min(n, ce.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < m) {
        val xv = vec.getFloat(i).toDouble
        val yv = ce(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
      }
      val csim = dot / (math.sqrt(na) * math.sqrt(nb))
      // strict > everywhere: on ties the earlier (smaller) cid wins,
      // matching the oracle's (csim DESC, cid ASC) row_number order
      if (csim > best) {
        sec = best; secC = bestC
        best = csim; bestC = c
      } else if (csim > sec) {
        sec = csim; secC = c
      }
      c += 1
    }
    secC.toLong
  }

  /** TOP-3 cells under the (csim DESC, cid ASC) order, packed as
    * c1·10¹² + c2·10⁶ + c3 (each cid < 10⁶, so the pack is lossless
    * and fits a signed long: max < 10¹⁸) — the multi-probe kNN join's
    * home + two boundary cells in ONE narrow scan, same one-pass
    * 3-way tracking shape as `second`. Requires ≥ 3 centroids (the
    * k ≥ 16 floor guarantees it).
    */
  def top3(vec: ArrayData, cents: Array[Array[Double]]): Long = {
    require(cents.length < 1000000,
      s"top-3 pack requires k < 1000000 cells, got ${cents.length}")
    val n = vec.numElements()
    var s1 = Double.NegativeInfinity; var c1 = -1
    var s2 = Double.NegativeInfinity; var c2 = -1
    var s3 = Double.NegativeInfinity; var c3 = -1
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)
      val m = math.min(n, ce.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < m) {
        val xv = vec.getFloat(i).toDouble
        val yv = ce(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
      }
      val csim = dot / (math.sqrt(na) * math.sqrt(nb))
      // strict > everywhere: ties resolve to the earlier (smaller) cid
      if (csim > s1) {
        s3 = s2; c3 = c2; s2 = s1; c2 = c1; s1 = csim; c1 = c
      } else if (csim > s2) {
        s3 = s2; c3 = c2; s2 = csim; c2 = c
      } else if (csim > s3) {
        s3 = csim; c3 = c
      }
      c += 1
    }
    c1.toLong * 1000000000000L + c2.toLong * 1000000L + c3.toLong
  }

  /** Best (maximum) pinned-order cosine of `vec` against the matrix -
    * the k-means|| cost scan's kernel. Same per-centroid math as
    * `nearest` (so the value agrees bit-for-bit with what the oracle's
    * MAX over the same cosines computes), returning the similarity
    * instead of the argmax index.
    */
  def maxSim(vec: ArrayData, cents: Array[Array[Double]]): Double = {
    val n = vec.numElements()
    var best = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)
      val m = math.min(n, ce.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < m) {
        val xv = vec.getFloat(i).toDouble
        val yv = ce(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
      }
      val csim = dot / (math.sqrt(na) * math.sqrt(nb))
      if (csim > best) best = csim
      c += 1
    }
    best
  }

  /** Pinned-order cosine of `vec` against ONE centroid row - the
    * shared inner kernel of the scans above, factored for the
    * two-level walk below (identical loop, identical IEEE order).
    */
  private def cos1(vec: ArrayData, ce: Array[Double]): Double = {
    val m = math.min(vec.numElements(), ce.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < m) {
      val xv = vec.getFloat(i).toDouble
      val yv = ce(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** TWO-LEVEL nearest-centroid walk with a 2-probe coarse stage: the
    * leaders are the prefix cents(0..g-1) (g = members.length); the
    * row picks its TWO nearest leaders (csim DESC, id ASC, the family
    * tie rule - multi-probe is the standard fix for coarse-boundary
    * misrouting) and argmaxes over the union of both member lists.
    * Per-row cost g + 2·k/g ≈ 3·√k instead of k - the sub-n^1.5
    * assignment for the k = ⌈√n⌉ cell policy (flat assignment is
    * n·k = n^1.5; this is Θ(n^1.25)). Semantics are the two-level
    * quantizer's, not flat argmax: a row whose true nearest cell lives
    * outside both probed groups lands on the probed-local best - the
    * oracle replays exactly this rule.
    */
  def nearestH2(vec: ArrayData, cents: Array[Array[Double]],
                members: Array[Array[Int]]): Long = {
    val g = members.length
    var best = Double.NegativeInfinity
    var bestG = 0
    var sec = Double.NegativeInfinity
    var secG = 0
    var j = 0
    while (j < g) {
      val csim = cos1(vec, cents(j))
      // strict > everywhere ≙ (csim DESC, id ASC) row_numbers 1 and 2
      if (csim > best) {
        sec = best; secG = bestG
        best = csim; bestG = j
      } else if (csim > sec) {
        sec = csim; secG = j
      }
      j += 1
    }
    var bestC = Int.MaxValue
    best = Double.NegativeInfinity
    var p = 0
    while (p < 2) {
      val grp = members(if (p == 0) bestG else secG)
      var x = 0
      while (x < grp.length) {
        val c = grp(x)
        val csim = cos1(vec, cents(c))
        // groups are disjoint but the union is not cid-ordered, so
        // break ties explicitly toward the smaller cid (≙ ORDER BY
        // csim DESC, cid ASC row_number = 1)
        if (csim > best || (csim == best && c < bestC)) {
          best = csim; bestC = c
        }
        x += 1
      }
      // g == 1 degenerates to a single probe (secG == bestG)
      if (secG == bestG) p = 2 else p += 1
    }
    bestC.toLong
  }

  /** TOP-2 cells of the two-level walk, packed as best·10⁶ + second
    * (cid < annTrainN = 384 ≪ 10⁶, so the pack is lossless): the kNN
    * join's home + boundary cells through the same 2-probe coarse
    * union as `nearestH2`, in ONE narrow scan. Tie rule everywhere:
    * (csim DESC, cid ASC) ≙ the oracle's row_numbers 1 and 2 over the
    * union. Requires the union to hold ≥ 2 cells - guaranteed for
    * g ≥ 2 (disjoint non-empty groups), which k ≥ 16 implies.
    */
  def nearestH2Top2(vec: ArrayData, cents: Array[Array[Double]],
                    members: Array[Array[Int]]): Long = {
    // the pack is lossless only while cid < 10⁶; trainN/cells knobs
    // (and the √n-grown defaults) can lift k arbitrarily, so fail
    // LOUDLY instead of silently corrupting both decoded cells
    require(cents.length < 1000000,
      s"two-level top-2 pack requires k < 1000000 cells, got ${cents.length}")
    val g = members.length
    var best = Double.NegativeInfinity
    var bestG = 0
    var sec = Double.NegativeInfinity
    var secG = 0
    var j = 0
    while (j < g) {
      val csim = cos1(vec, cents(j))
      if (csim > best) {
        sec = best; secG = bestG
        best = csim; bestG = j
      } else if (csim > sec) {
        sec = csim; secG = j
      }
      j += 1
    }
    var c1 = Int.MaxValue; var s1 = Double.NegativeInfinity
    var c2 = Int.MaxValue; var s2 = Double.NegativeInfinity
    var p = 0
    while (p < 2) {
      val grp = members(if (p == 0) bestG else secG)
      var x = 0
      while (x < grp.length) {
        val c = grp(x)
        val csim = cos1(vec, cents(c))
        if (csim > s1 || (csim == s1 && c < c1)) {
          s2 = s1; c2 = c1
          s1 = csim; c1 = c
        } else if (csim > s2 || (csim == s2 && c < c2)) {
          s2 = csim; c2 = c
        }
        x += 1
      }
      if (secG == bestG) p = 2 else p += 1
    }
    c1.toLong * 1000000L + c2.toLong
  }
}

/** graft_nearest_centroid(vec): argmax-cosine centroid id against a
  * plan-time centroid matrix (row index = centroid id). Built via the
  * Column API (the matrix is not SQL-expressible), used by ann_ivf's
  * assignment stage.
  */
case class NearestCentroid(child: Expression, cents: Seq[Seq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  @transient private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_centroid expects array<float>, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_nearest_centroid"

  override def nullSafeEval(v: Any): Any =
    IvfMath.nearest(v.asInstanceOf[ArrayData], centsArr)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", centsArr, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IvfMath.nearest($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_nearest_centroid_h2(vec): TWO-LEVEL argmax-cosine centroid id
  * against a plan-time centroid matrix whose prefix rows double as the
  * coarse leaders (`members(j)` = the cids parented to leader j, each
  * list cid-ascending). Same Column-API construction as
  * `NearestCentroid`; codegen'd, zero shuffle - the assignment kernel
  * whose per-row cost is 2·√k instead of k.
  */
case class NearestCentroidH2(child: Expression, cents: Seq[Seq[Double]],
                             members: Seq[Seq[Int]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  @transient private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient private lazy val membersArr: Array[Array[Int]] =
    members.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_centroid_h2 expects array<float>, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_nearest_centroid_h2"

  override def nullSafeEval(v: Any): Any =
    IvfMath.nearestH2(v.asInstanceOf[ArrayData], centsArr, membersArr)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val refC = ctx.addReferenceObj("cents", centsArr, "double[][]")
    val refM = ctx.addReferenceObj("members", membersArr, "int[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IvfMath.nearestH2($c, $refC, $refM)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_nearest_centroid_h2_top2(vec): home + boundary cells through
  * the two-level walk, packed best·10⁶ + second (see
  * `IvfMath.nearestH2Top2`) - the kNN join's probe cells in one
  * codegen'd scan at 3·√k per-row cost.
  */
case class NearestCentroidH2Top2(child: Expression,
                                 cents: Seq[Seq[Double]],
                                 members: Seq[Seq[Int]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  @transient private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient private lazy val membersArr: Array[Array[Int]] =
    members.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_centroid_h2_top2 expects array<float>, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_nearest_centroid_h2_top2"

  override def nullSafeEval(v: Any): Any =
    IvfMath.nearestH2Top2(v.asInstanceOf[ArrayData], centsArr, membersArr)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val refC = ctx.addReferenceObj("cents", centsArr, "double[][]")
    val refM = ctx.addReferenceObj("members", membersArr, "int[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IvfMath.nearestH2Top2($c, $refC, $refM)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_second_centroid(vec): second-best-cosine centroid id against
  * a plan-time centroid matrix — the kNN join's boundary-cell probe.
  * Built via the Column API like `NearestCentroid`; codegen'd, zero
  * shuffle.
  */
case class SecondCentroid(child: Expression, cents: Seq[Seq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  @transient private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_second_centroid expects array<float>, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_second_centroid"

  override def nullSafeEval(v: Any): Any =
    IvfMath.second(v.asInstanceOf[ArrayData], centsArr)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", centsArr, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IvfMath.second($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_top3_centroids(vec): the three nearest centroids packed as
  * c1·10¹² + c2·10⁶ + c3 — the multi-probe kNN join's probe cells in
  * one narrow codegen'd scan (never a k-way crossJoin + window). Same
  * construction as `SecondCentroid`.
  */
case class NearestCentroidTop3(child: Expression, cents: Seq[Seq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  @transient private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_top3_centroids expects array<float>, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_top3_centroids"

  override def nullSafeEval(v: Any): Any =
    IvfMath.top3(v.asInstanceOf[ArrayData], centsArr)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", centsArr, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IvfMath.top3($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_max_centroid_sim(vec): best cosine against a plan-time
  * centroid matrix - the per-point COST term of the k-means||
  * oversampling init (distance to the current candidate set). Built
  * via the Column API like `NearestCentroid`; codegen'd, zero shuffle.
  */
case class MaxCentroidSim(child: Expression, cents: Seq[Seq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  @transient private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_max_centroid_sim expects array<float>, got ${other.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_max_centroid_sim"

  override def nullSafeEval(v: Any): Any =
    IvfMath.maxSim(v.asInstanceOf[ArrayData], centsArr)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", centsArr, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IvfMath.maxSim($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SparkSessionExtensions entry point: builds that set
  * `spark.sql.extensions=graft.functions.GraftExtensions` get the graft
  * functions injected at session construction (no runtime registration
  * needed) - the standard way to ship the library onto a cluster.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", name)

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(graft.plans.TopKPerKeyStrategy(_))
    e.injectOptimizerRule(graft.plans.TopKWindowRewrite(_))
    e.injectFunction((FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "cosine similarity of two float vectors"),
      exprs => CosineSim(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_hamming"),
      info("graft_hamming", "hamming distance of two 64-bit keys"),
      exprs => HammingDist(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_md5_48"),
      info("graft_md5_48", "48-bit md5-prefix content hash"),
      exprs => Md5Prefix48(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_ts_us"),
      info("graft_ts_us", "event time as epoch-micros, any encoding"),
      exprs => TsMicros(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_simhash48"),
      info("graft_simhash48", "48-bit simhash of hashed tokens"),
      exprs => SimHash48(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_lsh_bucket"),
      info("graft_lsh_bucket", "random-hyperplane LSH bucket id"),
      exprs => NativeFunctions.lshBucketBuilder(exprs)))
    e.injectFunction((FunctionIdentifier("graft_bloom_contains"),
      info("graft_bloom_contains", "bloom-filter probe of a 64-bit key"),
      exprs => BloomMightContainLong(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_bloom_any"),
      info("graft_bloom_any", "bloom-filter probe of a 64-bit key array"),
      exprs => BloomAnyContain(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_top_bigram"),
      info("graft_top_bigram", "most frequent word bigram per document"),
      exprs => TopBigram(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_gram_hashes"),
      info("graft_gram_hashes", "distinct word n-gram 48-bit hashes"),
      exprs => NativeFunctions.gramHashesBuilder(exprs)))
    e.injectFunction((FunctionIdentifier("graft_gram_hashes_all"),
      info("graft_gram_hashes_all",
        "positional (non-distinct) word n-gram 48-bit hashes"),
      exprs => NativeFunctions.gramHashesAllBuilder(exprs)))
    e.injectFunction((FunctionIdentifier("graft_token_hashes"),
      info("graft_token_hashes", "per-token 48-bit hashes"),
      exprs => TokenHashes(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_dup_ngrams"),
      info("graft_dup_ngrams", "count of repeated word n-gram occurrences"),
      exprs => NativeFunctions.dupNgramsBuilder(exprs)))
    e.injectFunction((FunctionIdentifier("graft_qdot"),
      info("graft_qdot", "integer dot product of quantized vectors"),
      exprs => QDotInt(exprs(0), exprs(1))))
  }
}

object NativeFunctions {

  /** graft_lsh_bucket(vec) or graft_lsh_bucket(vec, planes) - planes
    * must be an integer literal (it shapes the sign matrix at plan time).
    */
  def lshBucketBuilder(exprs: Seq[Expression]): Expression = {
    val planes = exprs.lift(1) match {
      case None => 8
      case Some(org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
      case Some(other) => throw new IllegalArgumentException(
        s"graft_lsh_bucket planes must be an int literal, got $other")
    }
    // planes <= 0 would hash everything to bucket 0 and planes > 63
    // would silently wrap the 1L << j bit mask (overlapping bits) -
    // both produce wrong bucket ids with no error downstream
    require(planes >= 1 && planes <= 63,
      s"graft_lsh_bucket planes must be in [1, 63], got $planes")
    LshBucket(exprs.head, planes)
  }

  /** graft_gram_hashes(toks, n) - n must be an int literal >= 1. */
  def gramHashesBuilder(exprs: Seq[Expression]): Expression = {
    val n = exprs.lift(1) match {
      case Some(org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
      case other => throw new IllegalArgumentException(
        s"graft_gram_hashes n must be an int literal, got $other")
    }
    require(n >= 1, s"graft_gram_hashes n must be >= 1, got $n")
    GramHashes(exprs.head, n)
  }

  /** graft_gram_hashes_all(toks, n) - n must be an int literal >= 1. */
  def gramHashesAllBuilder(exprs: Seq[Expression]): Expression = {
    val n = exprs.lift(1) match {
      case Some(org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
      case other => throw new IllegalArgumentException(
        s"graft_gram_hashes_all n must be an int literal, got $other")
    }
    require(n >= 1, s"graft_gram_hashes_all n must be >= 1, got $n")
    GramHashesAll(exprs.head, n)
  }

  /** graft_dup_ngrams(toks, n) - n must be an int literal >= 1. */
  def dupNgramsBuilder(exprs: Seq[Expression]): Expression = {
    val n = exprs.lift(1) match {
      case Some(org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
      case other => throw new IllegalArgumentException(
        s"graft_dup_ngrams n must be an int literal, got $other")
    }
    require(n >= 1, s"graft_dup_ngrams n must be >= 1, got $n")
    DupNgrams(exprs.head, n)
  }

  /** Register the expressions as SQL temp functions so any query (or
    * `expr(...)` fragment) can call graft_cosine / graft_hamming in this
    * session. A name the session's registry already holds is skipped:
    * `Graft.ensureConf` runs before every operator, and replacing a
    * function logs one Spark WARN per name per call.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    def add(name: String, build: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(
            org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    add("graft_cosine", exprs => CosineSim(exprs(0), exprs(1)))
    add("graft_hamming", exprs => HammingDist(exprs(0), exprs(1)))
    add("graft_md5_48", exprs => Md5Prefix48(exprs.head))
    add("graft_ts_us", exprs => TsMicros(exprs.head))
    add("graft_simhash48", exprs => SimHash48(exprs.head))
    add("graft_lsh_bucket", lshBucketBuilder)
    add("graft_bloom_contains",
      exprs => BloomMightContainLong(exprs(0), exprs(1)))
    add("graft_bloom_any", exprs => BloomAnyContain(exprs(0), exprs(1)))
    add("graft_top_bigram", exprs => TopBigram(exprs.head))
    add("graft_dup_ngrams", dupNgramsBuilder)
    add("graft_gram_hashes", gramHashesBuilder)
    add("graft_gram_hashes_all", gramHashesAllBuilder)
    add("graft_token_hashes", exprs => TokenHashes(exprs.head))
    add("graft_qdot", exprs => QDotInt(exprs(0), exprs(1)))
  }
}
