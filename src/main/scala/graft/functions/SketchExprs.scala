package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/* Native sketch expressions over a word-hash array — the hot inner
  * loops of the dedup path. Arithmetic is EXACTLY the lambda forms in
  * [[XSql]] (which the DuckDB oracle still runs), so results stay
  * bit-identical; these exist because the interpreted higher-order-
  * function path costs ~600µs/doc while a native loop is ~1µs.
  */

/** `graft_simhash(wh)` — 30-bit sign-aggregate SimHash (XSql.simhash). */
case class SimHash30(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHash30.hash(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash30.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash30 {
  def hash(wh: ArrayData): Long = {
    val n = wh.numElements()
    var out = 0L
    var b = 0
    while (b < XSql.SimhashBits) {
      var vote = 0L
      var i = 0
      while (i < n) {
        vote += (if (((wh.getLong(i) >> b) & 1L) == 1L) 1L else -1L)
        i += 1
      }
      if (vote > 0) out += (1L << b)
      b += 1
    }
    out
  }
}

/** `graft_minhash_sig(sh)` — k=16 MinHash signature (XSql.minhashSig).
  * An EMPTY shingle array has no defined signature: the result is NULL,
  * matching the guarded lambda/oracle form (a min over nothing is not a
  * hash — returning sentinel values here would silently poison LSH
  * band joins with colliding all-MAX signatures).
  */
case class MinHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else MinHashSig.sig(arr)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      if ($c.numElements() == 0) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.MinHashSig.sig($c);
      }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_lsh_bucket(v)` — random-hyperplane LSH bucket of a double
  * vector: sign bits of dot products against the fixed pseudo-random
  * planes w(p,d) = ((A2[p]*(d+1)+B2[p]) mod 2001 - 1000)/1000, packed
  * into a BIGINT. Same fold order as the lambda form the oracle runs.
  */
case class LshBucket(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.DoubleType

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_bucket expects array<double>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    LshBucket.bucket(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LshBucket.bucket($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBucket {
  private val A2 = XSql.A2.toArray
  private val B2 = XSql.B2.toArray

  private val Planes = XSql.LshPlanes

  /** w(p, i) at `weights(i * Planes + p)`, computed once per
    * dimension and grown (replaced whole, so a reader never sees a
    * half-filled table) the first time a longer vector comes.
    */
  @volatile private var weights: Array[Double] = table(64)

  private def table(dims: Int): Array[Double] =
    Array.tabulate(dims * Planes) { j =>
      val (i, p) = (j / Planes, j % Planes)
      ((A2(p) * (i + 1) + B2(p)) % XSql.PlaneMod - 1000).toDouble / 1000.0
    }

  /** One pass over `v` feeds all plane sums side by side. Each plane
    * still adds its products in dimension order, so every sum — and
    * so every bucket — is bit-identical to the plane-by-plane fold
    * (the oracle's lambda form and [[bucketN]]); the planes'
    * independent add chains overlap.
    */
  def bucket(v: ArrayData): Long = {
    val n = v.numElements()
    var w = weights
    if (w.length < n * Planes) {
      w = table(math.max(n, 2 * w.length / Planes)); weights = w
    }
    val acc = new Array[Double](Planes)
    var i = 0
    while (i < n) {
      val x = v.getDouble(i)
      val at = i * Planes
      var p = 0
      while (p < Planes) {
        acc(p) += x * w(at + p)
        p += 1
      }
      i += 1
    }
    var out = 0L
    var p = 0
    while (p < Planes) {
      if (acc(p) > 0) out += (1L << p)
      p += 1
    }
    out
  }

  /** Variable-width variant: plane coefficients come from the
    * generating FORMULA (`XSql.A2`/`B2` are its first
    * [[XSql.LshPlanes]] values), so any plane count up to 63 works
    * without pre-sized constant arrays — the occupancy-capped width
    * c12 derives from the corpus size. Identical to [[bucket]] when
    * `planes == XSql.LshPlanes`.
    */
  def bucketN(v: ArrayData, planes: Int): Long = {
    val n = v.numElements()
    var out = 0L
    var p = 0
    while (p < planes) {
      val a = (1103515245L * (p + 7) + 12345L) % 1000003L
      val b = (69069L * (p + 13) + 3571L) % 1000003L
      var acc = 0.0
      var i = 0
      while (i < n) {
        val w = ((a * (i + 1) + b) % XSql.PlaneMod - 1000).toDouble / 1000.0
        acc += v.getDouble(i) * w
        i += 1
      }
      if (acc > 0) out += (1L << p)
      p += 1
    }
    out
  }
}

/** `graft_lsh_bucket_n(v, planes)` — [[LshBucket]] at a caller-chosen
  * plane count: the occupancy-capped LSH width (planes grows
  * logarithmically with the corpus so expected bucket occupancy stays
  * constant — the lever that keeps bucket-join candidate generation
  * LINEAR when corpus and probe set co-scale; a fixed width is
  * measurably superlinear at 10× data).
  */
case class LshBucketN(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{DoubleType, IntegerType}

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket_n"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_lsh_bucket_n expects (array<double>, int), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(v: Any, p: Any): Any =
    LshBucket.bucketN(v.asInstanceOf[ArrayData], p.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, p) => s"graft.functions.LshBucket.bucketN($v, $p)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** `graft_word_hashes(text)` — 31-poly charHash of every non-empty
  * ' '-separated word, in order. One native pass over the string:
  * replaces the interpreted `transform(filter(split(text,' '),...),...)`
  * lambda chain (~1 ms/doc on the HOF path — the dominant per-document
  * cost of the text/dedup pipeline; this is ~1 µs).
  */
case class WordHashes(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.StringType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_word_hashes expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextHashes.wordHashArray(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextHashes.wordHashArray($c))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_shingles(text)` — SORTED-distinct word-3-gram shingle hashes
  * straight from the text. Values are exactly the lambda pipeline's
  * (`shingleHashes(wordHashes(words(text)))`); only the order differs
  * (sorted vs first-occurrence), and every consumer — minhash, LSH
  * bands, jaccard-by-intersection — is order-invariant. Sorted output
  * also lets [[IntersectSize]] skip its per-pair sort.
  */
case class ShingleSet(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.StringType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    TextHashes.shingles(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.shingles($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextHashes {
  import org.apache.spark.unsafe.types.UTF8String

  /** charHash of each non-empty ' '-separated word (single pass,
    * accumulating the polynomial while scanning — no word substrings
    * are materialized). Identical to
    * `transform(filter(split(text,' '), w->w!=''), w->charHash(w))`:
    * split(' ') treats ONLY the space character as a separator.
    */
  def wordHashArray(s: UTF8String): Array[Long] = {
    val str = s.toString
    var buf = new Array[Long](16)
    var m = 0
    var acc = XSql.H0
    var len = 0
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      if (cp == ' ') {
        if (len > 0) {
          if (m == buf.length) buf = java.util.Arrays.copyOf(buf, m * 2)
          buf(m) = acc; m += 1
        }
        acc = XSql.H0; len = 0
      } else {
        acc = (acc * XSql.CharM + cp) % XSql.P
        len += 1
      }
      i += Character.charCount(cp)
    }
    if (len > 0) {
      if (m == buf.length) buf = java.util.Arrays.copyOf(buf, m + 1)
      buf(m) = acc; m += 1
    }
    java.util.Arrays.copyOf(buf, m)
  }

  /** Sorted-distinct 3-gram shingle hashes of the word-hash sequence. */
  def shingles(s: UTF8String): ArrayData = {
    val wh = wordHashArray(s)
    val n = wh.length - 2
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val sh = new Array[Long](n)
    var i = 0
    while (i < n) {
      sh(i) = (((wh(i) * XSql.WordM + wh(i + 1)) % XSql.P) * XSql.WordM + wh(i + 2)) % XSql.P
      i += 1
    }
    java.util.Arrays.sort(sh)
    var m = 0
    i = 0
    while (i < n) {
      if (m == 0 || sh(i) != sh(m - 1)) { sh(m) = sh(i); m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sh, m))
  }
}

object MinHashSig {
  private val A = XSql.A.toArray
  private val B = XSql.B.toArray

  def sig(sh: ArrayData): ArrayData = {
    val n = sh.numElements()
    val out = new Array[Long](XSql.MinhashK)
    var j = 0
    while (j < XSql.MinhashK) {
      var mn = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = (A(j) * sh.getLong(i) + B(j)) % XSql.P
        if (v < mn) mn = v
        i += 1
      }
      out(j) = mn
      j += 1
    }
    new GenericArrayData(out)
  }
}
