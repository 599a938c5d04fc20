package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd array kernels for the embedding / fingerprint hot
  * paths (SURVEY §7.2 — custom `Expression` over UDF over nothing).
  *
  * Motivation (BENCH r2/r3): Spark's higher-order functions
  * (`aggregate`, `zip_with`, `transform`) do NOT participate in
  * whole-stage codegen — every lambda application is an interpreted
  * expression eval. An all-pairs cosine over 2k vectors × 64 dims ran
  * ~400M interpreted lambda steps (52-119 s on a contended host);
  * these kernels run the same arithmetic as a tight generated-Java
  * loop — same sequential fold order, bit-identical results, so every
  * DuckDB oracle built for the HOF forms stays exactly green.
  *
  * Null semantics mirror the HOF compositions they replace:
  *  - [[DotProductD]]/[[SquaredDistanceD]]: `zip_with` pads
  *    length-mismatched arrays with null and `aggregate`'s `+` absorbs
  *    it → null result on length mismatch or any null element;
  *  - [[SimHashPack]]: a null element hash voted −1 on every bit in
  *    the fold form (null condition → `otherwise(-1)`) → counts in n
  *    but not in the per-bit tally.
  */
abstract class ArrayPairFoldD extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // result may be null on length mismatch even for non-null inputs
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<float|double> args, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  /** Per-pair term in Java source; `xa`/`xb` are double variable names. */
  protected def termJava(xa: String, xb: String): String
  /** Same term, interpreted. */
  protected def termScala(xa: Double, xb: Double): Double

  private def getD(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (arrA, arrB) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = arrA.numElements()
    if (arrB.numElements() != n) return null
    val (ta, tb) = (elemType(left), elemType(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (arrA.isNullAt(i) || arrB.isNullAt(i)) return null
      acc += termScala(getD(arrA, i, ta), getD(arrB, i, tb))
      i += 1
    }
    acc
  }

  private def getJava(arr: String, i: String, t: DataType): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, acc, xa, xb) = (ctx.freshName("n"), ctx.freshName("i"),
        ctx.freshName("acc"), ctx.freshName("xa"), ctx.freshName("xb"))
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xa = ${getJava(a, i, elemType(left))};
         |    final double $xb = ${getJava(b, i, elemType(right))};
         |    $acc += ${termJava(xa, xb)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
}

/** Σ aᵢ·bᵢ in double precision, sequential fold order — drop-in for
  * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)),
  * 0.0, _ + _)`. */
case class DotProductD(left: Expression, right: Expression) extends ArrayPairFoldD {
  override def prettyName: String = "dot_double"
  override protected def termJava(xa: String, xb: String): String = s"$xa * $xb"
  override protected def termScala(xa: Double, xb: Double): Double = xa * xb
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ (aᵢ−bᵢ)² in double precision, sequential fold order. */
case class SquaredDistanceD(left: Expression, right: Expression) extends ArrayPairFoldD {
  override def prettyName: String = "sqdist_double"
  override protected def termJava(xa: String, xb: String): String =
    s"($xa - $xb) * ($xa - $xb)"
  override protected def termScala(xa: Double, xb: Double): Double = {
    val d = xa - xb; d * d
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** SimHash-64 bit-vote packing over an array of 64-bit word hashes:
  * for each bit b, the sign of Σ votes (+1 if bit set, −1 otherwise;
  * null hash votes −1) packed as bit b of one long. Replaces 64
  * interpreted `aggregate` folds per row with one generated loop. */
case class SimHashPack(child: Expression) extends UnaryExpression {
  override def prettyName: String = "simhash_pack"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<bigint>, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val cnt = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 64) { cnt(b) += ((h >>> b) & 1L).toInt; b += 1 }
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 64) { if (2L * cnt(b) - n > 0) r |= 1L << b; b += 1 }
    r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val (n, i, b, h, cnt, r) = (ctx.freshName("n"), ctx.freshName("i"),
        ctx.freshName("b"), ctx.freshName("h"), ctx.freshName("cnt"),
        ctx.freshName("res"))
      s"""
         |final int $n = $arr.numElements();
         |final int[] $cnt = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    final long $h = $arr.getLong($i);
         |    for (int $b = 0; $b < 64; $b++) $cnt[$b] += (int) (($h >>> $b) & 1L);
         |  }
         |}
         |long $r = 0L;
         |for (int $b = 0; $b < 64; $b++) if (2L * $cnt[$b] - $n > 0) $r |= 1L << $b;
         |${ev.value} = $r;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Runtime for [[MinHashSig]]: one pass over the shingle array
  * computing all k seeded-md5 minima with a reused per-thread digest.
  * Called from both interpreted eval and generated code (Scala object
  * methods get static forwarders, same pattern as
  * [[graft.stats.Distributions]]).
  *
  * Equivalence argument for the digest-level min: the hex alphabet
  * `0-9a-f` is strictly increasing in ASCII and each byte maps to two
  * hex chars monotonically, so unsigned byte-wise comparison of two
  * 16-byte digests orders exactly like comparing their 32-char hex
  * strings — the kernel can keep raw digests and hex-encode only the
  * k winners. */
object MinHashKernel {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val Hex = "0123456789abcdef".toCharArray

  /** Per-k cache of the `"j:"` seed-prefix byte arrays — a pure
    * function of k, but [[sig]] runs once per ROW from generated code,
    * so building k strings + byte arrays per call would be tens of
    * millions of avoidable allocations at corpus scale. Bounded by the
    * distinct k values used in a JVM (one or two in practice). */
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def prefixes(k: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(k, kk => Array.tabulate(kk)(j =>
      (j.toString + ":").getBytes(java.nio.charset.StandardCharsets.US_ASCII)))

  private def hex32(d: Array[Byte]): UTF8String = {
    val cs = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      cs(2 * i) = Hex((d(i) >> 4) & 0xf).toByte
      cs(2 * i + 1) = Hex(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(cs)
  }

  /** k lexicographic-min seeded digests of `shingles`; null elements
    * are skipped (array_min semantics), an empty / all-null / NULL
    * array yields a null in every slot — matching the fold form,
    * where `array(array_min(transform(null, ...)), ...)` builds a
    * non-null array of k nulls (the `array` constructor never
    * returns NULL). */
  def sig(shingles: ArrayData, k: Int): ArrayData = {
    val md = mdLocal.get()
    val pre = prefixes(k)
    var j = 0
    val best = new Array[Array[Byte]](k)
    val tmp = new Array[Byte](16)
    val n = if (shingles == null) 0 else shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val sBytes = shingles.getUTF8String(i).getBytes
        j = 0
        while (j < k) {
          md.reset()
          md.update(pre(j))
          md.update(sBytes)
          md.digest(tmp, 0, 16)
          if (best(j) == null) best(j) = java.util.Arrays.copyOf(tmp, 16)
          else if (java.util.Arrays.compareUnsigned(tmp, best(j)) < 0)
            System.arraycopy(tmp, 0, best(j), 0, 16)
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](k)
    j = 0
    while (j < k) {
      if (best(j) != null) out(j) = hex32(best(j))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** MinHash signature kernel: array of k lexicographic-min
  * `md5(j || ':' || shingle)` hex strings — drop-in for the k-fold
  * `array((0 until k).map(j => array_min(transform(sh, s =>
  * md5(concat(lit(j + ":"), s))))))` composition, which materializes
  * k intermediate hash arrays per row and evaluates every md5 through
  * interpreted higher-order-function lambdas (the BENCH r6b dd2
  * honest-timing finding: 6.2 s at sf0.1). One generated call per row
  * computes all k minima in a single pass with a reused MessageDigest
  * and no intermediate arrays; results stay bit-identical, so the
  * DuckDB `list_min(list_transform(...))` oracles hold unchanged.
  *
  * `k` must be a foldable positive integer (it sizes the output
  * array at plan time). */
case class MinHashSig(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  // never NULL: a NULL shingle array folds to k null SLOTS, exactly
  // like the array(array_min(...)) composition it replaces
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) =>
      if (right.dataType != IntegerType || !right.foldable)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a foldable int k, got ${right.sql}")
      else right.eval() match {
        case k: Int if k >= 1 => TypeCheckResult.TypeCheckSuccess
        case k => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs k >= 1, got $k")
      }
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string> shingles, got ${t.catalogString}")
  }

  private lazy val kVal: Int = right.eval().asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    MinHashKernel.sig(left.eval(input).asInstanceOf[ArrayData], kVal)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral}
    val c = left.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        |${c.code}
        |final $javaType ${ev.value} = graft.functions.MinHashKernel.sig(
        |  ${c.isNull} ? null : ${c.value}, ${kVal.toString});
        |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Runtime for [[WordNGrams]]: sliding word n-grams in one generated
  * call. The `transform(sequence(...), i -> concat_ws(...))` HOF form
  * it replaces evaluates every window as an interpreted lambda — the
  * same non-codegen tax [[MinHashKernel]] removed from the signature
  * path, here removed from shingle GENERATION (paid by every
  * dd3/dd6/dd7/dd8/dd9 run). Semantics preserved exactly:
  * `UTF8String.concatWs` skips null tokens like concat_ws does, a
  * shorter-than-n (or NULL) array yields the empty array. */
object WordNGramsKernel {
  private val Space = UTF8String.fromString(" ")
  private val Empty = new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])

  def grams(ws: ArrayData, n: Int): ArrayData = {
    if (ws == null) return Empty
    val sz = ws.numElements()
    if (sz < n) return Empty
    val toks = new Array[UTF8String](sz)
    var i = 0
    while (i < sz) {
      toks(i) = if (ws.isNullAt(i)) null else ws.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](sz - n + 1)
    val window = new Array[UTF8String](n)
    i = 0
    while (i <= sz - n) {
      var j = 0
      while (j < n) { window(j) = toks(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Sliding word n-gram expression — see [[WordNGramsKernel]]. `n` must
  * be a foldable positive integer. */
case class WordNGrams(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "word_ngrams"
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  // never NULL: short/NULL inputs yield the EMPTY array, exactly like
  // the when(size >= n, transform(...)).otherwise(array()) composition
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) =>
      if (right.dataType != IntegerType || !right.foldable)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a foldable int n, got ${right.sql}")
      else right.eval() match {
        case n: Int if n >= 1 => TypeCheckResult.TypeCheckSuccess
        case n => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs n >= 1, got $n")
      }
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string> words, got ${t.catalogString}")
  }

  private lazy val nVal: Int = right.eval().asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    WordNGramsKernel.grams(left.eval(input).asInstanceOf[ArrayData], nVal)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral}
    val c = left.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        |${c.code}
        |final $javaType ${ev.value} = graft.functions.WordNGramsKernel.grams(
        |  ${c.isNull} ? null : ${c.value}, ${nVal.toString});
        |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Interpreted core of [[HyperplaneBuckets]] — the multi-table
  * sign-bucket computation as tight JVM loops over a plane matrix held
  * as DATA. The literal-expression form
  * ([[graft.llm.Similarity.hyperplaneBucket]]) inlines tables × bits ×
  * dim literal terms into generated code; past ~1 table of 10×64
  * planes the generated method blows HotSpot's JIT size limit and runs
  * INTERPRETED — the r8 ANN recall curve measured a 10x cliff from 1
  * table to 2. This kernel is one small JIT-friendly loop whatever the
  * table count, bit-identical to the literal form (same per-plane
  * sequential dot fold, same NaN-as-set-bit and null contracts —
  * spec-pinned in LlmSpec). */
object HyperplaneBucketsKernel {
  def buckets(vec: ArrayData, isFloat: Boolean, planes: Array[Array[Double]],
              tables: Int, bits: Int): ArrayData = {
    val dim = if (planes.nonEmpty) planes(0).length else 0
    val n = vec.numElements()
    var anyNull = n != dim
    var i = 0
    while (!anyNull && i < n) {
      if (vec.isNullAt(i)) anyNull = true
      i += 1
    }
    // dotD yields null on length mismatch or any null element, and all
    // planes share dim — so every table's bucket goes null together
    if (anyNull)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](tables))
    val v = new Array[Double](dim)
    i = 0
    while (i < dim) {
      v(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var b = 0
      var j = 0
      while (j < bits) {
        val p = planes(t * bits + j)
        var d = 0.0
        var k = 0
        while (k < dim) { d += p(k) * v(k); k += 1 }
        if (d >= 0 || java.lang.Double.isNaN(d)) b |= (1 << j)
        j += 1
      }
      out(t) = b
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** All `tables` hyperplane sign-buckets of a vector as one expression
  * node: array<int> indexed by table, null elements under the dotD
  * null contract — see [[HyperplaneBucketsKernel]]. `planes` is the
  * flattened (tables × bits) plane matrix, a codegen reference
  * object. */
case class HyperplaneBuckets(child: Expression, planes: Array[Array[Double]],
                             tables: Int, bits: Int) extends UnaryExpression {
  override def prettyName: String = "hyperplane_buckets"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      if (planes.length == tables * bits) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName got ${planes.length} planes for $tables tables x $bits bits")
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double>, got ${t.catalogString}")
  }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    HyperplaneBucketsKernel.buckets(v.asInstanceOf[ArrayData], isFloat,
      planes, tables, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("hpPlanes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.HyperplaneBucketsKernel.buckets(" +
        s"$v, $isFloat, $planesRef, $tables, $bits);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Largest index i with `times(i) <= key` (classic binary search over a
  * strictly-increasing double axis), −1 when every entry is later. The
  * backbone of the broadcast as-of fast path
  * ([[graft.ops.AsOf.asofBackwardGlobal]]): both sides map their time
  * to an index against the SAME reference array, turning the as-of
  * range match into a plain broadcast hash equi-join — zero shuffle of
  * the probe side. A NaN key matches the LAST entry: both engines
  * order NaN above every value (Spark sort, DuckDB comparison), so the
  * keyed window recipe and DuckDB's native ASOF both hand a NaN-timed
  * left row the latest right row — this kernel must agree. Integral
  * time axes use [[BinarySearchLELong]] instead (a long beyond 2^53
  * would collapse distinct doubles). */
case class BinarySearchLE(child: Expression, times: Array[Double])
    extends UnaryExpression {
  override def prettyName: String = "binary_search_le"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a double key, got ${t.catalogString}")
  }

  override def nullSafeEval(key: Any): Any =
    BinarySearchLE.le(key.asInstanceOf[Double], times)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("asofTimes", times, "double[]")
    nullSafeCodeGen(ctx, ev, k =>
      s"${ev.value} = graft.functions.BinarySearchLE.le($k, $ref);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object BinarySearchLE {
  def le(key: Double, times: Array[Double]): Int = {
    if (java.lang.Double.isNaN(key)) return times.length - 1 // NaN sorts last
    var lo = 0
    var hi = times.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (times(mid) <= key) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    ans
  }
}

/** [[BinarySearchLE]] over an exact long axis — timestamps (micros),
  * dates (days), and integral numeric time columns, where a cast to
  * double would lose precision beyond 2^53 and could match the wrong
  * right row or spuriously collapse genuinely distinct times. */
case class BinarySearchLELong(child: Expression, times: Array[Long])
    extends UnaryExpression {
  override def prettyName: String = "binary_search_le_long"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a long key, got ${t.catalogString}")
  }

  override def nullSafeEval(key: Any): Any =
    BinarySearchLELong.le(key.asInstanceOf[Long], times)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("asofTimesL", times, "long[]")
    nullSafeCodeGen(ctx, ev, k =>
      s"${ev.value} = graft.functions.BinarySearchLELong.le($k, $ref);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object BinarySearchLELong {
  def le(key: Long, times: Array[Long]): Int = {
    var lo = 0
    var hi = times.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (times(mid) <= key) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    ans
  }
}

/** |a ∩ b| of two SORTED long arrays by a zero-allocation two-pointer
  * merge walk — the verification kernel of the prefix-filter
  * similarity join ([[graft.llm.Dedup.prefixFilterPairs]]), where
  * `array_intersect` per collision row would build and probe a hash
  * set per evaluation (the r10 redesign runs this on every collision
  * ROW — hundreds of millions at scale — so per-row allocation is the
  * difference between a map-side filter and a second bottleneck).
  * Inputs must be sorted ascending and duplicate-free (sort_array ∘
  * array_distinct upstream); null ELEMENTS are skipped (none occur —
  * elements are xxhash64 outputs — but the kernel stays total). */
case class SortedOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "sorted_overlap_count"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<bigint> args, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedOverlapCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedOverlapCount.count($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedOverlapCount {
  /** Shared by interpreted eval and generated code. Dispatches to a
    * monomorphic UnsafeArrayData walk when possible: the generic
    * ArrayData walk pays a megamorphic isNullAt + getLong dispatch
    * PER ELEMENT, measured at ~6 µs per 2×45-element evaluation by a
    * retired microbenchmark (BASELINE.md "Retired probes") — ~20× the
    * flat-array walk — which multiplied into
    * minutes over dd_prefix's 350M collision rows at the 100× leg.
    * The head-only null check is sound because sortedness is already
    * the kernel's precondition and sort_array places nulls FIRST: a
    * non-null head means a null-free array, and a null anywhere else
    * means the input violated the sorted contract (garbage in either
    * path). */
  def count(a: ArrayData, b: ArrayData): Long = (a, b) match {
    case (ua: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData,
          ub: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData)
        if (ua.numElements() == 0 || !ua.isNullAt(0)) &&
          (ub.numElements() == 0 || !ub.isNullAt(0)) =>
      countUnsafe(ua, ub)
    case _ => countGeneric(a, b)
  }

  private def countUnsafe(
      a: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData,
      b: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  private def countGeneric(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) { c += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    c
  }
}

/** Column-API entry points for the kernels. */
object ArrayKernels {
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  def dotD(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductD(ex(a), ex(b)))

  def sqDistD(a: Column, b: Column): Column =
    ColumnBridge.column(SquaredDistanceD(ex(a), ex(b)))

  def simhashPack(hashes: Column): Column =
    ColumnBridge.column(SimHashPack(ex(hashes)))

  def sortedOverlapCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedOverlapCount(ex(a), ex(b)))

  def minhashSig(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashSig(ex(shingles),
      org.apache.spark.sql.catalyst.expressions.Literal(k)))

  def wordNGrams(ws: Column, n: Int): Column =
    ColumnBridge.column(WordNGrams(ex(ws),
      org.apache.spark.sql.catalyst.expressions.Literal(n)))

  /** All tables' hyperplane sign-buckets of `v` as array<int> (index =
    * table). `planes` in [[graft.llm.Similarity.hyperplaneTables]]'
    * (tables, bits, dim) nesting. */
  def hyperplaneBuckets(v: Column, planes: Seq[Seq[Array[Double]]]): Column = {
    val tables = planes.length
    val bits = if (planes.isEmpty) 0 else planes.head.length
    ColumnBridge.column(HyperplaneBuckets(ex(v),
      planes.flatten.toArray, tables, bits))
  }
}
