package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst cosine similarity over two array<double> columns.
  *
  * The higher-order-function formulation (aggregate + zip_with, see
  * PipelineQueries.cosine) is CodegenFallback — every element evaluation is
  * interpreted. This expression generates a fused Java loop (dot product and
  * both norms in one pass), keeping the whole stage inside codegen — the
  * preferred extension tier when built-ins can't express the computation
  * efficiently (custom Expression > UDF).
  *
  * Semantics match the HOF version bit-for-bit: element-order sequential
  * accumulation, dot / (sqrt(na) * sqrt(nb)); null-free input arrays
  * assumed (embedding vectors). Arrays of unequal length use the common
  * prefix for the dot product and each array's full length for its norm —
  * same as zip_with's null-padding followed by aggregate ignoring nulls
  * would NOT do, so equal lengths are the supported contract (enforced by
  * the embedding pipeline's fixed dimension).
  */
case class ArrayCosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity requires array<double> inputs, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    i = n
    while (i < a.numElements()) { val x = a.getDouble(i); na += x * x; i += 1 }
    i = n
    while (i < b.numElements()) { val y = b.getDouble(i); nb += y * y; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i); double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |for (int $i = $n; $i < $a.numElements(); $i++) {
         |  double $x = $a.getDouble($i); $na += $x * $x;
         |}
         |for (int $i = $n; $i < $b.numElements(); $i++) {
         |  double $y = $b.getDouble($i); $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst dot product over two array<double> columns — the
  * random-hyperplane LSH hot path (32 sign bits per vector in q34): the HOF
  * formulation is CodegenFallback, this stays inside whole-stage codegen.
  * Sequential element-order accumulation over the common prefix, matching
  * both the HOF fold and DuckDB's list_dot_product at 6 dp.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires array<double> inputs, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "dot_product"

  /** Foldable-plane fast path: `typedLit(plane)` literals are
    * GenericArrayData over BOXED doubles, and getDouble unboxes per
    * element — an LSH projection evaluates 128 planes × 64 dims PER ROW,
    * i.e. ~8k pointer-chasing unboxings where a primitive `double[]` read
    * costs one load. Fold the constant side to a primitive array once
    * (driver-side at codegen; lazily per-executor for the interpreted
    * path) and loop over it directly.
    */
  @transient private lazy val constRight: Option[Array[Double]] =
    if (right.foldable)
      Option(right.eval(null)).map(_.asInstanceOf[ArrayData].toDoubleArray())
    else None
  @transient private lazy val constLeft: Option[Array[Double]] =
    if (left.foldable)
      Option(left.eval(null)).map(_.asInstanceOf[ArrayData].toDoubleArray())
    else None

  override def nullSafeEval(l: Any, r: Any): Any = (constLeft, constRight) match {
    case (_, Some(arr)) => dotPrim(l.asInstanceOf[ArrayData], arr)
    case (Some(arr), _) => dotPrim(r.asInstanceOf[ArrayData], arr)
    case _ =>
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
      dot
  }

  private def dotPrim(a: ArrayData, b: Array[Double]): Double = {
    val n = math.min(a.numElements(), b.length)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getDouble(i) * b(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def primLoop(varSide: String, arrRef: String): String = {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($varSide.numElements(), $arrRef.length);
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $varSide.getDouble($i) * $arrRef[$i];
         |}
         |${ev.value} = $dot;
       """.stripMargin
    }
    (constLeft, constRight) match {
      case (_, Some(arr)) =>
        val ref = ctx.addReferenceObj("dotPlane", arr, "double[]")
        nullSafeCodeGen(ctx, ev, (a, _) => primLoop(a, ref))
      case (Some(arr), _) =>
        val ref = ctx.addReferenceObj("dotPlane", arr, "double[]")
        nullSafeCodeGen(ctx, ev, (_, b) => primLoop(b, ref))
      case _ =>
        nullSafeCodeGen(ctx, ev, (a, b) => {
          val n = ctx.freshName("n")
          val i = ctx.freshName("i")
          val dot = ctx.freshName("dot")
          s"""
             |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
             |double $dot = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $dot += $a.getDouble($i) * $b.getDouble($i);
             |}
             |${ev.value} = $dot;
           """.stripMargin
        })
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SimHash-64 driver loop, shared by the interpreted eval and the generated
  * code (the codegen calls this static method — the 64-counter loop is not
  * worth inlining into generated Java).
  *
  * Semantics are EXACTLY the q27 aggregate formulation it replaces: per
  * token t, h = xxhash64(t) (Spark seed 42; a null element contributes the
  * seed, matching xxhash64(null)); bit b of the signature is set iff
  * Σ_tokens (bit_b(h) ? +1 : −1) > 0. Addition is commutative, so the
  * per-document result is independent of token order and equals the old
  * explode → 64×sum(when) → groupBy(doc) plan bit-for-bit — without the
  * 1M-row explode, the 64-buffer hash aggregate, or its exchange
  * (round-16 optimization; guide §4: keep the hot path in codegen).
  */
object SimHash64 {
  def compute(a: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val h =
        if (a.isNullAt(i)) 42L
        else org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          a.getUTF8String(i), org.apache.spark.sql.types.StringType, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}

/** MinHash band-signature driver loop — the map-side twin of
  * MinHashStore.bandSignatures' aggregate formulation, shared by the
  * interpreted eval and the generated code. For each distinct shingle hash
  * h, the 96 per-seed values are xxhash64(h, i) — replicated EXACTLY via
  * XxHash64Function.hash folds (Long child then Int child, seed 42), so
  * min-per-seed and the per-band xxhash64 over 4 mins are bit-identical to
  * the aggregate face (min commutes; GraftFunctionsSpec pins equality).
  * Returns the 24 band signatures; the band id is the array position.
  */
object MinHashBandSigs {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.types.{IntegerType, LongType}

  def compute(a: ArrayData): ArrayData = {
    val nh = graft.operators.MinHashStore.NumHashes
    val br = graft.operators.MinHashStore.BandRows
    val nb = graft.operators.MinHashStore.NumBands
    val mins = Array.fill(nh)(Long.MaxValue)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val base = XxHash64Function.hash(a.getLong(i), LongType, 42L)
      var s = 0
      while (s < nh) {
        val v = XxHash64Function.hash(Integer.valueOf(s), IntegerType, base)
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    val sigs = new Array[Long](nb)
    var b = 0
    while (b < nb) {
      var acc = 42L
      var r = 0
      while (r < br) {
        acc = XxHash64Function.hash(mins(b * br + r), LongType, acc)
        r += 1
      }
      sigs(b) = acc
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }
}

/** `minhash_band_sigs(array<long>) -> array<long>[24]` — per-document
  * MinHash band signatures as ONE map-side codegen expression (see
  * [[MinHashBandSigs]]). An empty input array gives NULL, so the document
  * yields no row after an explode (the aggregate face emits none either).
  */
case class MinHashBandSigsExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_band_sigs requires array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  // NULL for an EMPTY input array (not Long.MaxValue-derived band sigs):
  // the aggregate face this expression is documented bit-identical to
  // (MinHashStore.bandSignatures) emits NO row for a doc with no shingles,
  // and a signature row here would band-collide every empty doc (r16
  // ADVICE). In-repo callers never produce empty arrays (shinglesOf yields
  // ≥ 1 element); posexplode drops the null, matching "no row".
  override def nullable: Boolean = true

  override def prettyName: String = "minhash_band_sigs"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else MinHashBandSigs.compute(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |if ($a.numElements() == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.MinHashBandSigs.compute($a); }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `simhash64(array<string>) -> bigint` — the per-document SimHash
  * signature as ONE map-side codegen expression (see [[SimHash64]]). An
  * empty input array gives NULL, which means no row after an explode or a
  * null-dropping filter (the aggregate face emits none either).
  */
case class SimHash64Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  // NULL for an EMPTY input array (not the all-bits-zero signature): the
  // aggregate face this expression is documented bit-identical to (the q27
  // explode → 64×sum formulation) emits NO row for a doc with no tokens,
  // and sig 0 here would pair every empty doc (r16 ADVICE). In-repo
  // callers never produce empty arrays (split yields ≥ 1 element).
  override def nullable: Boolean = true

  override def prettyName: String = "simhash64"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else SimHash64.compute(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |if ($a.numElements() == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.SimHash64.compute($a); }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-bigram run-length driver loop, shared by the interpreted eval and
  * the generated code. Semantics are EXACTLY the HOF formulation it
  * replaces (PipelineQueries.topBigramRun over the signalCols bigram
  * spelling): from the token array ws, bigram i = concat_ws(" ",
  * slice(ws, i, 2)) for i in 1..max(1, n−1) — so a 1-token doc's only
  * "bigram" is the token itself and an empty doc's is "" — each bigram
  * hashed with xxhash64 (seed 42), the hashes sorted ascending, and the
  * longest run of equal adjacent values returned. The HOF version walked
  * three interpreted lambda layers (transform → array_sort → aggregate
  * over a struct accumulator) and BUILT every bigram string through
  * concat_ws; this loop hashes the two tokens' bytes plus the separator
  * in one pass and never leaves whole-stage codegen (round-17
  * optimization; guide §1.2 step 2 / §4: keep the hot path in codegen).
  * concat_ws's null handling is mirrored (null tokens are skipped, no
  * doubled separator); equality with the HOF face is pinned on random
  * data in GraftFunctionsSpec.
  */
object TopBigramRun {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  private val Space = UTF8String.fromString(" ")

  private def hashOf(s: UTF8String): Long =
    XxHash64Function.hash(s, StringType, 42L)

  def compute(a: ArrayData): Long = {
    val n = a.numElements()
    val m = math.max(1, n - 1)
    val hs = new Array[Long](m)
    if (n <= 1) {
      // n == 0: concat_ws over the empty slice is ""; n == 1: the token
      // itself (a null token is skipped by concat_ws, yielding "").
      val s = if (n == 1 && !a.isNullAt(0)) a.getUTF8String(0)
        else UTF8String.EMPTY_UTF8
      hs(0) = hashOf(s)
    } else {
      var i = 0
      while (i < m) {
        val x = if (a.isNullAt(i)) null else a.getUTF8String(i)
        val y = if (a.isNullAt(i + 1)) null else a.getUTF8String(i + 1)
        val s =
          if (x == null && y == null) UTF8String.EMPTY_UTF8
          else if (x == null) y
          else if (y == null) x
          else UTF8String.concat(x, Space, y)
        hs(i) = hashOf(s)
        i += 1
      }
    }
    java.util.Arrays.sort(hs)
    var best = 1L
    var run = 1L
    var i = 1
    while (i < m) {
      if (hs(i) == hs(i - 1)) { run += 1; if (run > best) best = run }
      else run = 1L
      i += 1
    }
    best
  }
}

/** `top_bigram_run(array<string>) -> bigint` — the most-repeated adjacent
  * token bigram's count as ONE map-side codegen expression (see
  * [[TopBigramRun]]).
  */
case class TopBigramRunExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_bigram_run requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "top_bigram_run"

  override def nullSafeEval(a: Any): Any =
    TopBigramRun.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TopBigramRun.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Mixed (CJK-aware) tokenizer driver loop, shared by the interpreted eval
  * and the generated code. Semantics are EXACTLY the HOF formulation it
  * replaces (InvertedIndex.mixedTokens):
  *   - latin tokens: maximal `[a-z]` runs of the LOWERCASED text
  *     (UTF8String.toLowerCase — the identical Lower kernel) of length ≥ 3.
  *     The regex split `[^a-z]+` + length filter reduces to a byte scan:
  *     multi-byte UTF-8 sequences never contain ASCII bytes, so `[a-z]`
  *     byte runs ARE `[a-z]` char runs;
  *   - Han bigrams: maximal Han-script code-point runs of the ORIGINAL
  *     text (`[\p{IsHan}]+` == UnicodeScript.HAN), each run emitting its
  *     consecutive code-point bigrams (a 1-char run emits itself), exactly
  *     substr(i, 2)'s code-point geometry.
  * The HOF version paid two regex scans plus interpreted transform/filter
  * lambdas per row — the costliest tokenizer in the repo (r16 "not yet
  * optimized" list); this loop is one lowercase + two linear scans, inside
  * whole-stage codegen. Equality with the HOF face is pinned on Han /
  * mixed / unicode fixtures and random ASCII in GraftFunctionsSpec.
  */
object MixedTokens {
  import org.apache.spark.unsafe.types.UTF8String

  /** The latin half on its own — `filter(split(lower(text), "[^a-z]+"),
    * len >= 3)` as one byte scan; shared with [[compute]] and exposed for
    * [[LatinTokensExpr]] (q113's per-row tokenizer).
    */
  def computeLatin(t: UTF8String): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    appendLatin(out, t)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  private def appendLatin(
      out: scala.collection.mutable.ArrayBuffer[Any], t: UTF8String): Unit = {
    // Latin: [a-z] byte runs of the lowercased text, length >= 3.
    val low = t.toLowerCase.getBytes
    var i = 0
    var start = -1
    while (i <= low.length) {
      val isAz = i < low.length && low(i) >= 'a' && low(i) <= 'z'
      if (isAz) { if (start < 0) start = i }
      else if (start >= 0) {
        if (i - start >= 3) out += UTF8String.fromBytes(low, start, i - start)
        start = -1
      }
      i += 1
    }
  }

  def compute(t: UTF8String): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    appendLatin(out, t)
    // Han: script runs of the ORIGINAL text, bigrammed per run.
    val s = t.toString
    var j = 0
    val run = new scala.collection.mutable.ArrayBuffer[Int](4)
    def flushRun(): Unit = {
      if (run.length == 1) {
        out += UTF8String.fromString(new String(Character.toChars(run(0))))
      } else if (run.length > 1) {
        var k = 0
        while (k < run.length - 1) {
          val sb = new java.lang.StringBuilder(4)
          sb.appendCodePoint(run(k)); sb.appendCodePoint(run(k + 1))
          out += UTF8String.fromString(sb.toString)
          k += 1
        }
      }
      run.clear()
    }
    while (j < s.length) {
      val cp = s.codePointAt(j)
      // ASCII fast path: never Han, skips the script binary search.
      val han = cp >= 0x80 &&
        Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN
      if (han) run += cp else flushRun()
      j += Character.charCount(cp)
    }
    flushRun()
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Sliding-window digest driver loop, shared by the interpreted eval and
  * the generated code. For a token array ws of n elements and window size
  * k, emits xxhash64(concat_ws(" ", slice(ws, i, k))) for i in
  * 1..(n−k+1) — bit-identical to the HOF spelling (the window bytes are
  * assembled into ONE reused scratch buffer and hashed; concat_ws's
  * null-skip is mirrored), without building a window STRING object per
  * position or walking three interpreted lambda layers per element
  * (round-17 optimization; guide §1.2 step 2). `atLeastOne` selects the
  * shingle geometry (`sequence(1, greatest(1, n−k+1))` — a doc shorter
  * than k yields ONE truncated window, an empty doc the "" window);
  * without it a short doc yields no windows (the q116 span geometry).
  */
object WindowHashes {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  def compute(a: ArrayData, k: Int, atLeastOne: Boolean): ArrayData = {
    val n = a.numElements()
    var m = n - k + 1
    if (m < 1) m = if (atLeastOne) 1 else 0
    val out = new Array[Long](m)
    var buf = new Array[Byte](64)
    var i = 0
    while (i < m) {
      var len = 0
      var first = true
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        if (!a.isNullAt(j)) { // concat_ws skips nulls, no doubled separator
          val t = a.getUTF8String(j)
          val tn = t.numBytes()
          val need = len + tn + (if (first) 0 else 1)
          if (need > buf.length) {
            buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
          }
          if (!first) { buf(len) = ' '; len += 1 }
          t.writeToMemory(buf,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
          len += tn
          first = false
        }
        j += 1
      }
      out(i) = XxHash64Function.hash(
        UTF8String.fromBytes(buf, 0, len), StringType, 42L)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** `window_hashes(array<string>, k [, at_least_one]) -> array<long>` — the
  * per-position k-token window digests as ONE map-side codegen expression
  * (see [[WindowHashes]]): the shingle machinery (k=5, atLeastOne) and the
  * span-dedup windows (k=15) share it.
  */
case class WindowHashesExpr(child: Expression, k: Int, atLeastOne: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(k >= 1, s"window_hashes needs k >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"window_hashes requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def prettyName: String = "window_hashes"

  override def nullSafeEval(a: Any): Any =
    WindowHashes.compute(a.asInstanceOf[ArrayData], k, atLeastOne)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WindowHashes.compute($a, $k, $atLeastOne);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Non-overlapping k-token chunk digest driver loop: for chunk i of
  * ⌊n/k⌋, emits (xxhash64(concat_ws(" ", slice(ws, i·k+1, k))),
  * numChars of that joined string) — bit-identical to hashing/measuring
  * the chunks10 strings (same assembled bytes incl. concat_ws null-skip;
  * length() counts code points = Σ token code points + separators),
  * without building a chunk string per position or walking the
  * transform/concat_ws lambdas (round-17 optimization). Trailing partial
  * chunks are dropped, exactly like chunks10's ⌊n/k⌋ guard.
  */
object ChunkDigests {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  def compute(a: ArrayData, k: Int): ArrayData = {
    val n = a.numElements()
    val m = n / k
    val out = new Array[Any](m)
    var buf = new Array[Byte](64)
    var ci = 0
    while (ci < m) {
      var len = 0
      var chars = 0L
      var first = true
      var j = ci * k
      val end = j + k
      while (j < end) {
        if (!a.isNullAt(j)) { // concat_ws skips nulls, no doubled separator
          val t = a.getUTF8String(j)
          val tn = t.numBytes()
          val need = len + tn + (if (first) 0 else 1)
          if (need > buf.length) {
            buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
          }
          if (!first) { buf(len) = ' '; len += 1; chars += 1 }
          t.writeToMemory(buf,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
          len += tn
          chars += t.numChars()
          first = false
        }
        j += 1
      }
      val h = XxHash64Function.hash(
        UTF8String.fromBytes(buf, 0, len), StringType, 42L)
      out(ci) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](h, chars))
      ci += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `chunk_digests(array<string>, k) -> array<struct<h:long, clen:long>>` —
  * the per-chunk (digest, char length) pairs of the non-overlapping
  * k-token chunking as ONE map-side codegen expression (see
  * [[ChunkDigests]]); the boilerplate/chunk-dedup rollups (q108/q120/q121)
  * consume these instead of materializing chunk strings.
  */
case class ChunkDigestsExpr(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(k >= 1, s"chunk_digests needs k >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"chunk_digests requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("clen",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "chunk_digests"

  override def nullSafeEval(a: Any): Any =
    ChunkDigests.compute(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ChunkDigests.compute($a, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Token-k-gram digest driver loop: per-token xxhash64 (seed 42) followed
  * by the xxhash64 array-fold over each k-long slice — bit-identical to
  * `transform(sequence(1, n−k+1), i => xxhash64(slice(th, i, k)))` over
  * `th = transform(ws, xxhash64)` (Spark's XxHash64 over an array child
  * folds hash(elem, acc) over non-null elements from the seed), fused so
  * neither the intermediate hash array nor any per-position slice is
  * allocated and no interpreted lambda runs (round-17 optimization).
  * A doc shorter than k yields an empty array (the grams13 guard).
  */
object TokenGramHashes {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.types.{LongType, StringType}

  def compute(a: ArrayData, k: Int): ArrayData = {
    val n = a.numElements()
    val m = n - k + 1
    if (m < 1) {
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(new Array[Long](0))
    }
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) =
        if (a.isNullAt(i)) 42L // xxhash64(null) leaves the seed
        else XxHash64Function.hash(a.getUTF8String(i), StringType, 42L)
      i += 1
    }
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var acc = 42L
      var j = i
      while (j < i + k) {
        acc = XxHash64Function.hash(th(j), LongType, acc)
        j += 1
      }
      out(i) = acc
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** `token_gram_hashes(array<string>, k) -> array<long>` — the per-position
  * k-token-gram digests of a token array as ONE map-side codegen
  * expression (see [[TokenGramHashes]]); the q103/compose contamination
  * joins key on these digests.
  */
case class TokenGramHashesExpr(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(k >= 1, s"token_gram_hashes needs k >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_gram_hashes requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def prettyName: String = "token_gram_hashes"

  override def nullSafeEval(a: Any): Any =
    TokenGramHashes.compute(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TokenGramHashes.compute($a, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `latin_tokens(string) -> array<string>` — the latin corpus tokenizer
  * (`filter(split(lower(text), "[^a-z]+"), len >= 3)`) as ONE map-side
  * codegen expression (see [[MixedTokens.computeLatin]]) — the q113 LM
  * scorer's per-row tokenizer, formerly a regex split plus an interpreted
  * filter lambda.
  */
case class LatinTokensExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"latin_tokens requires string, got ${other.simpleString}")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def prettyName: String = "latin_tokens"

  override def nullSafeEval(a: Any): Any =
    MixedTokens.computeLatin(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MixedTokens.computeLatin($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `mixed_tokens(string) -> array<string>` — the CJK-aware tokenizer as ONE
  * map-side codegen expression (see [[MixedTokens]]).
  */
case class MixedTokensExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"mixed_tokens requires string, got ${other.simpleString}")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def prettyName: String = "mixed_tokens"

  override def nullSafeEval(a: Any): Any =
    MixedTokens.compute(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MixedTokens.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared plumbing for the product-quantization expressions: the codebooks
  * arrive as a FOLDABLE nested-array literal child (`typedLit(cb)`) and are
  * converted to a primitive double[][][] exactly once per expression
  * instance — the HOF formulation these expressions replace re-walked the
  * literal's ArrayData through interpreted lambdas per row and per centroid,
  * which made a 500-row encode cost seconds.
  */
trait PqCodebookChild { self: BinaryExpression =>
  protected lazy val cbArr: Array[Array[Array[Double]]] = {
    require(right.foldable, "codebooks must be a literal")
    right.eval(null).asInstanceOf[ArrayData].toArray[ArrayData](
      ArrayType(ArrayType(DoubleType))).map(
      _.toArray[ArrayData](ArrayType(DoubleType)).map(_.toDoubleArray()))
  }
  protected def cbTypeOk: Boolean = right.dataType match {
    case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
    case _ => false
  }
}

/** `pq_encode(v, codebooks)` → array<int>[m]: L2-normalize `v`, then per
  * subspace emit the id of the nearest codebook centroid (squared-L2
  * argmin, lowest id wins ties). One fused codegen loop per row — the
  * map-side, shuffle-free shape that encodes a petabyte corpus as a scan
  * (ProductQuantizer Scaladoc has the full design).
  */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression with PqCodebookChild {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == ArrayType(DoubleType) ||
        left.dataType == ArrayType(DoubleType, containsNull = false)) {
      if (cbTypeOk) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("codebooks must be array<array<array<double>>>")
    } else TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<double> vector, got ${left.dataType.simpleString}")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def prettyName: String = "pq_encode"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val cb = cbArr
    val m = cb.length
    val dsub = cb(0)(0).length
    val n = v.numElements()
    // Unsafe array reads are UNCHECKED: a vector whose length doesn't
    // match the codebooks would silently read adjacent memory and emit
    // plausible-looking garbage codes. Fail loudly instead.
    if (n != m * dsub) throw new IllegalArgumentException(
      s"pq_encode: vector length $n != m*dsub = ${m * dsub}")
    var nrm = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); nrm += x * x; i += 1 }
    // Zero vector: inv = 0 normalizes to the all-zero vector (a
    // deterministic nearest centroid), never NaN distances that would
    // silently encode to centroid 0 via "NaN < bd is always false".
    val inv = if (nrm == 0.0) 0.0 else 1.0 / math.sqrt(nrm)
    // Normalize ONCE into a local array: the innermost loop otherwise
    // redoes the division (and the ArrayData read) k times per element.
    val u = new Array[Double](n)
    i = 0
    while (i < n) { u(i) = v.getDouble(i) * inv; i += 1 }
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val base = mi * dsub
      var best = 0; var bd = Double.MaxValue
      var j = 0
      while (j < cb(mi).length) {
        val cent = cb(mi)(j)
        var d = 0.0; var t = 0
        while (t < dsub) {
          val diff = u(base + t) - cent(t)
          d += diff * diff; t += 1
        }
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      codes(mi) = best
      mi += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cbArr, "double[][][]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val nrm = ctx.freshName("nrm"); val i = ctx.freshName("i")
      val m = ctx.freshName("m"); val dsub = ctx.freshName("dsub")
      val codes = ctx.freshName("codes"); val mi = ctx.freshName("mi")
      val base = ctx.freshName("base"); val best = ctx.freshName("best")
      val bd = ctx.freshName("bd"); val j = ctx.freshName("j")
      val cent = ctx.freshName("cent"); val d = ctx.freshName("d")
      val t = ctx.freshName("t"); val diff = ctx.freshName("diff")
      val n = ctx.freshName("n"); val inv = ctx.freshName("inv")
      val u = ctx.freshName("u")
      // mirrors nullSafeEval: shape check (unchecked unsafe reads),
      // zero-norm guard (no NaN), one-pass normalization into a local
      s"""
         |int $m = $cbRef.length;
         |int $dsub = $cbRef[0][0].length;
         |int $n = $v.numElements();
         |if ($n != $m * $dsub) throw new IllegalArgumentException(
         |  "pq_encode: vector length " + $n + " != m*dsub = " + ($m * $dsub));
         |double $nrm = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double __x = $v.getDouble($i); $nrm += __x * __x;
         |}
         |double $inv = $nrm == 0.0 ? 0.0 : 1.0 / java.lang.Math.sqrt($nrm);
         |double[] $u = new double[$n];
         |for (int $i = 0; $i < $n; $i++) { $u[$i] = $v.getDouble($i) * $inv; }
         |int[] $codes = new int[$m];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $base = $mi * $dsub;
         |  int $best = 0; double $bd = Double.MAX_VALUE;
         |  for (int $j = 0; $j < $cbRef[$mi].length; $j++) {
         |    double[] $cent = $cbRef[$mi][$j];
         |    double $d = 0.0;
         |    for (int $t = 0; $t < $dsub; $t++) {
         |      double $diff = $u[$base + $t] - $cent[$t];
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $bd) { $bd = $d; $best = $j; }
         |  }
         |  $codes[$mi] = $best;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `pq_lut(qv, codebooks)` → array<array<double>>[m][k]: the ADC lookup
  * table of one (normalized) query against every codebook centroid —
  * partial inner products, so a row's approximate cosine is the sum of m
  * table lookups. Runs once per QUERY (broadcast side, a handful of rows),
  * so interpreted eval is fine; the per-corpus-row hot path is PqAdc.
  */
case class PqLut(left: Expression, right: Expression)
    extends BinaryExpression with PqCodebookChild
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!(left.dataType == ArrayType(DoubleType) ||
        left.dataType == ArrayType(DoubleType, containsNull = false)))
      TypeCheckResult.TypeCheckFailure(
        s"pq_lut requires array<double> query vector, got ${left.dataType.simpleString}")
    else if (cbTypeOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("codebooks must be array<array<array<double>>>")

  override def dataType: DataType = ArrayType(ArrayType(DoubleType))

  override def prettyName: String = "pq_lut"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val cb = cbArr
    val dsub = cb(0)(0).length
    val n = v.numElements()
    if (n != cb.length * dsub) throw new IllegalArgumentException(
      s"pq_lut: query vector length $n != m*dsub = ${cb.length * dsub}")
    var nrm = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); nrm += x * x; i += 1 }
    // zero query → all-zero LUT (ADC scores 0), never an all-NaN LUT that
    // ranks FIRST under a descending sort (NaN > any double in Spark)
    val inv = if (nrm == 0.0) 0.0 else 1.0 / math.sqrt(nrm)
    val lut = cb.zipWithIndex.map { case (cents, mi) =>
      val base = mi * dsub
      new org.apache.spark.sql.catalyst.util.GenericArrayData(cents.map { cent =>
        var s = 0.0; var t = 0
        while (t < dsub) { s += v.getDouble(base + t) * inv * cent(t); t += 1 }
        s
      })
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      lut.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `pq_adc(code, lut)` → double: the asymmetric-distance score — m array
  * lookups per corpus row, zero arithmetic on the original vector. This is
  * THE per-row cost of PQ search, so it gets a fused codegen loop.
  */
case class PqAdc(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.IntegerType, _),
          ArrayType(ArrayType(DoubleType, _), _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc requires (array<int>, array<array<double>>), got (${l.simpleString}, ${r.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "pq_adc"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val code = l.asInstanceOf[ArrayData]
    val lut = r.asInstanceOf[ArrayData]
    val m = code.numElements()
    // Shape/bounds checks: unchecked unsafe reads would return garbage
    // partial sums on a code/lut mismatch (codes from one quantizer
    // scored against another's LUT) — corrupt top-k, no error.
    if (m != lut.numElements()) throw new IllegalArgumentException(
      s"pq_adc: code has $m subspaces, lut has ${lut.numElements()}")
    var s = 0.0
    var mi = 0
    while (mi < m) {
      if (code.isNullAt(mi)) throw new IllegalArgumentException(
        s"pq_adc: null code at subspace $mi")
      val row = lut.getArray(mi)
      val c = code.getInt(mi)
      if (c < 0 || c >= row.numElements()) throw new IllegalArgumentException(
        s"pq_adc: code id $c out of range [0, ${row.numElements()}) at subspace $mi")
      s += row.getDouble(c)
      mi += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (code, lut) => {
      val s = ctx.freshName("s"); val mi = ctx.freshName("mi")
      val m = ctx.freshName("m"); val row = ctx.freshName("row")
      val c = ctx.freshName("c")
      // mirrors nullSafeEval's shape/bounds checks
      s"""
         |int $m = $code.numElements();
         |if ($m != $lut.numElements()) throw new IllegalArgumentException(
         |  "pq_adc: code has " + $m + " subspaces, lut has " + $lut.numElements());
         |double $s = 0.0;
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  if ($code.isNullAt($mi)) throw new IllegalArgumentException(
         |    "pq_adc: null code at subspace " + $mi);
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $lut.getArray($mi);
         |  int $c = $code.getInt($mi);
         |  if ($c < 0 || $c >= $row.numElements()) throw new IllegalArgumentException(
         |    "pq_adc: code id " + $c + " out of range at subspace " + $mi);
         |  $s += $row.getDouble($c);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `collect_capped(bigint, limit)` — collect_list over a bigint column with
  * the buffer CAPPED at `limit` elements during aggregation (update AND
  * merge stop appending at the cap). The candidate-pair generator groups
  * shingle hashes and keeps only lists of 2..maxShingleFreq docs — but
  * plain collect_list materializes a hot boilerplate shingle's full
  * million-doc list (and its sort-fallback spill) before the size filter
  * drops it (r16 ADVICE, medium). With limit = maxShingleFreq + 1 the kept
  * groups' lists are bit-identical (a group of ≤ maxShingleFreq total rows
  * never hits the cap on any partial path) while a hot group saturates at
  * limit elements — per-key memory is bounded by the cap, not the key's
  * corpus frequency. Same ObjectHashAggregate plan shape as collect_list.
  */
case class CollectCappedLong(
    child: Expression,
    limit: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(limit > 0, s"collect_capped needs a positive limit, got $limit")

  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[Long] =
    scala.collection.mutable.ArrayBuffer.empty[Long]

  override def update(buffer: scala.collection.mutable.ArrayBuffer[Long],
      input: org.apache.spark.sql.catalyst.InternalRow)
      : scala.collection.mutable.ArrayBuffer[Long] = {
    if (buffer.size < limit) {
      val v = child.eval(input)
      if (v != null) buffer += v.asInstanceOf[Long]
    }
    buffer
  }

  override def merge(b1: scala.collection.mutable.ArrayBuffer[Long],
      b2: scala.collection.mutable.ArrayBuffer[Long])
      : scala.collection.mutable.ArrayBuffer[Long] = {
    var i = 0
    while (i < b2.size && b1.size < limit) { b1 += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: scala.collection.mutable.ArrayBuffer[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buffer.toArray)

  override def serialize(buffer: scala.collection.mutable.ArrayBuffer[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buffer.size)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new scala.collection.mutable.ArrayBuffer[Long](bytes.length / 8)
    while (bb.remaining() >= 8) buf += bb.getLong
    buf
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"collect_capped requires a bigint column, got ${other.simpleString}")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "collect_capped"

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectCappedLong =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): CollectCappedLong =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): CollectCappedLong =
    copy(child = newChild)
}

/** Typed UDAF (SURVEY §2.2 last row): per-group numeric summary as a single
  * Aggregator — partial-aggregable (map-side combine via merge), so it
  * shuffles one small buffer per group, not rows.
  */
case class NumSummary(n: Long, sum: Double, min: Double, max: Double)

object SummaryAggregator extends Aggregator[Double, NumSummary, NumSummary] {
  override def zero: NumSummary =
    NumSummary(0L, 0.0, Double.PositiveInfinity, Double.NegativeInfinity)
  override def reduce(b: NumSummary, v: Double): NumSummary =
    NumSummary(b.n + 1, b.sum + v, math.min(b.min, v), math.max(b.max, v))
  override def merge(a: NumSummary, b: NumSummary): NumSummary =
    NumSummary(a.n + b.n, a.sum + b.sum, math.min(a.min, b.min), math.max(a.max, b.max))
  override def finish(r: NumSummary): NumSummary = r
  override def bufferEncoder: Encoder[NumSummary] = Encoders.product[NumSummary]
  override def outputEncoder: Encoder[NumSummary] = Encoders.product[NumSummary]
}

/** One heavy-hitter estimate: term and its (possibly over-)counted
  * frequency.
  */
case class TermCount(term: String, cnt: Long)

/** Bounded heavy-hitters sketch state: at most `capacity` counters. */
case class TopKState(counts: Map[String, Long])

/** ClickHouse `topK(k)`: approximate heavy hitters in bounded memory via a
  * SpaceSaving summary (Metwally et al. 2005) with the mergeable-summaries
  * trim for partial aggregation (Agarwal et al. 2012). The buffer is
  * O(capacity) regardless of input cardinality — the property that makes
  * per-group top-k feasible at 100 TB, where an exact groupBy(term) would
  * shuffle the full term dictionary. Partial-aggregable: map-side reduce
  * per partition, sketch-merge at the exchange — one small buffer crosses
  * the wire per group.
  *
  * Guarantees: any term with true frequency > N/capacity is in the sketch;
  * estimates overcount by at most the evicted-minimum at insertion time.
  * When the distinct-term count never exceeds `capacity` on any partial
  * path, NO eviction occurs anywhere and all counts are exact — with the
  * deterministic (cnt desc, term asc) ordering the result is then
  * hash-identical to an exact top-k (how q63's DuckDB oracle can check an
  * "approximate" operator). Eviction ties break on the term so the sketch
  * is deterministic under any merge order.
  */
class TopKAggregator(k: Int, capacity: Int)
    extends Aggregator[String, TopKState, Seq[TermCount]] with Serializable {
  require(k > 0 && capacity >= k, s"need capacity >= k > 0, got k=$k cap=$capacity")

  override def zero: TopKState = TopKState(Map.empty)

  override def reduce(b: TopKState, term: String): TopKState = {
    if (term == null) return b // aggregate semantics: nulls don't count
    TopKState(TopKAggregator.add(b.counts, term, 1L, capacity))
  }

  override def merge(a: TopKState, b: TopKState): TopKState = {
    val summed = b.counts.foldLeft(a.counts) { case (acc, (t, c)) =>
      acc.updated(t, acc.getOrElse(t, 0L) + c)
    }
    if (summed.size <= capacity) TopKState(summed)
    else TopKState(summed.toSeq
      .sortBy { case (t, c) => (-c, t) }.take(capacity).toMap)
  }

  override def finish(r: TopKState): Seq[TermCount] =
    r.counts.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(k).map { case (t, c) => TermCount(t, c) }

  override def bufferEncoder: Encoder[TopKState] = Encoders.product[TopKState]
  override def outputEncoder: Encoder[Seq[TermCount]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TermCount]]()
}

object TopKAggregator {
  /** The ONE SpaceSaving insert both aggregators share: an arriving term
    * adds `w`; an evicting newcomer inherits the minimum counter + `w`
    * (it may have been the evicted term all along — overcount, never
    * undercount). Ties evict the lexicographically smallest term so the
    * sketch is deterministic under any merge order.
    */
  private[functions] def add(m: Map[String, Long], term: String, w: Long,
                             capacity: Int): Map[String, Long] =
    m.get(term) match {
      case Some(c)                   => m.updated(term, c + w)
      case None if m.size < capacity => m.updated(term, w)
      case None =>
        val (mk, mc) = m.minBy { case (t, c) => (c, t) }
        m - mk + (term -> (mc + w))
    }
}

/** Two-argument input of [[TopKWeightedAggregator]] — as a case class so
  * the SQL registration exposes `topk_weighted(term, w)`. The weight is
  * an Option so a NULL weight deserializes (to None → row ignored)
  * instead of crashing the encoder on a non-nullable primitive.
  */
case class TermWeight(term: String, w: Option[Long])

/** ClickHouse `topKWeighted(k)(term, weight)`: SpaceSaving generalized to
  * weighted increments — an arriving term adds its weight; an evicting
  * newcomer inherits the minimum counter plus its weight (overcount, never
  * undercount, same as the unit-weight proof: the newcomer may have been
  * the evicted term all along). Identical merge/trim/finish, exactness and
  * determinism guarantees as [[TopKAggregator]] (exact when no partial
  * path ever evicts); non-positive and null-term inputs are ignored.
  */
class TopKWeightedAggregator(k: Int, capacity: Int)
    extends Aggregator[TermWeight, TopKState, Seq[TermCount]] with Serializable {
  require(k > 0 && capacity >= k, s"need capacity >= k > 0, got k=$k cap=$capacity")
  private val unit = new TopKAggregator(k, capacity)

  override def zero: TopKState = TopKState(Map.empty)

  override def reduce(b: TopKState, in: TermWeight): TopKState = {
    if (in == null || in.term == null) return b
    val w = in.w.getOrElse(0L)
    if (w <= 0) return b // NULL or non-positive weights don't count
    TopKState(TopKAggregator.add(b.counts, in.term, w, capacity))
  }

  override def merge(a: TopKState, b: TopKState): TopKState = unit.merge(a, b)
  override def finish(r: TopKState): Seq[TermCount] = unit.finish(r)

  override def bufferEncoder: Encoder[TopKState] = Encoders.product[TopKState]
  override def outputEncoder: Encoder[Seq[TermCount]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TermCount]]()
}

case class UniqUpToState(seen: Set[String], overflow: Boolean)

/** ClickHouse `uniqUpTo(N)(x)`: exact distinct count while it is ≤ N,
  * N+1 as the saturation sentinel otherwise — in BOUNDED memory. The
  * state keeps at most N+1 distinct values and a sticky overflow flag
  * (the flag, not the set size, carries saturation through merges whose
  * union would re-shrink under the cap — it can't, but the flag makes
  * saturation obviously monotone); at 100 TB each partial ships ≤ N+1
  * values regardless of the column's true cardinality, which is the
  * whole point of the operator (cheap "are there more than N distinct?"
  * checks). NULLs don't count, matching count(DISTINCT).
  */
class UniqUpToAggregator(n: Int)
    extends Aggregator[String, UniqUpToState, Long] with Serializable {
  require(n > 0, s"uniqUpTo needs N > 0, got $n")

  override def zero: UniqUpToState = UniqUpToState(Set.empty, overflow = false)

  override def reduce(b: UniqUpToState, x: String): UniqUpToState =
    if (x == null || b.overflow || b.seen.contains(x)) b
    else if (b.seen.size >= n) UniqUpToState(b.seen, overflow = true)
    else UniqUpToState(b.seen + x, overflow = false)

  override def merge(a: UniqUpToState, b: UniqUpToState): UniqUpToState = {
    val u = a.seen ++ b.seen
    if (a.overflow || b.overflow || u.size > n)
      UniqUpToState(u.take(n), overflow = true)
    else UniqUpToState(u, overflow = false)
  }

  override def finish(r: UniqUpToState): Long =
    if (r.overflow) n + 1L else r.seen.size.toLong

  override def bufferEncoder: Encoder[UniqUpToState] =
    Encoders.product[UniqUpToState]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

/** `bpe_encode(text, merges)` → array<string>: tokenize `text` into BPE
  * subword units under a TRAINED merge list (BpeTokenizer.train —
  * Sennrich 2016), `merges` a foldable array<string> of "left right"
  * pairs in rank order (BpeTokenizer.Merges.encoded — typically a few
  * hundred entries riding as a plan literal, the pq_encode codebook
  * discipline). Words split with the shared corpus tokenizer (lowercase,
  * `[^a-z]+`), each greedily merged lowest-rank-first, token streams
  * concatenated.
  *
  * The merge table parses ONCE per expression instance (transient lazy —
  * never per row), and the generated code calls [[encodeRow]] through a
  * ctx.addReferenceObj handle: one virtual call per row inside
  * whole-stage codegen, with the interpreted path sharing the identical
  * implementation (no two-path drift to test for).
  */
case class BpeEncode(left: Expression, right: Expression) extends BinaryExpression {

  @transient private lazy val merges: graft.operators.BpeTokenizer.Merges = {
    graft.operators.BpeTokenizer.Merges.decode(
      right.eval(null).asInstanceOf[ArrayData]
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.StringType,
            ArrayType(org.apache.spark.sql.types.StringType, _)) =>
        // Foldability is an ANALYSIS requirement, not an eval-time one: a
        // non-foldable merges argument must fail the query here, not as a
        // mid-job task failure at the first row an executor evaluates.
        if (right.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "bpe_encode: merges must be a foldable array<string> literal " +
            "(the trained rank table rides as a plan constant)")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bpe_encode requires (string, array<string>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def prettyName: String = "bpe_encode"

  /** Row entry point shared VERBATIM by nullSafeEval and the generated
    * code (public: the generated class lives outside this package).
    */
  def encodeRow(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val toks = graft.operators.BpeTokenizer.encodeText(text.toString, merges)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      toks.map(t => org.apache.spark.unsafe.types.UTF8String.fromString(t)
        .asInstanceOf[Any]))
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    encodeRow(l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpe", this, classOf[BpeEncode].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.encodeRow($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncode =
    copy(left = newLeft, right = newRight)
}

/** Morton (Z-order) bit interleaving — the codec behind ClickHouse's
  * public `mortonEncode`/`mortonDecode` functions, via the classic
  * binary-magic-numbers spread/compact (Stanford Bit Twiddling Hacks,
  * public domain). One place so the expression eval, its generated code,
  * and any driver-side caller agree bit for bit.
  */
object MortonCodec {
  /** Spread the low 32 bits of v onto the even bit positions. */
  def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Inverse of [[spread]]: gather the even bit positions into 32 bits. */
  def compact(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >>> 1)) & 0x3333333333333333L
    x = (x | (x >>> 2)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >>> 4)) & 0x00FF00FF00FF00FFL
    x = (x | (x >>> 8)) & 0x0000FFFF0000FFFFL
    x = (x | (x >>> 16)) & 0x00000000FFFFFFFFL
    x
  }

  /** Interleave two unsigned 32-bit coordinates: x on even bits, y on odd
    * (ClickHouse mortonEncode's argument order). Out-of-range coordinates
    * fail loudly — silently truncating would put the row at the wrong
    * curve position and break the sort-order contract downstream.
    */
  def encode(x: Long, y: Long): Long = {
    if ((x >>> 32) != 0 || (y >>> 32) != 0) throw new IllegalArgumentException(
      s"morton_encode: coordinates must fit in unsigned 32 bits, got ($x, $y)")
    spread(x) | (spread(y) << 1)
  }

  def decodeX(code: Long): Long = compact(code)
  def decodeY(code: Long): Long = compact(code >>> 1)

  /** Bits available per coordinate at arity n (the 64-bit code divides
    * evenly only at n∈{1,2,4,8}; other arities waste the top 64 mod n
    * bits, same as ClickHouse).
    */
  def bitsPerCoord(n: Int): Int = 64 / n

  /** N-ary interleave (ClickHouse mortonEncode takes up to 8 columns):
    * bit j of coordinate i lands at code bit j·n + i, so coordinate 0 is
    * the 2-D x and coordinate 1 the 2-D y — encodeN(Array(x, y)) ==
    * encode(x, y) bit for bit (the 2-ary case routes through the
    * magic-number fast path). Out-of-range coordinates fail loudly, as in
    * the binary case.
    */
  def encodeN(coords: Array[Long]): Long = {
    val n = coords.length
    require(n >= 2 && n <= 8, s"morton_encode arity must be 2..8, got $n")
    if (n == 2) return encode(coords(0), coords(1))
    val bits = bitsPerCoord(n)
    var code = 0L
    var i = 0
    while (i < n) {
      val v = coords(i)
      if ((v >>> bits) != 0) throw new IllegalArgumentException(
        s"morton_encode: coordinate $i must fit in unsigned $bits bits " +
          s"at arity $n, got $v")
      var j = 0
      while (j < bits) {
        code |= ((v >>> j) & 1L) << (j * n + i)
        j += 1
      }
      i += 1
    }
    code
  }

  /** Inverse of [[encodeN]]: the n coordinates packed into `code`. */
  def decodeN(n: Int, code: Long): Array[Long] = {
    require(n >= 2 && n <= 8, s"morton_decode arity must be 2..8, got $n")
    if (n == 2) return Array(decodeX(code), decodeY(code))
    val bits = bitsPerCoord(n)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var v = 0L
      var j = 0
      while (j < bits) {
        v |= ((code >>> (j * n + i)) & 1L) << j
        j += 1
      }
      out(i) = v
      i += 1
    }
    out
  }
}

/** ClickHouse `mortonEncode(x₁, …, xₙ)` (n = 2..8, ClickHouse's arity):
  * the 64-bit Z-order (Morton) code of n unsigned ⌊64/n⌋-bit coordinates —
  * bit j of coordinate i lands at code bit j·n + i. Sorting by the code
  * clusters rows so that a hyper-rectangle in coordinate space touches few
  * sort ranges: a table ORDER BY the code with minmax sidecars on EVERY
  * source column prunes parts on any dimension's predicate —
  * multi-dimensional primary-key economics from one sort order (keep the
  * first coordinate below 2^31 at n=2 when the code feeds a SIGNED
  * ordering such as a mergetree ORDER BY; the top interleaved bit would
  * otherwise flip the long's sign). Codegen'd; null in → null out.
  */
case class MortonEncode(children: Seq[Expression]) extends Expression {

  private def integral(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size < 2 || children.size > 8)
      TypeCheckResult.TypeCheckFailure(
        s"morton_encode takes 2 to 8 coordinates, got ${children.size}")
    else if (children.forall(e => integral(e.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"morton_encode requires integral coordinates, got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "morton_encode"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val coords = new Array[Long](children.size)
    var i = 0
    while (i < coords.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      coords(i) = v.asInstanceOf[Number].longValue()
      i += 1
    }
    MortonCodec.encodeN(coords)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val coords = ctx.freshName("mortonCoords")
    val evals = children.map(_.genCode(ctx))
    val fill = evals.zipWithIndex.map { case (c, i) =>
      s"""
         |if (!${ev.isNull}) {
         |  ${c.code}
         |  if (${c.isNull}) { ${ev.isNull} = true; }
         |  else { $coords[$i] = (long) ${c.value}; }
         |}
       """.stripMargin
    }.mkString("\n")
    ev.copy(code =
      code"""
        |boolean ${ev.isNull} = false;
        |long ${ev.value} = -1L;
        |long[] $coords = new long[${children.size}];
        |$fill
        |if (!${ev.isNull}) {
        |  ${ev.value} = graft.functions.MortonCodec.encodeN($coords);
        |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** ClickHouse `mortonDecode(n, code)`: the inverse of [[MortonEncode]] —
  * array(x₁, …, xₙ) recovered from a Z-order code. Round-trip identity:
  * morton_decode(n, morton_encode(x₁, …, xₙ)) == array(x₁, …, xₙ) for all
  * in-range coordinates; the 1-argument SQL form defaults to n = 2. The
  * arity is a plan constant (ClickHouse takes it as a literal too), not a
  * child expression.
  */
case class MortonDecode(child: Expression, n: Int = 2)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (n < 2 || n > 8) TypeCheckResult.TypeCheckFailure(
      s"morton_decode arity must be 2..8, got $n")
    else child.dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"morton_decode requires a bigint code, got ${other.simpleString}")
    }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def prettyName: String = "morton_decode"

  override def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      MortonCodec.decodeN(n, v.asInstanceOf[Number].longValue())
        .map(x => x: Any))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.MortonCodec.decodeN($n, (long) $c));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Registration: direct (per-session FunctionRegistry) and via
  * SparkSessionExtensions for `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  private val mortonEncodeInfo = new ExpressionInfo(
    classOf[MortonEncode].getName, "morton_encode")
  private val mortonEncodeBuilder: Seq[Expression] => Expression = { children =>
    require(children.size >= 2 && children.size <= 8,
      "morton_encode takes 2 to 8 coordinates")
    MortonEncode(children)
  }

  private val mortonDecodeInfo = new ExpressionInfo(
    classOf[MortonDecode].getName, "morton_decode")
  private val mortonDecodeBuilder: Seq[Expression] => Expression = {
    case Seq(code) => MortonDecode(code)
    case Seq(n, code) =>
      // ClickHouse argument order: mortonDecode(arity, code); the arity is
      // a plan constant, so it must fold at build time.
      val integralArity = n.dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
      require(n.foldable && integralArity,
        "morton_decode arity must be an integer literal")
      MortonDecode(code, n.eval().asInstanceOf[Number].intValue())
    case other => throw new IllegalArgumentException(
      s"morton_decode takes (code) or (arity, code), got ${other.size} args")
  }

  private val cosineInfo = new ExpressionInfo(
    classOf[ArrayCosineSimilarity].getName, "cosine_similarity")

  private val cosineBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "cosine_similarity takes exactly 2 arguments")
    ArrayCosineSimilarity(children.head, children(1))
  }

  private val dotInfo = new ExpressionInfo(
    classOf[ArrayDotProduct].getName, "dot_product")

  private val dotBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "dot_product takes exactly 2 arguments")
    ArrayDotProduct(children.head, children(1))
  }

  private val pqEncodeInfo = new ExpressionInfo(
    classOf[PqEncode].getName, "pq_encode")
  private val pqEncodeBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "pq_encode takes (vector, codebooks)")
    PqEncode(children.head, children(1))
  }

  private val pqLutInfo = new ExpressionInfo(
    classOf[PqLut].getName, "pq_lut")
  private val pqLutBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "pq_lut takes (query_vector, codebooks)")
    PqLut(children.head, children(1))
  }

  private val pqAdcInfo = new ExpressionInfo(
    classOf[PqAdc].getName, "pq_adc")
  private val pqAdcBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "pq_adc takes (code, lut)")
    PqAdc(children.head, children(1))
  }

  /** [[LatinTokensExpr]] as a Column — the shared latin corpus tokenizer
    * (`filter(split(lower(text), "[^a-z]+"), len >= 3)` fused into one
    * codegen byte scan); every non-positional latin tokenize site routes
    * through this.
    */
  def latinTokensCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      LatinTokensExpr(org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** Idempotently register SQL-callable functions on an existing session. */
  private val hasTokenInfo = new ExpressionInfo(
    "org.apache.spark.sql.catalyst.expressions.ArrayContains", "has_token")

  /** ClickHouse `hasToken(haystack, token)`: whole-token membership under
    * the tokenbf tokenizer (alphanumeric runs). Composes built-in codegen
    * expressions — no UDF — and uses the SAME split regex as the token
    * bloom sidecars, so `WHERE has_token(...)` results always agree with a
    * `scanHasToken` pruned scan.
    */
  private val hasTokenBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "has_token takes exactly 2 arguments")
    import org.apache.spark.sql.catalyst.expressions.{ArrayContains, Cast, Literal, StringSplit}
    import org.apache.spark.sql.types.{IntegerType, StringType}
    ArrayContains(
      StringSplit(Cast(children.head, StringType),
        Literal(graft.mergetree.ColumnarMergeTree.TokenSplitRe),
        Literal(-1, IntegerType)),
      children(1))
  }

  private val simhashInfo = new ExpressionInfo(
    classOf[SimHash64Expr].getName, "simhash64")
  private val simhashBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, "simhash64 takes exactly 1 argument")
    SimHash64Expr(children.head)
  }

  private val minhashBandInfo = new ExpressionInfo(
    classOf[MinHashBandSigsExpr].getName, "minhash_band_sigs")
  private val minhashBandBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, "minhash_band_sigs takes exactly 1 argument")
    MinHashBandSigsExpr(children.head)
  }

  private val topBigramRunInfo = new ExpressionInfo(
    classOf[TopBigramRunExpr].getName, "top_bigram_run")
  private val topBigramRunBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, "top_bigram_run takes exactly 1 argument")
    TopBigramRunExpr(children.head)
  }

  private val mixedTokensInfo = new ExpressionInfo(
    classOf[MixedTokensExpr].getName, "mixed_tokens")
  private val mixedTokensBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, "mixed_tokens takes exactly 1 argument")
    MixedTokensExpr(children.head)
  }

  private val latinTokensInfo = new ExpressionInfo(
    classOf[LatinTokensExpr].getName, "latin_tokens")
  private val latinTokensBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, "latin_tokens takes exactly 1 argument")
    LatinTokensExpr(children.head)
  }

  /** One shared list of every native EXPRESSION function: both
    * registration faces — [[register]] on a live session and the
    * [[GraftExtensions]] spark.sql.extensions deployment path — iterate
    * THIS list, so they cannot drift. (The extensions path used to
    * re-declare two of the eight functions by hand and silently omitted
    * pq_encode/pq_lut/pq_adc and has_token: tests, which call register(),
    * passed; a deployment via --conf spark.sql.extensions failed on the
    * first pq_* call.)
    */
  private val bpeEncodeInfo = new ExpressionInfo(
    classOf[BpeEncode].getName, "bpe_encode")
  private val bpeEncodeBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "bpe_encode takes (text, merges)")
    BpeEncode(children.head, children(1))
  }

  /** `bpe_encode_dir(dir, text)` — the PERSISTED-tokenizer SQL face: the
    * first argument names a directory holding a saved `_merges.json`
    * artifact (BpeTokenizer.save); the artifact loads ONCE at analysis
    * (the dir must be a foldable string literal) and the call rewrites to
    * the same BpeEncode expression with the merges riding as a plan
    * literal — a pure-SQL session encodes with a tokenizer another
    * session trained, without retraining or hand-carrying the merge list.
    */
  private val bpeEncodeDirInfo = new ExpressionInfo(
    classOf[BpeEncode].getName, "bpe_encode_dir")
  private val bpeEncodeDirBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "bpe_encode_dir takes (artifact_dir, text)")
    val dirExpr = children.head
    require(dirExpr.foldable &&
        dirExpr.dataType == org.apache.spark.sql.types.StringType,
      "bpe_encode_dir: the artifact directory must be a string literal")
    val dirEval = dirExpr.eval()
    require(dirEval != null, "bpe_encode_dir: the directory must not be NULL")
    val m = graft.operators.BpeTokenizer.open(String.valueOf(dirEval))
    BpeEncode(children(1),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        m.encoded, ArrayType(org.apache.spark.sql.types.StringType)))
  }

  private[functions] val expressionFunctions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("has_token"), hasTokenInfo, hasTokenBuilder),
    (FunctionIdentifier("cosine_similarity"), cosineInfo, cosineBuilder),
    (FunctionIdentifier("dot_product"), dotInfo, dotBuilder),
    (FunctionIdentifier("pq_encode"), pqEncodeInfo, pqEncodeBuilder),
    (FunctionIdentifier("pq_lut"), pqLutInfo, pqLutBuilder),
    (FunctionIdentifier("pq_adc"), pqAdcInfo, pqAdcBuilder),
    (FunctionIdentifier("simhash64"), simhashInfo, simhashBuilder),
    (FunctionIdentifier("minhash_band_sigs"), minhashBandInfo, minhashBandBuilder),
    (FunctionIdentifier("top_bigram_run"), topBigramRunInfo, topBigramRunBuilder),
    (FunctionIdentifier("mixed_tokens"), mixedTokensInfo, mixedTokensBuilder),
    (FunctionIdentifier("latin_tokens"), latinTokensInfo, latinTokensBuilder),
    (FunctionIdentifier("bpe_encode"), bpeEncodeInfo, bpeEncodeBuilder),
    (FunctionIdentifier("bpe_encode_dir"), bpeEncodeDirInfo, bpeEncodeDirBuilder),
    (FunctionIdentifier("morton_encode"), mortonEncodeInfo, mortonEncodeBuilder),
    (FunctionIdentifier("morton_decode"), mortonDecodeInfo, mortonDecodeBuilder))

  /** ClickHouse FUNCTION-NAME COMPATIBILITY: the conversion, date-part,
    * array and -If-combinator families a pasted ClickHouse query actually
    * uses, each a pure alias over Catalyst built-ins (Cast, Year,
    * TruncDate, ArrayContains, Sum(If(…)), …) — codegen'd expressions,
    * never UDFs, so they cost exactly what the spelled-out Spark form
    * costs. Documented mappings:
    *   - unsigned integers map to the closest signed Spark type ONE STEP
    *     WIDER (UInt8→smallint, UInt16→int, UInt32→bigint); UInt64 maps
    *     to bigint — values above 2⁶³−1 are out of range (Spark has no
    *     unsigned types);
    *   - toDayOfWeek follows ClickHouse's Monday=1…Sunday=7;
    *   - the -If combinators aggregate only rows where the condition
    *     holds (NULL condition rows excluded, like ClickHouse).
    */
  private[functions] val clickhouseAliases: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.types._
    def fn(name: String, cls: String, arity: Int)(
        f: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls, name),
        { children: Seq[Expression] =>
          require(children.size == arity,
            s"$name takes exactly $arity argument(s)")
          f(children)
        })
    def one(name: String, cls: String)(f: Expression => Expression) =
      fn(name, cls, 1)(cs => f(cs.head))
    val casts = Seq(
      "toString" -> StringType, "toInt8" -> ByteType, "toInt16" -> ShortType,
      "toInt32" -> IntegerType, "toInt64" -> LongType,
      "toUInt8" -> ShortType, "toUInt16" -> IntegerType,
      "toUInt32" -> LongType, "toUInt64" -> LongType,
      "toFloat32" -> FloatType, "toFloat64" -> DoubleType,
      "toDate" -> DateType, "toDateTime" -> TimestampType
    ).map { case (n, dt) => one(n, classOf[Cast].getName)(c => Cast(c, dt)) }
    val dateParts = Seq(
      one("toYear", classOf[Year].getName)(Year),
      one("toMonth", classOf[Month].getName)(Month),
      one("toDayOfMonth", classOf[DayOfMonth].getName)(DayOfMonth),
      one("toDayOfYear", classOf[DayOfYear].getName)(DayOfYear),
      one("toQuarter", classOf[Quarter].getName)(Quarter),
      one("toHour", classOf[Hour].getName)(c => Hour(c)),
      one("toMinute", classOf[Minute].getName)(c => Minute(c)),
      one("toSecond", classOf[Second].getName)(c => Second(c)),
      // ClickHouse: Monday = 1 … Sunday = 7; Spark WeekDay: Monday = 0
      one("toDayOfWeek", classOf[WeekDay].getName)(c =>
        Add(WeekDay(c), Literal(1))),
      one("toStartOfDay", classOf[TruncTimestamp].getName)(c =>
        TruncTimestamp(Literal("day"), c)),
      one("toStartOfHour", classOf[TruncTimestamp].getName)(c =>
        TruncTimestamp(Literal("hour"), c)),
      one("toStartOfMinute", classOf[TruncTimestamp].getName)(c =>
        TruncTimestamp(Literal("minute"), c)),
      one("toStartOfMonth", classOf[TruncDate].getName)(c =>
        TruncDate(c, Literal("month"))),
      one("toStartOfQuarter", classOf[TruncDate].getName)(c =>
        TruncDate(c, Literal("quarter"))),
      one("toStartOfYear", classOf[TruncDate].getName)(c =>
        TruncDate(c, Literal("year"))),
      one("toUnixTimestamp", classOf[UnixTimestamp].getName)(c =>
        UnixTimestamp(c, Literal("yyyy-MM-dd HH:mm:ss"))),
      one("fromUnixTimestamp", classOf[SecondsToTimestamp].getName)(
        SecondsToTimestamp),
      (FunctionIdentifier("today"),
        new ExpressionInfo(classOf[CurrentDate].getName, "today"),
        { children: Seq[Expression] =>
          require(children.isEmpty, "today takes no arguments")
          CurrentDate()
        }))
    val arrays = Seq(
      fn("has", classOf[ArrayContains].getName, 2)(cs =>
        ArrayContains(cs.head, cs(1))),
      fn("indexOf", classOf[ArrayPosition].getName, 2)(cs =>
        ArrayPosition(cs.head, cs(1))),
      (FunctionIdentifier("arrayStringConcat"),
        new ExpressionInfo(classOf[ArrayJoin].getName, "arrayStringConcat"),
        { children: Seq[Expression] =>
          children match {
            case Seq(a)      => ArrayJoin(a, Literal(""), None)
            case Seq(a, sep) => ArrayJoin(a, sep, None)
            case other => throw new IllegalArgumentException(
              s"arrayStringConcat takes (array[, separator]), got ${other.size}")
          }
        }),
      // splitByChar(sep, s) — ClickHouse's argument order; the separator
      // is a LITERAL single character, regex-quoted into StringSplit
      fn("splitByChar", classOf[StringSplit].getName, 2)(cs => {
        val sep = cs.head
        require(sep.foldable && sep.dataType == StringType,
          "splitByChar: the separator must be a string literal")
        val sepEval = sep.eval()
        require(sepEval != null && sepEval.toString.length == 1,
          "splitByChar: the separator must be one character")
        StringSplit(cs(1),
          Literal(java.util.regex.Pattern.quote(sepEval.toString)),
          Literal(-1))
      }))
    def nullUnless(cond: Expression, value: Expression): Expression =
      If(cond, value, Literal.create(null, NullType))
    val combinators = Seq(
      one("countIf", classOf[Count].getName)(c =>
        Count(nullUnless(c, Literal(1)))),
      fn("sumIf", classOf[Sum].getName, 2)(cs =>
        Sum(nullUnless(cs(1), cs.head))),
      fn("avgIf", classOf[Average].getName, 2)(cs =>
        Average(nullUnless(cs(1), cs.head))),
      fn("minIf", classOf[Min].getName, 2)(cs =>
        Min(nullUnless(cs(1), cs.head))),
      fn("maxIf", classOf[Max].getName, 2)(cs =>
        Max(nullUnless(cs(1), cs.head))))
    casts ++ dateParts ++ arrays ++ combinators
  }

  /** The UDAF family needs a live session (spark.udf); shared by
    * register() and GraftExtensions' analyzer hook. Idempotent.
    */
  private[functions] def registerUdafs(spark: SparkSession): Unit = {
    spark.udf.register("num_summary",
      org.apache.spark.sql.functions.udaf(SummaryAggregator))
    // ClickHouse topK(50): SQL-callable heavy hitters, capacity 4096.
    spark.udf.register("topk_approx",
      org.apache.spark.sql.functions.udaf(new TopKAggregator(50, 4096)))
    // ClickHouse topKWeighted(50)(term, w): weighted heavy hitters.
    spark.udf.register("topk_weighted",
      org.apache.spark.sql.functions.udaf(new TopKWeightedAggregator(50, 4096)))
    // ClickHouse uniqUpTo(8)(x): bounded-state distinct-or-saturate.
    spark.udf.register("uniq_up_to_8",
      org.apache.spark.sql.functions.udaf(new UniqUpToAggregator(8)))
    // The parser's uniqUpTo(n)(x) rewrite targets this wider instance:
    // least(uniq_up_to_100(x), n+1) is exact for every n ≤ 100 while the
    // state stays ≤ 101 values per group.
    spark.udf.register("uniq_up_to_100",
      org.apache.spark.sql.functions.udaf(new UniqUpToAggregator(100)))
  }

  def register(spark: SparkSession): Unit = {
    (expressionFunctions ++ clickhouseAliases ++ ClickHouseNames.all)
      .foreach { case (id, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
      }
    registerUdafs(spark)
  }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` injects the
  * native functions at session build (the deployment path; tests use
  * GraftFunctions.register on the shared session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // The SAME lists register() iterates — the two faces cannot drift.
    (GraftFunctions.expressionFunctions ++ GraftFunctions.clickhouseAliases ++
      ClickHouseNames.all).foreach(ext.injectFunction)
    // UDAFs need a live session (spark.udf); the check-rule hook hands us
    // one at analyzer build — registration is idempotent, so re-running
    // per analyzer construction is harmless.
    ext.injectCheckRule { session =>
      GraftFunctions.registerUdafs(session)
      _ => ()
    }
  }
}
