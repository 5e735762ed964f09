package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst expressions (SURVEY §4.3 custom work items 1 and F7).
  *
  * Both participate in whole-stage codegen: `doGenCode` emits a call to a
  * static JVM helper (the same pattern Spark's own `StaticInvoke`-backed
  * built-ins use), so rows never leave generated code — no UDF
  * serialization boundary, no interpreted fallback in the hot path.
  */
object ExpressionHelpers {
  /** Distinct word k-shingle SET of a document in ONE compiled pass — the
    * codegen replacement for the interpreted HOF chain
    * `array_distinct(transform(sequence(0, size(toks)-k), i ->
    * concat_ws(' ', toks[i], ..., toks[i+k-1])))` over
    * `toks = split(trim(text), "[ \t\n\f\r]+", -1)`, whose per-window
    * lambda evaluation (interpreted, boxing every element) dominates the
    * shingle-frame build across the dedup family.
    *
    * Replicated semantics, bit-exact:
    *  - SQL `trim` strips U+0020 ONLY (SPARK-17299) — tabs/newlines at the
    *    ends survive into the split;
    *  - Java `split(re, -1)` keeps leading/trailing EMPTY tokens (a text
    *    starting or ending on a separator run yields "" tokens, and
    *    `concat_ws` then produces shingles with doubled/edge spaces);
    *  - the separator class is the repo's explicit [[graft.Tok.Ws]]
    *    (U+000B is token CONTENT, not a separator);
    *  - `array_distinct` keeps first-occurrence order — so does the
    *    LinkedHashSet here;
    *  - fewer than k tokens → EMPTY array (the old form's callers filtered
    *    on token count before shingling; they now filter equivalently).
    * Separators are single-byte ASCII, so the byte-level scan is
    * UTF-8-safe (continuation bytes are >= 0x80).
    */
  def shingleArr(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.trim().getBytes
    val n = bytes.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nt = 0
    def push(a: Int, b: Int): Unit = {
      if (nt == starts.length) {
        starts = java.util.Arrays.copyOf(starts, nt * 2)
        ends = java.util.Arrays.copyOf(ends, nt * 2)
      }
      starts(nt) = a; ends(nt) = b; nt += 1
    }
    def isSep(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\f' || b == '\r'
    var st = 0
    var i = 0
    while (i < n) {
      if (isSep(bytes(i))) {
        var j = i + 1
        while (j < n && isSep(bytes(j))) j += 1
        push(st, i); st = j; i = j
      } else i += 1
    }
    push(st, n)
    if (nt < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[AnyRef](0))
    val seen = new java.util.LinkedHashSet[UTF8String]((nt - k + 1) * 2)
    var w = 0
    while (w <= nt - k) {
      var len = k - 1
      var t = 0
      while (t < k) { len += ends(w + t) - starts(w + t); t += 1 }
      val out = new Array[Byte](len)
      var pos = 0
      t = 0
      while (t < k) {
        if (t > 0) { out(pos) = ' '; pos += 1 }
        val l = ends(w + t) - starts(w + t)
        System.arraycopy(bytes, starts(w + t), out, pos, l)
        pos += l; t += 1
      }
      seen.add(UTF8String.fromBytes(out))
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(new Array[AnyRef](seen.size())))
  }

  /** Jaccard similarity of two string arrays treated as sets.
    * Both empty → 1.0 (identical sets; the `array_intersect`/`array_union`
    * composition yields NaN there — this is the deliberate divergence that
    * makes the expression total).
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val seen = new java.util.HashSet[UTF8String](a.numElements() * 2)
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) seen.add(a.getUTF8String(i))
      i += 1
    }
    val nA = seen.size
    val bSet = new java.util.HashSet[UTF8String](b.numElements() * 2)
    var inter = 0
    var j = 0
    while (j < b.numElements()) {
      if (!b.isNullAt(j)) {
        val e = b.getUTF8String(j)
        if (bSet.add(e) && seen.contains(e)) inter += 1
      }
      j += 1
    }
    val union = nA + bSet.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Sequential dot product, EXACTLY the semantics of
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,v) -> acc+v)`:
    * unequal lengths → null (zip_with pads with null, which poisons the
    * sum) and any null element → null; otherwise acc = acc + a(i)*b(i)
    * in index order — bit-identical to the HOF fold (and to DuckDB's
    * list_dot_product on the same data). Exact equivalence is what makes
    * [[VecDotRewrite]] a semantics-preserving optimization.
    */
  def vecDot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Spark's SQL double ordering (`SQLOrderingUtil.compareDoubles`), null
    * lowest: NaN is greatest and -0.0 equals 0.0.
    */
  private def compareScores(aNull: Boolean, a: Double,
      bNull: Boolean, b: Double): Int =
    if (aNull || bNull) java.lang.Boolean.compare(!aNull, !bNull)
    else if (a == b) 0 else java.lang.Double.compare(a, b)

  /** [[vecDot]]'s index-order sum over dense arrays (the driver-side
    * literal precomputations use it too, so their values match).
    */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Where [[vecDot]] is null on dense copies ([[denseOrNull]]). */
  private def dotNull(a: Array[Double], b: Array[Double]): Boolean =
    a == null || b == null || a.length != b.length

  /** A dense copy of `a`, or null when `a` or any element is null. */
  def denseOrNull(a: ArrayData): Array[Double] =
    if (a == null || (0 until a.numElements()).exists(a.isNullAt)) null
    else a.toDoubleArray()

  /** [[NearestCentroid]]'s per-row loop: the index of the winning
    * centroid, -1 for an empty model. Scores divide as Spark's `Divide`
    * does: a zero divisor gives null, or raises under ANSI when the dot
    * product is not null.
    */
  def nearestCentroid(emb: Array[Double], normNull: Boolean, norm: Double,
      embs: Array[Array[Double]], norms: Array[Double], ids: Array[Long],
      ansi: Boolean): Int = {
    var best = -1
    var bestNull = true
    var bestS = 0.0
    var i = 0
    while (i < ids.length) {
      val div = norm * norms(i)
      val dNull = dotNull(emb, embs(i))
      if (ansi && !normNull && div == 0 && !dNull)
        throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero in nearest_centroid")
      val sNull = dNull || normNull || div == 0
      val s = if (sNull) 0.0 else dot(emb, embs(i)) / div
      val cmp = compareScores(sNull, s, bestNull, bestS)
      if (best < 0 || cmp > 0 || (cmp == 0 && ids(i) < ids(best))) {
        best = i; bestNull = sNull; bestS = s
      }
      i += 1
    }
    best
  }

  /** [[PqCode]]'s per-row loop over the code indices `cands` at the
    * row's subspace: the index of the winning code, -1 when none.
    */
  def pqCode(xs: Array[Double], cands: Array[Int], cs: Array[Array[Double]],
      n2: Array[Double], js: Array[Long]): Int = {
    val xsxs = if (xs == null) 0.0 else dot(xs, xs)
    var best = -1
    var bestNull = true
    var bestD = 0.0
    var t = 0
    while (t < cands.length) {
      val c = cands(t)
      val dNull = dotNull(xs, cs(c))
      val d = if (dNull) 0.0 else (xsxs - 2.0 * dot(xs, cs(c))) + n2(c)
      val cmp = compareScores(dNull, d, bestNull, bestD)
      if (best < 0 || cmp < 0 || (cmp == 0 && js(c) < js(best))) {
        best = c; bestNull = dNull; bestD = d
      }
      t += 1
    }
    best
  }

  /** One-pass verify step for the inverted-index similarity join
    * ([[SimilarityJoinRewrite]]): given the two DISTINCT non-null token
    * arrays (materialized once per input row below the join), the exploded
    * alignment token, and the threshold, decide in a single hash pass
    * whether this candidate row is the pair's canonical alignment AND the
    * pair passes the Jaccard threshold.
    *
    * Semantics bit-identical to the unfused conjunction
    *   tok = array_min(array_intersect(aT, bT)) && jaccard_sim(a, b) cmp t
    * on the raw arrays: `aT`/`bT` are exactly the distinct non-null sets
    * [[jaccard]] builds internally, the min-token tie-break uses the same
    * binary UTF8String order as `array_min`, and the division is the same
    * `inter / (|A| + |B| - inter)` double op. `tok == null` is the
    * both-empty sentinel (J(∅,∅) = 1 by [[jaccard]]'s totalization).
    *
    * Fusing matters because the join condition runs once per CANDIDATE
    * (shared-token pair), not per row: the unfused form re-derived the
    * distinct sets ~6× per candidate (ArrayExcept in both prune sizes, the
    * dedup intersect, and jaccard_sim itself).
    */
  def simJoinKeep(a: ArrayData, b: ArrayData, tok: UTF8String,
      t: Double, strict: Boolean): Boolean = {
    val nA = a.numElements()
    val nB = b.numElements()
    if (tok == null) { // sentinel: both sides effectively empty -> J = 1
      if (nA != 0 || nB != 0) return false
      return if (strict) 1.0 > t else 1.0 >= t
    }
    if (nA == 0 || nB == 0) return false
    // size prune (implied by J >= t, so never drops a passing pair)
    if (nB < t * nA || nA < t * nB) return false
    val aSet = new java.util.HashSet[UTF8String](nA * 2)
    var i = 0
    while (i < nA) { aSet.add(a.getUTF8String(i)); i += 1 }
    var inter = 0
    var minTok: UTF8String = null
    var j = 0
    while (j < nB) {
      val e = b.getUTF8String(j)
      if (aSet.contains(e)) {
        inter += 1
        if (minTok == null || e.compareTo(minTok) < 0) minTok = e
      }
      j += 1
    }
    if (minTok == null || !tok.equals(minTok)) return false
    val jac = inter.toDouble / (nA + nB - inter)
    if (strict) jac > t else jac >= t
  }

  private val hexBytes = "0123456789abcdef".getBytes("US-ASCII")

  // One MessageDigest + scratch buffers per executor thread: MD5 instance
  // creation per row is measurable at corpus scale, and the signature loop
  // runs inside whole-stage codegen where every allocation is hot.
  private val md5Scratch = new ThreadLocal[(java.security.MessageDigest, Array[Byte], Array[Byte])] {
    override def initialValue(): (java.security.MessageDigest, Array[Byte], Array[Byte]) =
      (java.security.MessageDigest.getInstance("MD5"), new Array[Byte](16), new Array[Byte](32))
  }

  /** All 16 MinHash components of a distinct-shingle array in ONE pass
    * per element — the signature convention the DuckDB oracles replay
    * (DedupOps.minhashPairsSql): component i is
    * MIN over shingles of substring(md5(concat("<i/4>:", sh)), 1+8*(i%4), 8),
    * i.e. four MD5 digests per shingle, each split into four 8-hex-char
    * windows; mins compare in byte order, which over lowercase hex equals
    * the UTF8String/SQL varchar ordering the aggregate form used.
    *
    * Null elements are SKIPPED, mirroring the MIN-aggregate form this
    * replaced (SQL MIN ignores nulls); an array that is empty or all-null
    * yields null (no shingles -> no signature, the doc simply never
    * reaches a band join). Replaces a corpus-sized explode + 16-way MIN
    * groupBy: the signature becomes a narrow per-row projection with NO
    * shuffle, which at 100 TB removes the dominant shuffle of the
    * near-dup pipeline (the shingle row count is corpus-length-
    * proportional).
    */
  def minhashSig(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val (md, dig, hex) = md5Scratch.get()
    val mins = new Array[Array[Byte]](16)
    var any = false
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        any = true
        val sh = arr.getUTF8String(e).getBytes
        var p = 0
        while (p < 4) {
          md.reset()
          md.update((48 + p).toByte) // '0'+p
          md.update(58.toByte)       // ':'
          md.update(sh)
          md.digest(dig, 0, 16)      // 16 bytes -> 32 hex bytes, no alloc
          var b = 0
          while (b < 16) {
            hex(2 * b) = hexBytes((dig(b) >> 4) & 0xf)
            hex(2 * b + 1) = hexBytes(dig(b) & 0xf)
            b += 1
          }
          var w = 0
          while (w < 4) {
            val i = p * 4 + w
            val off = 8 * w
            val cur = mins(i)
            var replace = cur == null
            if (!replace) {
              var c = 0
              var cmp = 0
              while (c < 8 && cmp == 0) {
                // lowercase hex is ASCII: unsigned and signed byte order agree
                cmp = java.lang.Byte.compare(hex(off + c), cur(c))
                c += 1
              }
              replace = cmp < 0
            }
            if (replace) {
              val m = new Array[Byte](8)
              System.arraycopy(hex, off, m, 0, 8)
              mins(i) = m
            }
            w += 1
          }
          p += 1
        }
      }
      e += 1
    }
    if (!any) return null
    val out = new Array[AnyRef](16)
    var i = 0
    while (i < 16) {
      out(i) = UTF8String.fromBytes(mins(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Unicode fold: NFD-decompose, strip combining marks, lowercase —
    * the `unidecode(x).lower()` step of the reference's dedupe preProcess
    * (alerts/parse_alert.ipynb c45:3-13).
    */
  def asciiFold(s: UTF8String): UTF8String = {
    val folded = java.text.Normalizer
      .normalize(s.toString, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}+", "")
      // Locale.ROOT: the no-arg toLowerCase is locale-sensitive — on a
      // tr/az-default JVM "I" folds to dotless ı, diverging from DuckDB
      // lower(), Spark's lower(), and goldens produced elsewhere
      .toLowerCase(java.util.Locale.ROOT)
    UTF8String.fromString(folded)
  }
}

/** `jaccard_sim(array<string>, array<string>) -> double`, null-safe,
  * codegen'd. Set semantics: duplicates and null elements are ignored.
  */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // Explicit type check instead of ExpectsInputTypes: `inputTypes` would
  // force the private[sql] AbstractDataType into our signature (broke the
  // round-1 build against the shipped Spark 4.1.2 jars).
  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = Seq(left, right).map(_.dataType).filterNot {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>), got " +
        Seq(left, right).map(_.dataType.catalogString).mkString(", "))
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    ExpressionHelpers.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ExpressionHelpers.jaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Internal verify predicate planted by [[SimilarityJoinRewrite]] into the
  * rewritten join's condition — never user-facing (not in the function
  * registry). `simjoin_keep(aToks, bToks, tok)` with the threshold and
  * comparison strictness baked in as literals at rewrite time; see
  * [[ExpressionHelpers.simJoinKeep]] for the one-pass semantics. Always
  * boolean non-null (null token arrays — which jaccard_sim's
  * null-intolerant comparison would drop — evaluate to false).
  */
case class SimJoinKeep(aToks: Expression, bToks: Expression, tok: Expression,
    threshold: Double, strict: Boolean) extends Expression {

  override def children: Seq[Expression] = Seq(aToks, bToks, tok)

  override def checkInputDataTypes(): TypeCheckResult = {
    val arraysOk = Seq(aToks, bToks).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (arraysOk && tok.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>, string), got " +
        children.map(_.dataType.catalogString).mkString(", "))
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "simjoin_keep"

  override def eval(input: InternalRow): Any = {
    val a = aToks.eval(input)
    val b = bToks.eval(input)
    if (a == null || b == null) false
    else ExpressionHelpers.simJoinKeep(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      tok.eval(input).asInstanceOf[UTF8String], threshold, strict)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aG = aToks.genCode(ctx)
    val bG = bToks.genCode(ctx)
    val tG = tok.genCode(ctx)
    val resultCode =
      code"""
        |${aG.code}
        |${bG.code}
        |boolean ${ev.value} = false;
        |if (!${aG.isNull} && !${bG.isNull}) {
        |  ${tG.code}
        |  ${ev.value} = graft.functions.ExpressionHelpers.simJoinKeep(
        |    ${aG.value}, ${bG.value}, ${tG.isNull} ? null : ${tG.value},
        |    $threshold, $strict);
        |}
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(aToks = newChildren(0), bToks = newChildren(1), tok = newChildren(2))
}

/** `minhash_sig(array<string>) -> array<string>(16)`: the full 16-component
  * MinHash signature of a distinct-shingle array in one codegen'd pass
  * (see [[ExpressionHelpers.minhashSig]]). Null for null/empty input.
  */
case class MinhashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(a: Any): Any =
    ExpressionHelpers.minhashSig(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val tmp = ctx.freshName("sig")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.ExpressionHelpers.minhashSig($a);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `shingle_arr(string, int) -> array<string>`: see
  * [[ExpressionHelpers.shingleArr]] — the dedup family's shingle-set
  * build as one compiled pass instead of the interpreted
  * split/transform/concat_ws/array_distinct HOF chain. `k` must be a
  * foldable positive int literal. Null text → null (callers that need
  * the admit-trivially semantics coalesce to an empty array).
  */
case class ShingleArr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string document, got ${left.dataType.catalogString}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable int shingle width")
    else if (right.eval(null) == null || right.eval(null).asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a positive shingle width")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "shingle_arr"

  @transient private lazy val k: Int = right.eval(null).asInstanceOf[Int]

  /** Codegen/interpreted shared body (addReferenceObj handle, so the
    * folded k is read once per generated class, not per row).
    */
  def compute(s: UTF8String): ArrayData = ExpressionHelpers.shingleArr(s, k)

  override def nullSafeEval(s: Any, _k: Any): Any =
    compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleExpr", this, classOf[ShingleArr].getName)
    nullSafeCodeGen(ctx, ev, (s, _) => s"${ev.value} = $ref.compute($s);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `vec_dot(array<double>, array<double>) -> double`, null-safe at the
  * array level, codegen'd. Replaces the `aggregate(zip_with(...))`
  * higher-order-function form in the embedding hot paths: HOF lambdas are
  * interpreted per element and box every value; this stays inside
  * whole-stage codegen as one primitive loop per row.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>), got " +
        Seq(left, right).map(_.dataType.catalogString).mkString(", "))
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    ExpressionHelpers.vecDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dot")
      s"""
         |java.lang.Double $tmp = graft.functions.ExpressionHelpers.vecDot($a, $b);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The shape shared by [[NearestCentroid]] and [[PqCode]]: a vector, an
  * argument and a foldable model literal (an array of 3-field structs)
  * in, a non-null answer out. Subclasses decode the model once per
  * expression instance into lazy fields, reached from generated code via
  * an `addReferenceObj` handle (the [[BloomMightContain]] pattern). A row
  * with no candidate raises, so callers drop such rows first.
  */
trait ModelLookup extends Expression {
  /** Expected types of the first two children and of the model fields. */
  protected def argTypes: Seq[DataType]
  protected def fieldTypes: Seq[DataType]

  /** The answer for one row: `arg` boxed, null for a null argument. */
  def lookup(vector: ArrayData, arg: Any): Any

  protected def model: Expression = children(2)
  @transient protected lazy val modelRows: IndexedSeq[InternalRow] = {
    val arr = model.eval(null).asInstanceOf[ArrayData]
    (0 until arr.numElements()).map(arr.getStruct(_, 3))
  }

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = {
    val want = argTypes :+ ArrayType(StructType(fieldTypes.map(StructField("", _))))
    if (model.foldable && children.map(_.dataType).zip(want).forall {
        case (got, w) => DataType.equalsStructurally(got, w, ignoreNullability = true) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires (" +
      want.map(_.catalogString).mkString(", ") + ") with a foldable model, got " +
      children.map(_.dataType.catalogString).mkString(", "))
  }

  override def eval(input: InternalRow): Any =
    lookup(children(0).eval(input).asInstanceOf[ArrayData], children(1).eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    val v = children(0).genCode(ctx)
    val a = children(1).genCode(ctx)
    val boxed = CodeGenerator.boxedType(children(1).dataType)
    ev.copy(code = code"""
      |${v.code}
      |${a.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  (${CodeGenerator.boxedType(dataType)}) $ref.lookup(${v.isNull} ? null : ${v.value},
      |    ${a.isNull} ? null : $boxed.valueOf(${a.value}));
     """.stripMargin, isNull = FalseLiteral)
  }
}

/** `nearest_centroid(emb array<double>, norm double,
  * model array<struct<c_id bigint, c_emb array<double>, c_norm double>>)
  * -> bigint`: the c_id with the greatest cosine `vec_dot(emb, c_emb) /
  * (norm * c_norm)`, ties to the smallest c_id, a null score lowest and
  * NaN highest. A row that scores null everywhere (null `emb`) gets the
  * smallest c_id. The model must not be empty.
  */
case class NearestCentroid(emb: Expression, norm: Expression, cents: Expression,
    ansi: Boolean = SQLConf.get.ansiEnabled) extends ModelLookup {

  override def children: Seq[Expression] = Seq(emb, norm, cents)
  override protected def argTypes = Seq(ArrayType(DoubleType), DoubleType)
  override protected def fieldTypes = Seq(LongType, ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_centroid"

  @transient private lazy val ids = modelRows.map(_.getLong(0)).toArray
  @transient private lazy val embs =
    modelRows.map(r => ExpressionHelpers.denseOrNull(r.getArray(1))).toArray
  @transient private lazy val norms = modelRows.map(_.getDouble(2)).toArray

  override def lookup(v: ArrayData, n: Any): Any = {
    val i = ExpressionHelpers.nearestCentroid(ExpressionHelpers.denseOrNull(v),
      n == null, if (n == null) 0.0 else n.asInstanceOf[Double], embs, norms, ids, ansi)
    if (i < 0) throw new IllegalStateException(s"$prettyName: the model is empty")
    ids(i)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(emb = c(0), norm = c(1), cents = c(2))
}

/** `pq_code(xs array<double>, s int,
  * codebook array<struct<j bigint, s int, cs array<double>>>)
  * -> struct<j bigint, cs array<double>>`: of the codes at subspace `s`,
  * the one with the least `d2 = (xs·xs − 2·xs·cs) + cs·cs` in that float
  * grouping, ties to the smallest j, a null d2 first and NaN last. The
  * codebook may be ragged: only the codes present at `s` compete, and a
  * row whose `s` has none (or is null) has no answer.
  */
case class PqCode(xs: Expression, s: Expression, codebook: Expression)
    extends ModelLookup {

  override def children: Seq[Expression] = Seq(xs, s, codebook)
  override protected def argTypes = Seq(ArrayType(DoubleType), IntegerType)
  override protected def fieldTypes = Seq(LongType, IntegerType, ArrayType(DoubleType))
  override def dataType: DataType = StructType(Seq(
    StructField("j", LongType, nullable = false), StructField("cs", ArrayType(DoubleType))))
  override def prettyName: String = "pq_code"

  @transient private lazy val js = modelRows.map(_.getLong(0)).toArray
  @transient private lazy val cs =
    modelRows.map(r => ExpressionHelpers.denseOrNull(r.getArray(2))).toArray
  @transient private lazy val n2 = cs.map(c => if (c == null) 0.0 else ExpressionHelpers.dot(c, c))
  @transient private lazy val answers =
    modelRows.map(r => InternalRow(r.getLong(0), r.getArray(2))).toArray
  @transient private lazy val bySubspace: Map[Int, Array[Int]] =
    modelRows.indices.groupBy(modelRows(_).getInt(1)).map { case (k, ix) => k -> ix.toArray }

  override def lookup(x: ArrayData, si: Any): Any = {
    val i = if (si == null) -1 else ExpressionHelpers.pqCode(ExpressionHelpers.denseOrNull(x),
      bySubspace.getOrElse(si.asInstanceOf[Int], Array.emptyIntArray), cs, n2, js)
    if (i < 0) throw new IllegalStateException(s"$prettyName: no code at subspace $si")
    answers(i)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(xs = c(0), s = c(1), codebook = c(2))
}

/** `bloom_might_contain(bigint, binary) -> boolean`, null-safe, codegen'd.
  *
  * Probes a serialized `org.apache.spark.util.sketch.BloomFilter` (the
  * format `DataFrameStatFunctions.bloomFilter` emits) with a pre-hashed
  * long key — pair it with the built-in `xxhash64` on the probe side and
  * build the filter over the same `xxhash64` column, so the per-row work
  * is one primitive hash + bit-test with zero allocation (probing strings
  * directly would re-encode every row to a JVM String).
  *
  * False positives are by design: callers use this as a PRE-filter ahead
  * of an exact join that removes them (see
  * [[graft.operators.DedupOps.contaminationPairsBloom]]) — which is why a
  * fpp of ~1% is fine and why results stay oracle-exact.
  *
  * The filter argument must be a foldable binary (a `lit(bytes)`): it is
  * deserialized ONCE lazily per JVM — the bytes ride to executors inside
  * the literal child, so nothing here depends on the filter object's own
  * serializability.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a bigint probe (use xxhash64), got ${left.dataType.catalogString}")
    else if (right.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a binary filter, got ${right.dataType.catalogString}")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable (literal) filter argument")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val bloom: BloomFilter = {
    val bytes = right.eval(null).asInstanceOf[Array[Byte]]
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  /** Codegen/interpreted shared probe; called via an `addReferenceObj`
    * handle on this expression, so the deserialized filter is cached in
    * the generated class's references, not rebuilt per row.
    */
  def mightContain(h: Long): Boolean = bloom.mightContainLong(h)

  override def nullSafeEval(h: Any, _bytes: Any): Any =
    mightContain(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomExpr", this,
      classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, (h, _) => s"${ev.value} = $ref.mightContain($h);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `stopword_cascade(string, array<string>) -> string`: the reference's
  * ORDER-SENSITIVE per-word stopword cascade — for each word w in order:
  * `\sw\s -> " "` then `"  +" -> " "` (replacements enable later matches,
  * SURVEY §7.4 risk 6) — as a codegen'd expression instead of a Scala UDF.
  *
  * The word list must be a foldable array literal: patterns are compiled
  * ONCE lazily per plan (the expression instance rides to executors inside
  * the generated class's references, same pattern as [[BloomMightContain]]),
  * so per row the work is the regex passes only — no UDF serialization
  * boundary, no per-row closure dispatch.
  */
case class StopwordCascade(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${left.dataType.catalogString}")
    else if (!right.dataType.isInstanceOf[ArrayType] ||
      right.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<string> word list, got ${right.dataType.catalogString}")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable (literal) word list")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StringType
  override def prettyName: String = "stopword_cascade"

  @transient private lazy val wordPats: Array[java.util.regex.Pattern] = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    (0 until arr.numElements()).iterator
      .filterNot(arr.isNullAt)
      .map(i => java.util.regex.Pattern.compile(
        "\\s" + java.util.regex.Pattern.quote(arr.getUTF8String(i).toString) + "\\s"))
      .toArray
  }
  @transient private lazy val squeeze = java.util.regex.Pattern.compile("  +")

  /** Codegen/interpreted shared fold; called via an `addReferenceObj`
    * handle so the compiled patterns live in the generated class's
    * references, not rebuilt per row.
    */
  def fold(s: UTF8String): UTF8String = {
    var acc = s.toString
    var i = 0
    while (i < wordPats.length) {
      acc = squeeze.matcher(wordPats(i).matcher(acc).replaceAll(" ")).replaceAll(" ")
      i += 1
    }
    UTF8String.fromString(acc)
  }

  override def nullSafeEval(s: Any, _w: Any): Any =
    fold(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwordCascade", this,
      classOf[StopwordCascade].getName)
    nullSafeCodeGen(ctx, ev, (s, _) => s"${ev.value} = $ref.fold($s);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `ascii_fold(string) -> string`: NFD + strip marks + lowercase,
  * null-safe, codegen'd (replaces the Scala-UDF form — stays inside
  * whole-stage codegen).
  */
case class AsciiFold(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "ascii_fold"

  override def nullSafeEval(s: Any): Any =
    ExpressionHelpers.asciiFold(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ExpressionHelpers.asciiFold($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `bpe_encode(word, merges) -> array<string>`: canonical BPE encode of
  * one pre-tokenized word against a LITERAL merge table (elements
  * `"a b"`, rank = array position; `"</w>"` is appended as the
  * end-of-word symbol, matching `graft.text.BpeTrainer.Eow`).
  *
  * This replaces the k-deep chained-`regexp_replace` application form:
  * ONE codegen'd call per word whose cost is O(word · merges-applied),
  * independent of table size — the shape that still works at a real
  * ~30k-merge vocabulary, where a 30k-deep expression tree would break
  * codegen outright and pay 30k regex passes per word.
  *
  * Algorithm: repeatedly merge the lowest-RANKED adjacent pair (all its
  * leftmost-non-overlapping occurrences per round) until no adjacent
  * pair is ranked — the published apply order. For tables produced by
  * `BpeTrainer.train` this is identical to sequentially applying each
  * merge once in rank order (a training table only ranks pairs whose
  * component symbols exist before it), which BpeTrainerSpec pins
  * differentially against the regexp fold. Codepoint-safe segmentation
  * (a surrogate pair is one base symbol, the t18 convention).
  */
case class BpeEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string word, got ${left.dataType.catalogString}")
    else if (!right.dataType.isInstanceOf[ArrayType] ||
      right.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<string> merge table, got ${right.dataType.catalogString}")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable (literal) merge table")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val m = new java.util.HashMap[String, Integer](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) m.putIfAbsent(arr.getUTF8String(i).toString, i)
      i += 1
    }
    m
  }

  /** Codegen/interpreted shared encode; referenced via `addReferenceObj`
    * so the rank map lives in the generated class, built once.
    */
  def encode(w: UTF8String): ArrayData = {
    val s = w.toString
    var syms = new java.util.ArrayList[String](s.length + 1)
    var i = 0
    while (i < s.length) {
      val n = Character.charCount(s.codePointAt(i))
      syms.add(s.substring(i, i + n))
      i += n
    }
    syms.add("</w>")
    var done = false
    while (!done && syms.size > 1) {
      var best = -1
      var bestRank = Integer.MAX_VALUE
      var j = 0
      while (j < syms.size - 1) {
        val r = ranks.get(syms.get(j) + " " + syms.get(j + 1))
        if (r != null && r < bestRank) { bestRank = r; best = j }
        j += 1
      }
      if (best < 0) done = true
      else {
        val a = syms.get(best)
        val b = syms.get(best + 1)
        val out = new java.util.ArrayList[String](syms.size)
        var k = 0
        while (k < syms.size) {
          if (k < syms.size - 1 && syms.get(k) == a && syms.get(k + 1) == b) {
            out.add(a + b); k += 2 // leftmost, non-overlapping
          } else { out.add(syms.get(k)); k += 1 }
        }
        syms = out
      }
    }
    val res = new Array[Any](syms.size)
    var t = 0
    while (t < syms.size) { res(t) = UTF8String.fromString(syms.get(t)); t += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(res)
  }

  override def nullSafeEval(w: Any, _m: Any): Any =
    encode(w.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncode", this, classOf[BpeEncode].getName)
    nullSafeCodeGen(ctx, ev, (w, _) => s"${ev.value} = $ref.encode($w);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
