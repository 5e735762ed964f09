package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** SparkSessionExtensions entry point: registers the native expressions so
  * they are first-class SQL functions.
  *
  *   - config:  spark.sql.extensions=graft.functions.GraftExtensions
  *   - or on a live session: GraftFunctions.register(spark)
  *
  * After either, `SELECT jaccard_sim(a, b)` / `ascii_fold(s)` parse,
  * analyze and codegen like built-ins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => VecDotRewrite)
    ext.injectOptimizerRule(_ => BandJoinRewrite)
    ext.injectOptimizerRule(_ => SimilarityJoinRewrite)
  }
}

object GraftFunctions {
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo(classOf[JaccardSim].getName, "jaccard_sim"),
      (args: Seq[Expression]) => JaccardSim(args(0), args(1))),
    (FunctionIdentifier("ascii_fold"),
      new ExpressionInfo(classOf[AsciiFold].getName, "ascii_fold"),
      (args: Seq[Expression]) => AsciiFold(args.head)),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => VecDot(args(0), args(1))),
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (args: Seq[Expression]) => BloomMightContain(args(0), args(1))),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => MinhashSig(args.head)),
    (FunctionIdentifier("stopword_cascade"),
      new ExpressionInfo(classOf[StopwordCascade].getName, "stopword_cascade"),
      (args: Seq[Expression]) => StopwordCascade(args(0), args(1))),
    (FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (args: Seq[Expression]) => BpeEncode(args(0), args(1))),
    (FunctionIdentifier("shingle_arr"),
      new ExpressionInfo(classOf[ShingleArr].getName, "shingle_arr"),
      (args: Seq[Expression]) => ShingleArr(args(0), args(1))),
    (FunctionIdentifier("nearest_centroid"),
      new ExpressionInfo(classOf[NearestCentroid].getName, "nearest_centroid"),
      (args: Seq[Expression]) => NearestCentroid(args(0), args(1), args(2))),
    (FunctionIdentifier("pq_code"),
      new ExpressionInfo(classOf[PqCode].getName, "pq_code"),
      (args: Seq[Expression]) => PqCode(args(0), args(1), args(2))))

  /** Idempotent registration into an existing session: SQL functions into
    * the registry, [[VecDotRewrite]] into the experimental optimizer batch
    * (extensions can only be injected at session build; extraOptimizations
    * is the public hook for a live session).
    */
  // once per session: registration is idempotent but not free (one
  // registry write per function + three optimizer-batch scans), and the
  // column DSL calls ensureRegistered on EVERY column construction — weak
  // keys so a stopped session doesn't pin its state here
  private val registeredSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  def register(spark: SparkSession): Unit =
    if (!registeredSessions.contains(spark)) {
      descriptors.foreach { case (ident, info, builder) =>
        spark.sessionState.functionRegistry
          .registerFunction(ident, info, builder)
      }
      Seq(VecDotRewrite, BandJoinRewrite, SimilarityJoinRewrite).foreach { rule =>
        if (!spark.experimental.extraOptimizations.contains(rule))
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ rule
      }
      registeredSessions.add(spark)
    }

  /** Column DSL via the public `call_function` (Spark ≥3.5): emits an
    * unresolved function call that the analyzer resolves against the
    * session's registry — so we register into the active session first
    * (idempotent; `registerFunction` replaces). Zero internal API: the
    * round-1 `ExpressionUtils` form did not compile against the shipped
    * Spark 4.1.2 jars.
    */
  /** Registration must happen NOW, not at analysis: without it the
    * returned column fails to resolve far from the call site with an
    * opaque unresolved-function error.
    */
  private def ensureRegistered(): Unit =
    register(SparkSession.getActiveSession.getOrElse(throw new IllegalStateException(
      "no active SparkSession — call GraftFunctions.register(spark) first")))

  def jaccardSim(a: Column, b: Column): Column = {
    ensureRegistered()
    call_function("jaccard_sim", a, b)
  }
  def asciiFold(c: Column): Column = {
    ensureRegistered()
    call_function("ascii_fold", c)
  }
  def vecDot(a: Column, b: Column): Column = {
    ensureRegistered()
    call_function("vec_dot", a, b)
  }
  def minhashSig(shArr: Column): Column = {
    ensureRegistered()
    call_function("minhash_sig", shArr)
  }

  /** The reference's order-sensitive stopword cascade over a literal word
    * list (see [[StopwordCascade]]); empty list is the identity.
    */
  def stopwordCascade(c: Column, words: Seq[String]): Column = {
    if (words.isEmpty) return c
    ensureRegistered()
    call_function("stopword_cascade", c,
      org.apache.spark.sql.functions.array(
        words.map(org.apache.spark.sql.functions.lit): _*))
  }

  /** Canonical BPE encode of a word column against a literal merge table
    * (see [[BpeEncode]]); an empty table yields chars + the EOW symbol.
    */
  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column = {
    ensureRegistered()
    val tbl =
      if (merges.isEmpty)
        org.apache.spark.sql.functions.typedlit(Seq.empty[String])
      else org.apache.spark.sql.functions.array(
        merges.map { case (a, b) =>
          org.apache.spark.sql.functions.lit(a + " " + b) }: _*)
    call_function("bpe_encode", word, tbl)
  }

  /** Distinct word k-shingle set of a document column in one compiled
    * pass (see [[ShingleArr]]); fewer than k tokens → empty array.
    */
  def shingleArr(text: Column, k: Int): Column = {
    ensureRegistered()
    call_function("shingle_arr", text,
      org.apache.spark.sql.functions.lit(k))
  }

  /** [[NearestCentroid]] against literal `(c_id, c_emb, c_norm)` rows. */
  def nearestCentroid(emb: Column, norm: Column,
      cents: Seq[(Long, Seq[Double], Double)]): Column = {
    ensureRegistered()
    call_function("nearest_centroid", emb, norm,
      org.apache.spark.sql.functions.typedlit(cents))
  }

  /** [[PqCode]] against literal `(j, s, cs)` codebook rows. */
  def pqCode(xs: Column, s: Column, codes: Seq[(Long, Int, Seq[Double])]): Column = {
    ensureRegistered()
    call_function("pq_code", xs, s,
      org.apache.spark.sql.functions.typedlit(codes))
  }

  /** Probe a serialized sketch BloomFilter with a pre-hashed long column
    * (pair with `xxhash64` on both build and probe sides).
    */
  def bloomMightContain(hashed: Column, filterBytes: Array[Byte]): Column = {
    ensureRegistered()
    call_function("bloom_might_contain", hashed,
      org.apache.spark.sql.functions.lit(filterBytes))
  }
}
