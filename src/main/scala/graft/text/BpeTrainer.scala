package graft.text

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE merge training over a corpus — the tokenizer-building stage of a
  * training-data pipeline (t14 covers the pre-tokenizer counts; this
  * learns the merge table itself, Sennrich-style).
  *
  * Scale shape: the ONLY corpus-proportional work is the distinct-word
  * frequency extraction (one map-side-combinable groupBy — the same
  * hash-shuffle as exact dedup). Every merge iteration then runs over the
  * distinct-word VOCABULARY, which is bounded by language statistics
  * (~10⁷ rows at web scale), not corpus size. Following the repo's
  * limit-probed hybrid convention (GraphAlgs driver-local small-graph
  * path), a vocabulary at or below `driverLimit` rows is collected once
  * and the merge loop runs in memory — exact, and free of the 2·k job
  * dispatches the distributed loop pays; larger vocabularies take the
  * distributed loop (per-iteration pair-count aggregation + argmax
  * scalar + narrow merge map), which computes the identical merge
  * sequence (forced-path parity pinned in BpeTrainerSpec).
  *
  * PATH DECISION at real merge counts (r9 VERDICT item 5, measured on a
  * 50k-word Zipf vocabulary; BENCH_10x_r11.json `tokenize_at_scale`
  * holds the round-11 readings): the incremental driver
  * loop trains 1k merges in ~11 s and 4k in ~4 s more (vs the naive
  * full-recount loop's 75 s / 276 s), while the distributed loop costs
  * ~1 s PER MERGE in job dispatch (~66 s for 64 merges at sf0.1) —
  * linear with a large constant, so at tokenizer-realistic 1k–32k merges
  * it is strictly a fallback for vocabularies that exceed `driverLimit`
  * (above ~2M distinct words, i.e. beyond any single natural language);
  * its per-merge cost is bounded and it computes the identical sequence.
  *
  * Determinism: the winning pair each round is (max count, then
  * lexicographically smallest (a, b)) — a total order, so the merge
  * sequence is reproducible on any engine and any partitioning.
  */
object BpeTrainer {

  /** t14's pre-tokenizer classes: letter runs, digit runs, single marks. */
  val preTokRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** End-of-word marker symbol (never produced by [[preTokRe]] tokens). */
  val Eow = "</w>"

  /** Vocabulary-row bound for the driver-local merge loop. */
  val DefaultDriverVocabLimit: Int = 2000000

  /** Distinct-word frequency table `(syms, freq)`: each word as its
    * space-joined character symbols plus the end-of-word marker. The one
    * corpus-sized pass; everything downstream is vocabulary-sized.
    */
  def wordFreqs(docs: DataFrame): DataFrame =
    docs
      .select(explode(regexp_extract_all(col("text"), lit(preTokRe), lit(0)))
        .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(
        concat(array_join(codepointSyms(col("w")), " "), lit(" " + Eow))
          .as("syms"),
        col("freq"))

  /** Codepoint segmentation (the t18 convention, TextOps.scala t18 doc):
    * `split(w, "")` would cut at UTF-16 code units, producing surrogate-half
    * symbols for non-BMP words that [[graft.functions.BpeEncode]] (which
    * walks code points) could never re-merge. Java-regex `(?s).` matches a
    * full code point, keeping train and apply on the same alphabet.
    */
  private def codepointSyms(w: org.apache.spark.sql.Column) =
    regexp_extract_all(w, lit("(?s)."), lit(0))

  /** Learn `nMerges` merge rules from the corpus. */
  def train(docs: DataFrame, nMerges: Int,
            driverLimit: Int = DefaultDriverVocabLimit): Seq[(String, String)] = {
    val vocab = wordFreqs(docs)
    if (driverLimit > 0) {
      val probe = vocab.limit(driverLimit + 1).collect()
      if (probe.length <= driverLimit) {
        return trainLocalIncremental(
          probe.map(r => (r.getString(0).split(" "), r.getLong(1))), nMerges)
      }
    }
    trainDistributed(vocab, nMerges)
  }

  /** Incremental in-memory merge loop — the PRODUCTION driver path at
    * real merge counts (r9 VERDICT item 5). The naive loop
    * ([[trainLocal]]) recounts every pair of every word per merge:
    * O(merges × Σ|word|), which at 1k–32k merges (what actual tokenizers
    * train) turns quadratic-ish. This loop maintains the pair-count table
    * INCREMENTALLY (the Sennrich reference-implementation recipe): a
    * (count desc, pair asc)-ordered index yields each round's winner in
    * O(log P), and a pair → word-occurrence index confines re-counting to
    * the words that actually contain the merged pair (stale entries are
    * filtered by an adjacency re-check). Identical (max count, then
    * lexicographically smallest pair) total order as the naive and
    * distributed loops — BpeTrainerSpec pins all three path-parities, and
    * BENCH_10x_r11.json carries the ≥1k-merge measurement behind the path
    * decision.
    */
  private[graft] def trainLocalIncremental(
      vocab0: Array[(Array[String], Long)],
      nMerges: Int): Seq[(String, String)] = {
    val words: Array[Array[String]] = vocab0.map(_._1)
    val freqs: Array[Long] = vocab0.map(_._2)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable
      .HashMap.empty[(String, String), scala.collection.mutable.HashSet[Int]]
    // count DESC, then a ASC, b ASC — first() is the round winner. The
    // symbol tie-break compares CODE POINTS (Tok.cpCompare), matching
    // trainDistributed's UTF8String-binary orderBy — String.compareTo's
    // UTF-16 order would pick a different winner when non-BMP symbols tie
    val tree = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(y._1, x._1)
          if (c != 0) return c
          val a = graft.Tok.cpCompare(x._2, y._2)
          if (a != 0) a else graft.Tok.cpCompare(x._3, y._3)
        }
      })
    def bump(p: (String, String), delta: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old != 0L) tree.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw != 0L) { counts(p) = nw; tree.add((nw, p._1, p._2)) }
      else counts.remove(p)
    }
    def index(p: (String, String), i: Int): Unit =
      where.getOrElseUpdate(p,
        scala.collection.mutable.HashSet.empty[Int]) += i
    var i = 0
    while (i < words.length) {
      val w = words(i)
      var k = 0
      while (k < w.length - 1) {
        bump((w(k), w(k + 1)), freqs(i)); index((w(k), w(k + 1)), i)
        k += 1
      }
      i += 1
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < nMerges && !tree.isEmpty) {
      val top = tree.first()
      val (a, b) = (top._2, top._3)
      merges += ((a, b))
      val occ = where.getOrElse((a, b),
        scala.collection.mutable.HashSet.empty[Int]).toArray
      var oi = 0
      while (oi < occ.length) {
        val wi = occ(oi)
        val w = words(wi)
        // stale-entry filter: the word may have changed since indexing
        var has = false
        var k = 0
        while (!has && k < w.length - 1) {
          has = w(k) == a && w(k + 1) == b; k += 1
        }
        if (has) {
          k = 0
          while (k < w.length - 1) { bump((w(k), w(k + 1)), -freqs(wi)); k += 1 }
          val merged = mergeWord(w, a, b)
          words(wi) = merged
          k = 0
          while (k < merged.length - 1) {
            bump((merged(k), merged(k + 1)), freqs(wi))
            index((merged(k), merged(k + 1)), wi)
            k += 1
          }
        }
        oi += 1
      }
      where.remove((a, b))
      counts.remove((a, b)).foreach(c => tree.remove((c, a, b)))
    }
    merges.toSeq
  }

  /** Leftmost non-overlapping application of one merge to a symbol array
    * — shared by the naive and incremental loops.
    */
  private def mergeWord(syms: Array[String], a: String,
                        b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2 // leftmost, non-overlapping
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Naive in-memory merge loop — full pair recount per round; the exact
    * same (count, pair) total order as the incremental and distributed
    * loops, kept as the differential reference for both.
    */
  private[graft] def trainLocal(vocab0: Array[(Array[String], Long)],
                               nMerges: Int): Seq[(String, String)] = {
    var vocab = vocab0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, freq) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + freq)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // count DESC, symbols ASC by CODE POINT (see the incremental
        // path's comparator note — must match the distributed orderBy)
        val (a, b) = counts.toSeq.min(
          Ordering.fromLessThan[((String, String), Long)] {
            case (((ax, ay), ac), ((bx, by), bc)) =>
              if (ac != bc) ac > bc
              else {
                val c = graft.Tok.cpCompare(ax, bx)
                if (c != 0) c < 0 else graft.Tok.cpCompare(ay, by) < 0
              }
          })._1
        merges += ((a, b))
        vocab = vocab.map { case (syms, freq) => (mergeWord(syms, a, b), freq) }
      }
    }
    merges.toSeq
  }

  /** Distributed merge loop: per iteration one vocabulary-sized pair
    * aggregation, one 1-row argmax collect, one narrow merge map. The
    * evolving vocab is re-cached per iteration (the argmax would
    * otherwise replay the whole merge chain each round) and
    * localCheckpointed periodically to bound lineage.
    */
  private[text] def trainDistributed(vocab0: DataFrame,
                                     nMerges: Int): Seq[(String, String)] = {
    var vocab = vocab0.cache()
    vocab.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < nMerges && !done) {
      val top = vocab
        .select(col("freq"), split(col("syms"), " ").as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("freq"), explode(expr(
          "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), " +
            "(x, y) -> named_struct('a', x, 'b', y))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val prev = vocab
        val next0 = vocab.withColumn("syms",
          regexp_replace(col("syms"), lit(mergePattern(a, b)),
            lit(Matcher.quoteReplacement(a + b))))
        val next = (if (merges.length % 16 == 0) next0.localCheckpoint(true)
                    else next0).cache()
        next.count()
        prev.unpersist(blocking = false)
        vocab = next
      }
    }
    vocab.unpersist(blocking = false)
    merges.toSeq
  }

  /** Leftmost-non-overlapping whole-symbol match for `a b` in a
    * space-joined symbol string (Java regexp semantics — the same
    * replace order as the array walk in [[trainLocal]]).
    */
  private[text] def mergePattern(a: String, b: String): String =
    "(?<=^|\\s)" + Pattern.quote(a) + " " + Pattern.quote(b) + "(?=\\s|$)"

  /** Apply a learned merge table to a column of words: `(w, toks)`.
    * Pure projection, no shuffle — ONE codegen'd [[graft.functions
    * .BpeEncode]] call per word (canonical lowest-rank apply order,
    * O(word · merges-applied) regardless of table size), so a real
    * ~30k-merge table costs the same plan as a 5-merge one. The chained
    * regexp form it replaced ([[encodeWordsFold]]) is kept for the
    * differential spec: on tables produced by [[train]] the two orders
    * are provably identical.
    */
  def encodeWords(words: DataFrame, merges: Seq[(String, String)]): DataFrame =
    words.withColumn("toks",
      graft.functions.GraftFunctions.bpeEncode(col("w"), merges))

  /** The sequential-application form: `merges.length` chained
    * regexp_replace literals — fine for small tables, pedagogically the
    * training order, and the differential pin for [[encodeWords]].
    */
  private[graft] def encodeWordsFold(words: DataFrame,
                                     merges: Seq[(String, String)]): DataFrame = {
    val base = concat(array_join(codepointSyms(col("w")), " "), lit(" " + Eow))
    val mergedSyms = merges.foldLeft(base) { case (c, (a, b)) =>
      regexp_replace(c, lit(mergePattern(a, b)),
        lit(Matcher.quoteReplacement(a + b)))
    }
    words.withColumn("toks", split(mergedSyms, " "))
  }

  /** Tokenize documents with a learned merge table: `(doc_id, toks)` in
    * original word order (posexplode + per-doc sorted reassembly — the
    * narrow encode runs before the single doc_id shuffle).
    */
  def tokenize(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(col("doc_id"),
      posexplode(regexp_extract_all(col("text"), lit(preTokRe), lit(0)))
        .as(Seq("pos", "w")))
    encodeWords(words, merges)
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("toks")))),
        x => x.getField("toks"))).as("toks"))
  }
}
