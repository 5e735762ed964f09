package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{FanOut, QueryDef, Tables}

/** AT-REST retrieval indexes — the gap between "operators" and "a
  * retrieval system" (r10 VERDICT item 1): every a-family gate used to
  * rebuild its signatures/codebooks/inverted index per invocation, but at
  * 100 TB the index is built ONCE, persisted as parquet, and
  * queried/updated many times. This module persists the two retrieval
  * families' state under a versioned parquet layout and serves queries
  * from it through the SAME scoring cores as the in-memory paths
  * (value-identical by construction — the tables are exact integers /
  * round-tripped doubles, and parity is pinned in IndexStoreSpec plus the
  * a10/a11 oracle gates, which reuse a08/a07's DuckDB SQL verbatim).
  *
  * Concurrency model (r13 VERDICT item 1 — snapshot reads):
  *
  *  - WRITERS serialize under [[IndexLock]] (lock file + lease + fencing
  *    token) and commit by publishing an [[IndexManifest]]: every
  *    mutation writes NEW immutable table version dirs, verifies its
  *    fence, and atomically publishes manifest N+1 naming the new state.
  *    Nothing is ever modified in place, so a crash or a fenced-out
  *    zombie leaves only unreferenced garbage — never a torn index.
  *  - READERS never lock: a query resolves the newest manifest once and
  *    reads only the immutable files it names. N concurrent queries
  *    against one index run fully parallel and never block (or are
  *    blocked by) an appender — the Iceberg/Delta reader contract.
  *    Superseded versions are retained until [[IndexManifest.vacuum]]
  *    (run by the compaction rungs), so a resolved manifest stays
  *    readable across later commits.
  *
  * Logical tables (each manifest entry is a list of immutable parquet
  * dirs; multi-entry tables are append families a reader unions):
  *
  *   bm25:  postings (doc_id, w, tf) — the inverted index (segments);
  *          doclen (doc_id, dl) segments; dfreq (w, df); stats one row:
  *          (n_docs, sum_tf, sig_count, sig_sum, sig_chars);
  *          deleted (doc_id) tombstone segments.
  *   ivfpq: centroids (c_id, c_emb, c_norm); codebooks (j, s, cs);
  *          assign (vec_id, c_id) segments; codes (vec_id, s, j) — 4-BIT
  *          CODES ONLY for the corpus side: the 64×-compression story;
  *          stats; deleted (vec_id) segments.
  *
  * Incremental maintenance (the st09 static-corpus-index discipline
  * applied to retrieval state): [[appendBm25]] computes postings/doclen
  * for the NEW batch only and commits them as fresh segments, then MERGES
  * dfreq and the scalar stats (never a corpus re-tokenization);
  * [[appendIvfPq]] assigns + encodes new vectors against the FROZEN
  * quantizer/codebooks — the standard production contract (re-train is a
  * rebuild, not an append). Batch doc/vec ids must be disjoint from the
  * indexed ones (upstream dedup's admit contract, d08/st09). Equivalence
  * to a full rebuild is pinned in IndexStoreSpec.
  *
  * Freshness guard: gates must stay correct when the driver regenerates
  * testdata, so [[ensureBm25]]/[[ensureIvfPq]] fingerprint the source
  * table with cheap EXACT-integer aggregates (count + key sum + size sum
  * — no float sums, which are summation-order dependent) and rebuild on
  * mismatch. A production deployment would version by snapshot id instead
  * of scanning; the scan guard is the skip-if-exists checkpoint
  * discipline (reference: data_integration.ipynb c23:33-48) made safe for
  * a regenerating corpus.
  */
object IndexStore {
  /** Root for gate/dev index state; override with SPARK_GRAFT_INDEX_DIR.
    * Under target/ so `sbt clean` clears it and nothing escapes the repo.
    */
  def indexRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR", "target/graft-index")

  private def slug(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_")

  // -------------------------------------------------------------- shared

  /** Write `df` as a fresh immutable version dir of `table`; returns the
    * manifest-relative path. Mutation = new dirs + one manifest publish.
    */
  private def writeVersion(df: DataFrame, loc: String, table: String): String = {
    val rel = IndexManifest.newRel(table)
    df.write.mode("overwrite").parquet(s"$loc/$rel")
    rel
  }

  private def manifest(s: SparkSession, loc: String,
      at: Option[Long] = None): IndexManifest.Manifest =
    at.map(v => IndexManifest.at(s, loc, v).getOrElse(
        throw new IllegalStateException(
          s"index version $v at $loc is not retained (vacuumed or never committed)")))
      .orElse(IndexManifest.current(s, loc))
      .getOrElse(throw new IllegalStateException(
        s"no committed index state at $loc (build it first)"))

  private def tbl(s: SparkSession, m: IndexManifest.Manifest,
      table: String): DataFrame = {
    val ps = m.paths(table)
    require(ps.nonEmpty, s"manifest v${m.version} at ${m.loc} has no '$table'")
    s.read.parquet(ps: _*)
  }

  /** The named logical table under the loc's newest committed manifest —
    * the spec/tool-facing accessor (physical layout is versioned; nothing
    * outside this object should hardcode paths).
    */
  private[graft] def readTable(s: SparkSession, loc: String,
      table: String): DataFrame = tbl(s, manifest(s, loc), table)

  /** Absolute parquet dirs currently committed for `table` (empty when
    * the table has no live entry — e.g. `deleted` after a compaction).
    */
  private[graft] def tablePaths(s: SparkSession, loc: String,
      table: String): Seq[String] =
    IndexManifest.current(s, loc).map(_.paths(table)).getOrElse(Nil)

  /** Tombstone table under manifest `m`, if any deletes are pending
    * compaction. Schema: one `doc_id` (BM25) / `vec_id` (IVF-PQ) column.
    */
  private def tombstones(s: SparkSession,
      m: IndexManifest.Manifest): Option[DataFrame] = {
    val ps = m.paths("deleted")
    if (ps.isEmpty) None else Some(s.read.parquet(ps: _*))
  }

  // ---------------------------------------------------------------- BM25

  private def sigCharCol(docs: DataFrame) =
    if (docs.columns.contains("n_chars")) col("n_chars").cast("long")
    else length(col("text")).cast("long")

  /** Exact-integer fingerprint of a documents frame. */
  private def docSig(docs: DataFrame): (Long, Long, Long) = {
    val r = docs.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)),
      coalesce(sum(sigCharCol(docs)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Bounded wait for observed sig metrics, with a dedicated-scan
    * fallback (r17 ADVICE: `Observation.get` blocks FOREVER if the
    * observed subtree never executes — a refactor of the carrying action
    * would have turned the build into a silent hang instead of a slow
    * fallback). `getOrEmpty` returns within ~100 ms when no metrics have
    * arrived; poll it briefly, then pay the fallback scan. The deadline
    * is generous (metrics piggyback on the action's own listener event —
    * normally they are present before the first poll) but finite.
    */
  private lazy val sigWaitPool = java.util.concurrent.Executors
    .newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "graft-sig-wait"); t.setDaemon(true); t
    })

  private def sigOrFallback(obs: org.apache.spark.sql.Observation,
      fallback: => (Long, Long, Long)): (Long, Long, Long) = {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(sigWaitPool)
    val fut = scala.concurrent.Future(obs.get)
    try {
      val m = scala.concurrent.Await.result(fut,
        scala.concurrent.duration.Duration(30, "s"))
      (m("sc").asInstanceOf[Long], m("ss").asInstanceOf[Long],
        m("sch").asInstanceOf[Long])
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        // loud, not silent: a timeout here means the carrying action no
        // longer executes the observed subtree — the build still works
        // (one dedicated scan, the pre-r18 cost) but the fusion is dead
        // and someone should know
        System.err.println(
          "[graft] observed sig metrics not delivered within 30s; " +
          "falling back to the dedicated fingerprint scan")
        fallback
    }
  }

  /** The docSig aggregates as observed metrics riding another pass
    * (r17, guide §1.2 "don't compute things you throw away"): the build
    * and append paths used to pay a DEDICATED corpus/batch scan for the
    * fingerprint right before the tokenization pass read the same rows
    * again — CollectMetrics on the tokenization input computes the sig
    * for free. Observed ABOVE the blank filter so the sig covers every
    * row, exactly as [[docSig]] does; the metrics fire on
    * [[RetrievalOps.buildIndexTables]]'s collect-type action (the corpus
    * scalars) over the observed plan — and if a future refactor stops
    * that action from executing the observed subtree, the reader falls
    * back to the dedicated [[docSig]] scan instead of hanging (r17
    * ADVICE item 1).
    */
  private def observeDocSig(docs: DataFrame)
      : (DataFrame, () => (Long, Long, Long)) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = docs.observe(obs,
      count(lit(1)).as("sc"),
      coalesce(sum(col("doc_id")), lit(0L)).as("ss"),
      coalesce(sum(sigCharCol(docs)), lit(0L)).as("sch"))
    (observed, () => sigOrFallback(obs, docSig(docs)))
  }

  /** Build the BM25 index tables from `docs` and commit them at `loc` as
    * a fresh manifest (replacing any prior state). ONE corpus
    * tokenization — the same [[RetrievalOps.buildIndexTables]] the
    * in-memory gates score from — which also carries the fingerprint
    * metrics (one corpus pass total; the sig scan is gone, r17).
    */
  def buildBm25(docs: DataFrame, loc: String): Unit = {
    val s = docs.sparkSession
    IndexLock.withLock(s, loc) { tok =>
      val base = IndexManifest.currentVersion(s, loc) // CAS base: replace-all still commits base+1
      val (docsObs, sig) = observeDocSig(docs)
      val ix = RetrievalOps.buildIndexTables(docsObs) // tf cached by the build
      // the three table writes read ONE cached tf and are independent —
      // run them as concurrent jobs (guide §2.6: later jobs back-fill the
      // executor tail of the current one); the sig metrics fired on the
      // build's own scalar action, before any write
      val Seq(posts, dl, dfq) = FanOut.inParallel(Seq(
        () => writeVersion(ix.tf, loc, "postings"),
        () => writeVersion(ix.dl, loc, "doclen"),
        () => writeVersion(ix.dfreq, loc, "dfreq")))
      val (sc, ss, sch) = sig()
      val st = writeVersion(
        statsDf(s, ix.nDocs, ix.sumTf, sc, ss, sch), loc, "stats")
      IndexLock.verify(s, tok) // fenced-out builders die before the commit
      IndexManifest.publish(s, loc, Map("postings" -> Seq(posts),
        "doclen" -> Seq(dl), "dfreq" -> Seq(dfq), "stats" -> Seq(st)), base)
      ix.tf.unpersist(blocking = false)
    }
  }

  private def statsDf(s: SparkSession, nDocs: Long, sumTf: Long,
      sigCount: Long, sigSum: Long, sigChars: Long): DataFrame = {
    import s.implicits._
    Seq((nDocs, sumTf, sigCount, sigSum, sigChars))
      .toDF("n_docs", "sum_tf", "sig_count", "sig_sum", "sig_chars")
  }

  /** The committed tables as a [[RetrievalOps.Bm25Index]] — every query
    * core ([[RetrievalOps.hotTermsTopK]], [[RetrievalOps.docQueryTopK]],
    * [[RetrievalOps.scoreProbes]]) runs on it unchanged. ONE manifest
    * resolve: every table comes from the same committed version, with no
    * lock — later commits write new dirs, never touch these. Tables are
    * LAZY parquet scans (pushdown applies); a caller issuing many queries
    * in one session may cache `tf` itself. `at` pins a RETAINED older
    * version (time travel: immutable files replay bit-identically until
    * vacuum retention drops them — the audit/repro read).
    */
  private[operators] def loadBm25(s: SparkSession, loc: String,
      at: Option[Long] = None): RetrievalOps.Bm25Index = {
    val m = manifest(s, loc, at)
    val st = tbl(s, m, "stats").head()
    val nDocs = st.getAs[Long]("n_docs")
    val sumTf = st.getAs[Long]("sum_tf")
    // tombstones ([[deleteBm25]]): postings/doclen rows of deleted docs
    // stay on disk until [[compactBm25]] folds them in; the load applies
    // them as an anti-join, and the model scalars/dfreq were decremented
    // EXACTLY at delete time — so the loaded index is value-identical to
    // a rebuild without the docs (IndexStoreSpec pins it).
    val tomb = tombstones(s, m)
    def minus(df: DataFrame): DataFrame =
      tomb.map(t => df.join(t, Seq("doc_id"), "left_anti")).getOrElse(df)
    RetrievalOps.Bm25Index(
      tf = minus(tbl(s, m, "postings")),
      dl = minus(tbl(s, m, "doclen")),
      dfreq = tbl(s, m, "dfreq"),
      nDocs = nDocs,
      avgdl = if (nDocs == 0) 1.0 else sumTf.toDouble / nDocs,
      sumTf = sumTf)
  }

  /** BM25 top-k from the PERSISTED index (hot-terms probe derivation —
    * a08's semantics, served build-once/query-many). LOCK-FREE snapshot
    * read: the whole frame derives from one committed manifest, so it
    * observes exactly one index state — never old scalars over new
    * postings. Materialized (top-k-bounded) so a later vacuum cannot
    * pull files out from under a caller that holds the frame.
    */
  def bm25TopKHotTermsFromIndex(s: SparkSession, loc: String, nProbes: Int = 3,
      k: Int = 10, at: Option[Long] = None): DataFrame =
    RetrievalOps.hotTermsTopK(loadBm25(s, loc, at), nProbes, k)
      .localCheckpoint(true)

  /** Build-if-absent (fingerprint-guarded) BM25 index for the `documents`
    * table of a testdata dir; returns the index location. The guard makes
    * repeated gate invocations query-only — the build cost is paid once
    * per distinct corpus state. The FRESH case (every call after the
    * first) is LOCK-FREE: the fingerprint check is a manifest-snapshot
    * read, so a query-dominant caller never touches the writer lock;
    * only a stale verdict takes it, and re-checks under it (two stale
    * observers race here — the loser finds the winner's build fresh).
    */
  def ensureBm25(s: SparkSession, dir: String,
      root: String = indexRoot): String = {
    val loc = s"$root/${slug(dir)}/bm25"
    val docs = Tables.load(s, dir, "documents")
    def fresh: Boolean = IndexManifest.current(s, loc)
      .filter(_.tables.contains("stats")).exists { m =>
        val st = tbl(s, m, "stats").head()
        val (sc, ss, sch) = docSig(docs)
        st.getAs[Long]("sig_count") == sc && st.getAs[Long]("sig_sum") == ss &&
          st.getAs[Long]("sig_chars") == sch
      }
    if (!fresh) IndexLock.withLock(s, loc) { _ =>
      if (!fresh) buildBm25(docs, loc) // reentrant: shares this lock
    }
    loc
  }

  /** Incrementally admit a new document batch into a persisted BM25
    * index: batch postings/doclen segments APPEND (no corpus
    * re-tokenization), dfreq and the corpus scalars MERGE into fresh
    * versions. `newDocs` ids must be disjoint from the indexed corpus
    * (the d08/st09 admit contract — violating it double-counts the
    * shared ids in every table).
    *
    * Failure atomicity is the manifest protocol's (r14): all writes land
    * in NEW dirs, the fence is re-verified, and ONE atomic manifest
    * publish commits them together — a crash anywhere leaves the prior
    * manifest serving the prior state, and readers can never see batch
    * postings against stale dfreq/n_docs (they resolve one manifest).
    */
  def appendBm25(newDocs: DataFrame, loc: String): Unit = {
    val s = newDocs.sparkSession
    IndexLock.withLock(s, loc) { tok =>
      val m = manifest(s, loc)
      val (docsObs, sig) = observeDocSig(newDocs) // sig rides the tokenize pass (r17)
      val st = tbl(s, m, "stats").head()
      val nix = RetrievalOps.buildIndexTables(docsObs) // batch-sized, cached
      IndexLock.renew(s, tok) // lease heartbeat before the write stage
      // batch segments + merged dfreq all derive from the one cached
      // batch tf (the merge also reads the OLD committed dfreq — a
      // different table) — independent writes, concurrent jobs
      val merged = tbl(s, m, "dfreq")
        .unionByName(nix.dfreq)
        .groupBy(col("w")).agg(sum(col("df")).cast("long").as("df"))
      val Seq(postSeg, dlSeg, dfq) = FanOut.inParallel(Seq(
        () => writeVersion(nix.tf, loc, "postings"),
        () => writeVersion(nix.dl, loc, "doclen"),
        () => writeVersion(merged, loc, "dfreq")))
      val (sc, ss, sch) = sig()
      val stV = writeVersion(statsDf(s,
        st.getAs[Long]("n_docs") + nix.nDocs,
        st.getAs[Long]("sum_tf") + nix.sumTf,
        st.getAs[Long]("sig_count") + sc,
        st.getAs[Long]("sig_sum") + ss,
        st.getAs[Long]("sig_chars") + sch), loc, "stats")
      IndexLock.verify(s, tok) // fenced-out appenders die before the commit
      IndexManifest.publish(s, loc, m.tables ++ Map(
        "postings" -> (m.tables("postings") :+ postSeg),
        "doclen" -> (m.tables("doclen") :+ dlSeg),
        "dfreq" -> Seq(dfq), "stats" -> Seq(stV)), m.version)
      nix.tf.unpersist(blocking = false)
    }
  }

  /** Retire documents from a persisted BM25 index WITHOUT a rebuild —
    * the lifecycle inverse of [[appendBm25]] (takedowns,
    * decontamination-after-the-fact; round-11 VERDICT "What's missing"
    * item 1). Tombstone-style: postings/doclen segments stay committed
    * (an anti-join at load time hides them — [[loadBm25]]) until
    * [[compactBm25]] folds them in, but the MODEL state is maintained
    * exactly and immediately: the deleted docs' own posting lists (a
    * posting-probe-bounded join, never a corpus re-scan) give the exact
    * per-term df decrements, and their doclen rows the exact
    * n_docs/sum_tf decrements — so queries after a delete score
    * bit-identically to a rebuild without the docs (a13 pins it under
    * the driver oracle). The source fingerprint is POISONED (sig_count
    * = −1): an ensure*-managed loc whose corpus still contains the
    * deleted docs must rebuild, not serve the shrunken index as fresh.
    * Commit discipline: one fenced manifest publish, as everywhere.
    */
  def deleteBm25(ids: DataFrame, loc: String): Unit = {
    val s = ids.sparkSession
    IndexLock.withLock(s, loc) { tok =>
      val m = manifest(s, loc)
      val del = ids.select(col("doc_id")).distinct().cache()
      del.count()
      val st = tbl(s, m, "stats").head()
      // exact decrements from the index's OWN tables (only docs actually
      // indexed count — a deleted id that never had postings changes nothing)
      val dec = tbl(s, m, "doclen")
        .join(del, Seq("doc_id"))
        .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
      val (dDocs, dTf) = (dec.getLong(0), dec.getLong(1))
      val dfDec = tbl(s, m, "postings")
        .join(del, Seq("doc_id"))
        .groupBy(col("w")).agg(count(lit(1)).as("ddf"))
      val merged = tbl(s, m, "dfreq")
        .join(dfDec, Seq("w"), "left")
        .select(col("w"),
          (col("df") - coalesce(col("ddf"), lit(0L))).cast("long").as("df"))
        .filter(col("df") > 0)
      val dfq = writeVersion(merged, loc, "dfreq")
      val tombSeg = writeVersion(del, loc, "deleted")
      val stV = writeVersion(statsDf(s, st.getAs[Long]("n_docs") - dDocs,
        st.getAs[Long]("sum_tf") - dTf, -1L, -1L, -1L), // poisoned fingerprint
        loc, "stats")
      IndexLock.verify(s, tok) // fenced-out deleters die before the commit
      IndexManifest.publish(s, loc, m.tables ++ Map(
        "dfreq" -> Seq(dfq), "stats" -> Seq(stV),
        "deleted" -> (m.tables.getOrElse("deleted", Nil) :+ tombSeg)), m.version)
      del.unpersist(blocking = false)
    }
  }

  /** a08's query served from the at-rest index: build-if-absent, then
    * query-only — the bench's min-of-N reps therefore read the QUERY
    * latency (build is paid on the first rep / by an earlier gate), which
    * is exactly the build-vs-query separation the at-rest design is for.
    * Same DuckDB oracle as a08 verbatim: the persisted tables hold the
    * identical integer relations, so scores are bit-equal.
    */
  val a10 = QueryDef(
    "a10_bm25_index_query",
    "BM25 top-10 served from the persisted parquet inverted index",
    (s, dir) => bm25TopKHotTermsFromIndex(s, ensureBm25(s, dir)),
    RetrievalOps.a08.oracle)

  // -------------------------------------------------------------- IVF-PQ

  /** Exact-integer fingerprint of an (vec_id, emb) frame. */
  private def embSig(e: DataFrame): (Long, Long, Long) = {
    val r = e.agg(count(lit(1)), coalesce(sum(col("vec_id")), lit(0L)),
      coalesce(sum(size(col("emb")).cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The embSig aggregates as observed metrics riding the ASSIGN pass
    * (r18, closing the r17 "Not yet optimized" #1 / r17 VERDICT Next #3):
    * every IVF build/append writes a full-input cell assignment, so the
    * fingerprint scan that used to precede it is a redundant corpus pass
    * — CollectMetrics on the assignment's input computes the sig during
    * the assign parquet write. Metric delivery on a write command is
    * exactly what r17 declined to assume; [[sigOrFallback]] makes the
    * assumption safe — if the metrics do not arrive, the dedicated
    * [[embSig]] scan runs as before (slower, never wrong, never a hang).
    */
  private def observeEmbSig(e: DataFrame)
      : (DataFrame, () => (Long, Long, Long)) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = e.observe(obs,
      count(lit(1)).as("sc"),
      coalesce(sum(col("vec_id")), lit(0L)).as("ss"),
      coalesce(sum(size(col("emb")).cast("long")), lit(0L)).as("sch"))
    (observed, () => sigOrFallback(obs, embSig(e)))
  }

  private def ivfStatsDf(s: SparkSession, sc: Long, ss: Long, sd: Long): DataFrame = {
    import s.implicits._
    Seq((sc, ss, sd)).toDF("sig_count", "sig_sum", "sig_dims")
  }

  /** Build + commit the seeded IVF-PQ index (a06/a07 conventions: 16
    * seeded cells = `vec_id < 16`, 16 seeded codes per 8-dim subspace,
    * corpus side = `vec_id >= 5`) from a normed embedding frame
    * `(vec_id, emb, norm)`. Doubles round-trip parquet bit-exactly, so
    * query-from-index is value-identical to the in-memory chain.
    */
  def buildIvfPq(e: DataFrame, loc: String): Unit = {
    val s = e.sparkSession
    IndexLock.withLock(s, loc) { tok =>
      val base = IndexManifest.currentVersion(s, loc)
      val (eObs, sig) = observeEmbSig(e) // sig rides the assign write (r18)
      val centsDf = AnnOps.seededCents(e, 16)
      val subs = AnnOps.subvectors(e)
      val cbDf = AnnOps.seededCodebook(subs)
      // four independent table writes (two model-sized, two full-input) —
      // concurrent jobs per guide §2.6; the assign write carries the
      // observed sig metrics
      val Seq(cents, cb, asg, codes) = FanOut.inParallel(Seq(
        () => writeVersion(centsDf, loc, "centroids"),
        () => writeVersion(cbDf, loc, "codebooks"),
        () => writeVersion(CentroidAssign.nearest(eObs, centsDf), loc, "assign"),
        () => writeVersion(AnnOps.pqEncode(subs.filter(col("vec_id") >= 5), cbDf)
          .select(col("vec_id"), col("s"), col("j")), loc, "codes")))
      val (sc, ss, sd) = sig()
      val st = writeVersion(ivfStatsDf(s, sc, ss, sd), loc, "stats")
      IndexLock.verify(s, tok)
      IndexManifest.publish(s, loc, Map("centroids" -> Seq(cents),
        "codebooks" -> Seq(cb), "assign" -> Seq(asg), "codes" -> Seq(codes),
        "stats" -> Seq(st)), base)
    }
  }

  /** Build-if-absent (fingerprint-guarded) IVF-PQ index for a testdata
    * dir's `embeddings` table; returns the location. Fresh case
    * lock-free, stale case locked + re-checked — see [[ensureBm25]].
    */
  def ensureIvfPq(s: SparkSession, dir: String,
      root: String = indexRoot): String = {
    val loc = s"$root/${slug(dir)}/ivfpq"
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("emb"))
    def fresh: Boolean = IndexManifest.current(s, loc)
      .filter(_.tables.contains("stats")).exists { m =>
        val st = tbl(s, m, "stats").head()
        val (sc, ss, sd) = embSig(e)
        st.getAs[Long]("sig_count") == sc && st.getAs[Long]("sig_sum") == ss &&
          st.getAs[Long]("sig_dims") == sd
      }
    if (!fresh) IndexLock.withLock(s, loc) { _ =>
      if (!fresh)
        buildIvfPq(e.withColumn("norm",
          sqrt(graft.functions.GraftFunctions.vecDot(col("emb"), col("emb")))), loc)
    }
    loc
  }

  /** IVF-PQ + refine served from the at-rest index: cell assignment and
    * 4-bit codes come from parquet (the search path touches NO
    * full-precision corpus vector until the refine point-fetch); queries
    * and the refine fetch read the embeddings table. Same chain as
    * [[AnnOps.ivfPqKnnRefined]] with the persisted tables substituted —
    * probes/ADC/refine are the SAME factored cores. LOCK-FREE snapshot
    * read (one manifest resolve), materialized top-k.
    */
  def ivfPqRefinedFromIndex(s: SparkSession, dir: String, loc: String,
      nProbes: Int = 4, topK: Int = 10, refineFactor: Int = 8,
      at: Option[Long] = None, ownEmbCache: Boolean = true,
      qPanel: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    val m = manifest(s, loc, at)
    val e = AnnOps.embTable(s, dir) // cached: probes + qsubs + refine fetch
    val cents = tbl(s, m, "centroids")
    // tombstones ([[deleteIvfPq]]): retired vectors drop out of the cell
    // assignment here, so they can never become candidates — their codes
    // stay committed until [[compactIvfPq]] but are unreachable
    // (candidates drive the code decode, not the other way round)
    val tomb = tombstones(s, m)
    val assign = tomb.foldLeft(tbl(s, m, "assign"))(
      (a, t) => a.join(t, Seq("vec_id"), "left_anti"))
    val cand = broadcast(AnnOps.ivfProbes(e, cents, nProbes))
      .join(assign, Seq("c_id"))
      .filter(col("vec_id") >= 5)
      .select(col("q_id"), col("vec_id"))
    // ADC scoring, two value-identical shapes (r17 VERDICT Next #4,
    // adjudicated by matched-window A/B at sf0.1):
    //  - `qPanel` given (the epoch fan-out, which holds the collected
    //    query panel anyway): the classic |Q|×8×k literal LUT — terms
    //    qs·cs precomputed driver-side with dotSeq's exact vecDot
    //    summation, ONE broadcast lookup join instead of codebook ⋈
    //    query-subvector joins + a per-row vecDot. Measured a15 7.46 →
    //    6.61 s / a16 6.57 → 5.70 s (reps=5, calibration-matched).
    //  - no panel (a11/a14 single-shot queries): the r17 join form —
    //    building the LUT here costs two EXTRA driver collects per
    //    invocation, measured a11 1.22 → 1.40 s / a14 3.79 → 4.17 s on
    //    the same A/B, the a03-collect mechanism again; negative
    //    recorded, join form kept.
    // Candidate restriction stays BEFORE the code decode in both shapes
    // (cand ⋈ codes first): decode work is bounded by |cand| · 8
    // subspaces, never the corpus.
    val scored = qPanel match {
      case Some(qRows) =>
        val cbRows = AnnOps.collectCodes(tbl(s, m, "codebooks"))
        import s.implicits._
        val lut = AnnOps.adcLutFromRows(qRows, cbRows)
          .toDF("q_id", "s", "j", "term")
        AnnOps.adcScoreLut(cand, tbl(s, m, "codes"), lut)
      case None =>
        val cb = tbl(s, m, "codebooks")
        val candCodes = tbl(s, m, "codes")
          .join(cand, Seq("vec_id"))
        val qsubs = AnnOps.querySubs(
          AnnOps.subvectors(e.filter(col("vec_id") < 5)))
        candCodes
          .join(broadcast(cb), Seq("s", "j"))
          .join(broadcast(qsubs), Seq("q_id", "s"))
          .withColumn("term",
            graft.functions.GraftFunctions.vecDot(col("qs"), col("cs")))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(round(sum(col("term")), 6).as("adc"))
    }
    val out = AnnOps.refineAdcShortlist(scored, e, topK, refineFactor)
      .localCheckpoint(true) // materialize; top-k bounded
    // `ownEmbCache = false` (r17): a multi-leg fan-out (EpochIndex
    // searchTopK / searchTopKPruned) fills the plan-matched embTable
    // cache ONCE and runs its legs — possibly concurrently — against it;
    // a leg unpersisting the shared cache forced every later leg to
    // refill it (and raced concurrent legs into recomputes).
    if (ownEmbCache) e.unpersist(blocking = false)
    out
  }

  /** [[buildIvfPq]] with TRAINED model tables — the production shape
    * beside the seeded gate convention: Lloyd centroids
    * ([[AnnOps.kmeansCentroids]], cosine) for the coarse quantizer and
    * per-subspace L2 Lloyd codebooks ([[AnnOps.pqCodebooks]]), then the
    * same assign/encode/commit. The layout is IDENTICAL, so
    * [[ivfPqRefinedFromIndex]] serves from either build unchanged.
    * Trained float values are partition-summation-order dependent (the
    * kmeansCentroids contract), so the pin is a RECALL floor plus
    * structure (IndexStoreSpec), not a hash.
    */
  def buildIvfPqTrained(e: DataFrame, loc: String, k: Int = 16,
      iters: Int = 2): Unit = {
    val s = e.sparkSession
    IndexLock.withLock(s, loc) { tok =>
      val base = IndexManifest.currentVersion(s, loc)
      val (eObs, sig) = observeEmbSig(e) // sig rides the assign write (r18)
      val cents = AnnOps.kmeansCentroids(e, k, iters).cache()
      cents.count() // materialize: persist + assignment both read it
      val centsRel = writeVersion(cents, loc, "centroids")
      val subs = AnnOps.subvectors(e).cache()
      subs.count() // codebook training + encode share one fill
      IndexLock.renew(s, tok) // heartbeat: k-means stages are the cost
      val cb = AnnOps.pqCodebooks(subs, k).cache()
      cb.count()
      // codebook persist + full-input assign/encode writes are
      // independent once training materialized — concurrent jobs
      val Seq(cbRel, asg, codes) = FanOut.inParallel(Seq(
        () => writeVersion(cb, loc, "codebooks"),
        () => writeVersion(CentroidAssign.nearest(eObs, cents), loc, "assign"),
        () => writeVersion(AnnOps.pqEncode(subs.filter(col("vec_id") >= 5), cb)
          .select(col("vec_id"), col("s"), col("j")), loc, "codes")))
      val (sc, ss, sd) = sig()
      val st = writeVersion(ivfStatsDf(s, sc, ss, sd), loc, "stats")
      IndexLock.verify(s, tok)
      IndexManifest.publish(s, loc, Map("centroids" -> Seq(centsRel),
        "codebooks" -> Seq(cbRel), "assign" -> Seq(asg), "codes" -> Seq(codes),
        "stats" -> Seq(st)), base)
      Seq(cents, subs, cb).foreach(_.unpersist(blocking = false))
    }
  }

  /** Compact the append-maintained BM25 tables: every [[appendBm25]]
    * commits one segment to postings/doclen, and a long-running ingest
    * accumulates thousands of small files — the standard lakehouse
    * maintenance step. Values are untouched (IndexStoreSpec pins table
    * equality); pending tombstones are folded in (the compacted tables
    * carry only live rows and the tombstone entry is retired — the
    * load-time anti-join disappears until the next delete); postings are
    * re-clustered BY TERM so each posting list lands contiguously (the
    * layout a term-probe scan wants: min/max file statistics then prune
    * non-matching files), file counts sized at ~128 MB targets. Ends
    * with a [[IndexManifest.vacuum]] — compaction is where superseded
    * versions are reclaimed.
    */
  def compactBm25(s: SparkSession, loc: String): Unit = {
    IndexLock.withLock(s, loc) { tok =>
      val m = manifest(s, loc)
      val tomb = tombstones(s, m)
      def minus(df: DataFrame): DataFrame =
        tomb.map(t => df.join(t, Seq("doc_id"), "left_anti")).getOrElse(df)
      val posts = writeVersion(minus(tbl(s, m, "postings"))
        .repartition(targetFiles(s, m.paths("postings")), col("w"))
        .sortWithinPartitions(col("w"), col("doc_id")), loc, "postings")
      IndexLock.renew(s, tok)
      val dl = writeVersion(minus(tbl(s, m, "doclen"))
        .repartition(targetFiles(s, m.paths("doclen")), col("doc_id"))
        .sortWithinPartitions(col("doc_id")), loc, "doclen")
      IndexLock.verify(s, tok)
      IndexManifest.publish(s, loc, m.tables ++ Map(
        "postings" -> Seq(posts), "doclen" -> Seq(dl),
        "deleted" -> Nil), m.version)
    }
    IndexManifest.vacuum(s, loc)
  }

  /** ~128 MB-target output file count for a compaction rewrite. */
  private def targetFiles(s: SparkSession, paths: Seq[String]): Int = {
    val bytes = paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(hp).getLength
    }.sum
    math.max(1, (bytes / (128L << 20)).toInt +
      (if (bytes % (128L << 20) > 0) 1 else 0))
  }

  /** Incrementally admit new vectors into a persisted IVF-PQ index:
    * assign + PQ-encode the batch against the FROZEN centroids/codebooks
    * (the production contract — re-training the quantizer is a rebuild)
    * and commit fresh segments. Batch vec_ids must be disjoint from the
    * indexed corpus and ≥ the seed/query id range (a real corpus appends
    * fresh ids).
    */
  def appendIvfPq(newE: DataFrame, loc: String): Unit = {
    val s = newE.sparkSession
    IndexLock.withLock(s, loc) { tok =>
      val m = manifest(s, loc)
      val (eObs, sig) = observeEmbSig(newE) // sig rides the assign write (r18)
      val st = tbl(s, m, "stats").head()
      // batch assign + encode segments are independent — concurrent jobs
      val Seq(asgSeg, codeSeg) = FanOut.inParallel(Seq(
        () => writeVersion(
          CentroidAssign.nearest(eObs, tbl(s, m, "centroids")), loc, "assign"),
        () => writeVersion(
          AnnOps.pqEncode(AnnOps.subvectors(newE), tbl(s, m, "codebooks"))
            .select(col("vec_id"), col("s"), col("j")), loc, "codes")))
      val (sc, ss, sd) = sig()
      val stV = writeVersion(ivfStatsDf(s,
        st.getAs[Long]("sig_count") + sc,
        st.getAs[Long]("sig_sum") + ss,
        st.getAs[Long]("sig_dims") + sd), loc, "stats")
      IndexLock.verify(s, tok)
      IndexManifest.publish(s, loc, m.tables ++ Map(
        "assign" -> (m.tables("assign") :+ asgSeg),
        "codes" -> (m.tables("codes") :+ codeSeg),
        "stats" -> Seq(stV)), m.version)
    }
  }

  /** Retire vectors from a persisted IVF-PQ index — the dense twin of
    * [[deleteBm25]]. Tombstone-style: assign/codes segments stay
    * committed until [[compactIvfPq]], but the query path drops
    * tombstoned ids from the cell assignment ([[ivfPqRefinedFromIndex]]),
    * which makes their codes unreachable (candidates drive the decode).
    * IVF-PQ holds no corpus-derived model scalars (centroids/codebooks
    * are frozen training artifacts), so no merge is needed; the source
    * fingerprint is POISONED (sig_count = −1) so an ensure*-managed loc
    * rebuilds.
    */
  def deleteIvfPq(ids: DataFrame, loc: String): Unit = {
    val s = ids.sparkSession
    IndexLock.withLock(s, loc) { tok =>
      val m = manifest(s, loc)
      val del = ids.select(col("vec_id")).distinct()
      val st = tbl(s, m, "stats").head()
      val tombSeg = writeVersion(del, loc, "deleted")
      val stV = writeVersion(ivfStatsDf(s, -1L,
        st.getAs[Long]("sig_sum"), st.getAs[Long]("sig_dims")), loc, "stats")
      IndexLock.verify(s, tok)
      IndexManifest.publish(s, loc, m.tables ++ Map(
        "stats" -> Seq(stV),
        "deleted" -> (m.tables.getOrElse("deleted", Nil) :+ tombSeg)), m.version)
    }
  }

  /** Fold IVF-PQ tombstones in and re-cluster the append-accumulated
    * small files — the IVF twin of [[compactBm25]]: assign re-clustered
    * BY CELL (the layout a probe scan wants: prune non-probed cells via
    * file min/max statistics), codes by vec_id (the candidate point-
    * lookup side). Values untouched; the tombstone entry is retired;
    * superseded versions vacuumed.
    */
  def compactIvfPq(s: SparkSession, loc: String): Unit = {
    IndexLock.withLock(s, loc) { tok =>
      val m = manifest(s, loc)
      val tomb = tombstones(s, m)
      def minus(df: DataFrame): DataFrame =
        tomb.map(t => df.join(t, Seq("vec_id"), "left_anti")).getOrElse(df)
      val asg = writeVersion(minus(tbl(s, m, "assign"))
        .repartition(targetFiles(s, m.paths("assign")), col("c_id"))
        .sortWithinPartitions(col("c_id"), col("vec_id")), loc, "assign")
      IndexLock.renew(s, tok)
      val codes = writeVersion(minus(tbl(s, m, "codes"))
        .repartition(targetFiles(s, m.paths("codes")), col("vec_id"))
        .sortWithinPartitions(col("vec_id"), col("s")), loc, "codes")
      IndexLock.verify(s, tok)
      IndexManifest.publish(s, loc, m.tables ++ Map(
        "assign" -> Seq(asg), "codes" -> Seq(codes), "deleted" -> Nil), m.version)
    }
    IndexManifest.vacuum(s, loc)
  }

  /** Live-cell occupancy of a persisted IVF index (tombstones excluded):
    * (n_cells, max_cell, mean_cell, skew = max/mean). The drift probe the
    * append path needs — appends assign against FROZEN centroids, so a
    * drifting embedding distribution piles new vectors into few cells and
    * probe recall decays with no signal; this is the signal.
    * Driver-side scalars from a lock-free snapshot: one k-row aggregate
    * (k = cell count) over one committed manifest.
    */
  def ivfCellStats(s: SparkSession, loc: String): (Long, Long, Double, Double) = {
    val m = manifest(s, loc)
    val tomb = tombstones(s, m)
    val assign = tomb.foldLeft(tbl(s, m, "assign"))(
      (a, t) => a.join(t, Seq("vec_id"), "left_anti"))
    val r = assign.groupBy(col("c_id")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), coalesce(max(col("n")), lit(0L)),
        coalesce(avg(col("n")), lit(0.0))).head()
    val (cells, mx, mean) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    (cells, mx, mean, if (mean > 0) mx / mean else 0.0)
  }

  /** MEASURED recall-drift probe: mean and min recall@k of the persisted
    * IVF-PQ index's refined search against the exact brute-force top-k
    * over the same query set — the direct maintenance signal beside
    * [[ivfCellStats]]'s cell-skew proxy. Cell skew says the routing is
    * uneven; this says what that costs in retrieval quality, which is the
    * number a maintenance loop actually alerts on (probe recall decaying
    * under a frozen quantizer as the embedding distribution drifts).
    *
    * The exact side is brute-force over the corpus, so at 100 TB this
    * runs on a SAMPLED query panel against the live index — the query
    * side here is the fixed 5-vector gate panel, and both sides are
    * distributed scans (the exact side broadcasts only the panel). Probe
    * cadence: after every append batch or on a schedule, alongside
    * [[ivfCellStats]]; recall below the build-time floor triggers
    * [[rebalanceIvfPq]], and failure of THAT to recover triggers the
    * retrain rung. Lock-free (pure snapshot read).
    */
  def ivfRecallProbe(s: SparkSession, dir: String, loc: String,
      k: Int = 10, nProbes: Int = 4,
      exact: Option[DataFrame] = None): (Double, Double) = {
    val got = ivfPqRefinedFromIndex(s, dir, loc, nProbes = nProbes, topK = k)
      .select(col("q_id"), col("vec_id"))
    // `exact`: a precomputed brute-force top-k panel over the SAME dir/k
    // — a sweep probing many indexes against one corpus (EpochIndex
    // .maintainEpochs) computes it once instead of per probe
    val r = AnnOps.recallAtK(got, exact.getOrElse(AnnOps.denseTopK(s, dir, k)))
      .agg(avg(col("recall")), min(col("recall"))).head()
    (r.getDouble(0), r.getDouble(1))
  }

  /** Re-balance an append-skewed IVF index when cell-size skew crosses
    * `skewBound`: re-train the COARSE quantizer over the current live
    * vector set (`e`, the same `(vec_id, emb, norm)` shape the builders
    * take) and re-assign every vector — PQ codebooks and codes stay
    * FROZEN, so ADC scores are unchanged and only probe routing moves.
    * This is deliberately cheaper than a rebuild (no re-encode of the
    * corpus codes) and is the middle rung of the maintenance ladder:
    * append (frozen everything) → rebalance (retrain routing) → retrain
    * (routing + codebooks). Returns true when a rebalance ran. The
    * fingerprint is PRESERVED (the corpus did not change — only the
    * index layout did).
    */
  def rebalanceIvfPq(e: DataFrame, loc: String, skewBound: Double = 4.0,
      k: Int = 16, iters: Int = 2): Boolean = {
    val s = e.sparkSession
    IndexLock.withLock(s, loc) { tok =>
      val (_, _, _, skew) = ivfCellStats(s, loc)
      if (skew <= skewBound) false
      else {
        val m = manifest(s, loc)
        val tomb = tombstones(s, m)
        val live = tomb.foldLeft(e)((d, t) => d.join(t, Seq("vec_id"), "left_anti"))
        val cents = AnnOps.kmeansCentroids(live, k, iters).cache()
        cents.count() // materialize: persist + re-assignment both read it
        val centsRel = writeVersion(cents, loc, "centroids")
        IndexLock.renew(s, tok)
        val asg = writeVersion(CentroidAssign.nearest(live, cents), loc, "assign")
        IndexLock.verify(s, tok)
        IndexManifest.publish(s, loc, m.tables ++ Map(
          "centroids" -> Seq(centsRel), "assign" -> Seq(asg)), m.version)
        cents.unpersist(blocking = false)
        true
      }
    }
  }

  /** The LAST maintenance rung (r12 VERDICT item 5): retrain BOTH the
    * coarse quantizer AND the PQ codebooks over the live vector set and
    * re-encode every corpus code — the full-re-encode answer when
    * [[rebalanceIvfPq]] (routing-only) can no longer recover recall
    * because the embedding distribution drifted away from the codebooks
    * the PQ error was trained on. Ladder: append (frozen everything) →
    * rebalance (retrain routing) → retrain (routing + codebooks +
    * re-encode). Tombstones are folded in (the retrain is computed from
    * the live set, so the committed tables carry only live rows) and the
    * source fingerprint is PRESERVED — the corpus did not change, only
    * the model state did. Cost: one k-means per subspace + one corpus
    * re-encode — the build cost, which is the point of making it the
    * last rung. `k` may be RAISED here (the capacity rung above the
    * ladder: more cells + codes when the drifted world went multi-modal
    * past what the trained k represents — BENCH_INDEX `drift` measures
    * what that buys). IndexStoreSpec pins retrain ≡ a fresh trained
    * build over the live set at the search level.
    */
  def retrainIvfPq(e: DataFrame, loc: String, k: Int = 16,
      iters: Int = 2): Unit = {
    val s = e.sparkSession
    IndexLock.withLock(s, loc) { tok =>
      val m = manifest(s, loc)
      val st = tbl(s, m, "stats").head()
      val tomb = tombstones(s, m)
      val live = tomb.foldLeft(e)((d, t) => d.join(t, Seq("vec_id"), "left_anti"))
      val cents = AnnOps.kmeansCentroids(live, k, iters).cache()
      cents.count()
      IndexLock.renew(s, tok) // heartbeat between the k-means stages
      val subs = AnnOps.subvectors(live).cache()
      subs.count()
      val cb = AnnOps.pqCodebooks(subs, k).cache()
      cb.count()
      IndexLock.renew(s, tok)
      val centsRel = writeVersion(cents, loc, "centroids")
      val cbRel = writeVersion(cb, loc, "codebooks")
      val asg = writeVersion(CentroidAssign.nearest(live, cents), loc, "assign")
      val codes = writeVersion(AnnOps.pqEncode(subs.filter(col("vec_id") >= 5), cb)
        .select(col("vec_id"), col("s"), col("j")), loc, "codes")
      val stV = writeVersion(ivfStatsDf(s, st.getAs[Long]("sig_count"),
        st.getAs[Long]("sig_sum"), st.getAs[Long]("sig_dims")), loc, "stats")
      IndexLock.verify(s, tok)
      IndexManifest.publish(s, loc, Map("centroids" -> Seq(centsRel),
        "codebooks" -> Seq(cbRel), "assign" -> Seq(asg), "codes" -> Seq(codes),
        "stats" -> Seq(stV)), m.version)
      Seq(cents, subs, cb).foreach(_.unpersist(blocking = false))
    }
  }

  /** One tick of the IVF-PQ maintenance loop — the trigger semantics the
    * drift probes exist for, as one auditable decision function:
    *
    *   1. cell skew ([[ivfCellStats]]) over `skewBound` → [[rebalanceIvfPq]]
    *      (routing retrain, cheap);
    *   2. measured recall ([[ivfRecallProbe]]) still below `recallFloor`
    *      after the rebalance opportunity → [[retrainIvfPq]] (codebooks +
    *      re-encode, the build-cost rung);
    *   3. otherwise no action.
    *
    * Returns the action taken: "none" | "rebalance" | "retrain". The
    * recall probe is MEASURED (vs exact over the dir's query panel), so
    * the loop alerts on retrieval quality, not proxies; probe cadence
    * guidance lives in RUNBOOK.md. IndexStoreSpec pins the trigger order
    * by forcing each threshold.
    */
  def maintainIvfPq(s: SparkSession, dir: String, loc: String,
      skewBound: Double = 4.0, recallFloor: Double = 0.8,
      k: Int = 16, iters: Int = 2,
      exact: Option[DataFrame] = None): String =
    IndexLock.withLock(s, loc) { _ =>
      val e = AnnOps.embTable(s, dir)
      try {
        val rebalanced = rebalanceIvfPq(e, loc, skewBound, k, iters)
        val (meanRecall, _) = ivfRecallProbe(s, dir, loc, exact = exact)
        if (meanRecall < recallFloor) { retrainIvfPq(e, loc, k, iters); "retrain" }
        else if (rebalanced) "rebalance"
        else "none"
      } finally e.unpersist(blocking = false)
    }

  /** a07's search served from the at-rest index — same oracle verbatim
    * (the persisted assignment/codes are the deterministic seeded chain's
    * output, round-tripped exactly).
    */
  val a11 = QueryDef(
    "a11_ivfpq_index_query",
    "IVF-PQ + exact refine served from the persisted cell/code tables",
    (s, dir) => ivfPqRefinedFromIndex(s, dir, ensureIvfPq(s, dir)),
    AnnOps.a07.oracle)

  /** Scratch space for gates that EXERCISE maintenance per invocation
    * (a12 rebuilds its incremental index every call — skip-if-exists
    * would defeat the point); one per-JVM root, deleted at exit (the
    * StreamingOps tmpRoot discipline).
    */
  private[operators] lazy val tmpRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_index_tmp")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      catch { case _: Throwable => () } // cleanup is best-effort at exit
    }))
    root
  }

  /** The INCREMENTAL maintenance path under the driver oracle: build the
    * index from the `doc_id % 3 == 0` slice, APPEND the rest in two more
    * batches (the d08 batch convention), query from the result — which
    * must hash-match a08's one-shot SQL exactly, because append ≡ full
    * rebuild at the table level. A fresh temp location per invocation so
    * every call (bench rep, RepeatCheck sweep) exercises the real
    * build+append+merge chain, not a cached artifact.
    */
  val a12 = QueryDef(
    "a12_bm25_incremental_query",
    "BM25 top-10 from an index built then batch-APPENDED (a08's oracle)",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val loc = java.nio.file.Files
        .createTempDirectory(tmpRoot, "a12").toString
      val m = pmod(col("doc_id"), lit(3))
      buildBm25(docs.filter(m === 0), loc)
      appendBm25(docs.filter(m === 1), loc)
      appendBm25(docs.filter(m === 2), loc)
      bm25TopKHotTermsFromIndex(s, loc)
    },
    RetrievalOps.a08.oracle)

  /** The DELETE path under the driver oracle: build the index over the
    * WHOLE corpus, tombstone-delete the `doc_id % 7 == 0` slice
    * ([[deleteBm25]]: anti-join at load + exact dfreq/scalar decrements),
    * query — which must hash-match a08's one-shot SQL over the SURVIVING
    * corpus exactly, because delete ≡ rebuild-without-docs at the scored-
    * table level. Like a12, a fresh temp location per invocation: every
    * rep pays the real build+delete+query chain (the price IS the product
    * being tested).
    */
  val a13 = QueryDef(
    "a13_bm25_delete_query",
    "BM25 top-10 after tombstone deletes (rebuild-without-docs oracle)",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val loc = java.nio.file.Files
        .createTempDirectory(tmpRoot, "a13").toString
      buildBm25(docs, loc)
      deleteBm25(docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id")), loc)
      bm25TopKHotTermsFromIndex(s, loc)
    },
    Some(RetrievalOps.hotTermsOracleSql("doc_id % 7 <> 0 AND ")))

  /** The IVF-PQ retire path under the driver oracle: build over the whole
    * corpus, tombstone-delete the `vec_id % 9 == 7` slice (which includes
    * seed vector 7 — the frozen coarse quantizer keeps routing through a
    * centroid whose source vector is retired, the production situation),
    * COMPACT the tombstones into the physical tables, query. Must
    * hash-match a07's SQL with only the CANDIDATE corpus shrunk
    * ([[graft.operators.AnnOps.ivfPqRefineOracleSql]]): delete ≡
    * rebuild-without-vecs at the search level, and compaction is
    * value-invariant — both previously spec pins, now driver-oracled.
    * Fresh temp location per invocation (the a12/a13 convention): every
    * rep pays the real build+delete+compact+query chain.
    */
  val a14 = QueryDef(
    "a14_ivfpq_delete_compact_query",
    "IVF-PQ refine after tombstone deletes + compaction (survivor oracle)",
    (s, dir) => {
      val e = AnnOps.embTable(s, dir)
      val loc = java.nio.file.Files
        .createTempDirectory(tmpRoot, "a14").toString
      buildIvfPq(e, loc)
      deleteIvfPq(e.filter(pmod(col("vec_id"), lit(9)) === 7)
        .select(col("vec_id")), loc)
      compactIvfPq(s, loc)
      val out = ivfPqRefinedFromIndex(s, dir, loc)
      e.unpersist(blocking = false)
      out
    },
    Some(AnnOps.ivfPqRefineOracleSql(" AND a.vec_id % 9 <> 7")))

  val all: Seq[QueryDef] = Seq(a10, a11, a12, a13, a14)
}
