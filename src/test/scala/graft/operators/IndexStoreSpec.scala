package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The at-rest retrieval index contracts:
  *   - query-from-index ≡ the in-memory build (BM25 and IVF-PQ);
  *   - incremental append ≡ full rebuild (table-level AND query-level);
  *   - the ensure fingerprint skips fresh indexes and rebuilds stale ones.
  */
class IndexStoreSpec extends AnyFunSuite with graft.SparkTestSession {

  private def tmpLoc(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft-ixspec-$tag").toString
    d
  }

  private val docsFixture = Seq(
    (0L, "alpha beta gamma alpha"),
    (1L, "alpha delta"),
    (2L, "beta beta epsilon gamma"),
    (3L, "alpha delta"),
    (4L, "   "),
    (5L, "gamma gamma alpha zeta"),
    (6L, "delta epsilon zeta alpha beta"),
    (7L, "zeta alpha"),
    (8L, "beta gamma delta"),
    (9L, "epsilon alpha alpha"))

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The committed logical table (layout is versioned under a manifest —
    * specs compare table CONTENT, never physical paths).
    */
  private def table(loc: String, name: String) =
    IndexStore.readTable(spark, loc, name)

  test("BM25: query-from-index is value-identical to the in-memory build") {
    val loc = tmpLoc("bm25")
    val docs = docsDf(docsFixture)
    IndexStore.buildBm25(docs, loc)
    val fromIx = IndexStore.bm25TopKHotTermsFromIndex(spark, loc, nProbes = 3)
    val inMem = RetrievalOps.bm25TopKHotTerms(docs, nProbes = 3)
    assert(collectSorted(fromIx) == collectSorted(inMem))
    // the doc-as-query core too (what a09's hybrid consumes)
    val dq = RetrievalOps.docQueryTopK(IndexStore.loadBm25(spark, loc),
      nQuery = 3, k = 5)
    val dqMem = RetrievalOps.bm25DocQuery(docs, nQuery = 3, k = 5)
    assert(collectSorted(dq) == collectSorted(dqMem))
  }

  test("BM25: append(batch) over build(old) equals build(full) — tables and queries") {
    val locInc = tmpLoc("bm25-inc")
    val locFull = tmpLoc("bm25-full")
    val (oldRows, newRows) = docsFixture.partition(_._1 < 6L)
    IndexStore.buildBm25(docsDf(oldRows), locInc)
    IndexStore.appendBm25(docsDf(newRows), locInc)
    IndexStore.buildBm25(docsDf(docsFixture), locFull)
    for (t <- Seq("postings", "doclen", "dfreq", "stats"))
      assert(collectSorted(table(locInc, t)) ==
        collectSorted(table(locFull, t)), s"table $t diverged")
    assert(collectSorted(
        IndexStore.bm25TopKHotTermsFromIndex(spark, locInc)) ==
      collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, locFull)))
  }

  test("BM25: ensure skips a fresh index and rebuilds a stale one") {
    val root = tmpLoc("bm25-ensure")
    val dir = "/root/testdata/sf0.001"
    val loc = IndexStore.ensureBm25(spark, dir, root)
    // the manifest version is the commit counter: a skipped ensure must
    // not publish, a rebuild must
    val v1 = IndexManifest.currentVersion(spark, loc)
    assert(IndexStore.ensureBm25(spark, dir, root) == loc)
    assert(IndexManifest.currentVersion(spark, loc) == v1,
      "fresh index was rebuilt")
    // desync the index from the source (append a doc the dir lacks):
    // the fingerprint must force a rebuild back to source state
    IndexStore.appendBm25(docsDf(Seq((999999L, "qqq www"))), loc)
    IndexStore.ensureBm25(spark, dir, root)
    assert(IndexManifest.currentVersion(spark, loc) == v1 + 2,
      "stale index was not rebuilt") // one append commit + one rebuild commit
    val st = table(loc, "stats").head()
    val nd = graft.Tables.load(spark, dir, "documents").count()
    assert(st.getAs[Long]("sig_count") == nd)
  }

  test("IVF-PQ: query-from-index is value-identical to the in-memory chain") {
    val dir = "/root/testdata/sf0.001"
    val loc = tmpLoc("ivfpq")
    val e = AnnOps.embTable(spark, dir)
    IndexStore.buildIvfPq(e, loc)
    e.unpersist(blocking = false)
    val fromIx = IndexStore.ivfPqRefinedFromIndex(spark, dir, loc)
    val inMem = AnnOps.ivfPqKnnRefined(spark, dir)
    assert(collectSorted(fromIx) == collectSorted(inMem))
  }

  test("fault injection: a build whose input raises commits nothing, leaks nothing, and vacuums clean") {
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    val dir = "/root/testdata/sf0.001"
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("emb"))
      .withColumn("norm", sqrt(graft.functions.GraftFunctions.vecDot(col("emb"), col("emb"))))
    // true only inside the build's concurrent table writes (FanOut tags
    // their jobs): training and the cached subvectors are in place and
    // the centroids are written when the assign write raises
    val inWrite = udf(() => Option(org.apache.spark.TaskContext.get())
      .flatMap(t => Option(t.getLocalProperty("spark.job.tags")))
      .exists(_.contains("graft-fanout"))).asNondeterministic()
    val raising = e.withColumn("norm",
      when(inWrite(), raise_error(lit("injected write fault"))).otherwise(col("norm")))
    def versionDirs(loc: String): Set[String] =
      new java.io.File(loc).listFiles.filter(f => f.isDirectory && !f.getName.startsWith("_"))
        .flatMap(t => t.listFiles.filter(_.getName.startsWith("v-")).map(v => s"${t.getName}/${v.getName}"))
        .toSet
    def referenced(loc: String): Set[String] =
      IndexManifest.current(spark, loc).toSeq.flatMap(_.tables.values.flatten).toSet
    /** `build` raises with `msg`; afterwards the loc is at `version`, no
      * job runs and no RDD or plan stays cached; the same loc rebuilds at
      * once, and vacuum leaves exactly the live version dirs.
      */
    def check(loc: String, msg: String)(failing: => Unit)(rebuild: => Unit): Unit = {
      val version = IndexManifest.currentVersion(spark, loc)
      val rdds = sc.getPersistentRDDs.keySet.toSet[Int]
      val plans = org.apache.spark.sql.CacheProbe.cachedPlans(spark)
      val err = intercept[Exception](failing)
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(msg)), err.toString)
      assert(IndexManifest.currentVersion(spark, loc) == version)
      org.apache.spark.ListenerBusProbe.drain(sc)
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
      assert((sc.getPersistentRDDs.keySet.toSet -- rdds).isEmpty, "a persisted RDD leaked")
      assert(org.apache.spark.sql.CacheProbe.cachedPlans(spark) == plans,
        "a cached plan leaked")
      rebuild
      assert(IndexManifest.currentVersion(spark, loc) == version + 1)
      IndexManifest.vacuum(spark, loc, keepManifests = 1, minAgeMs = 0)
      assert(versionDirs(loc) == referenced(loc))
    }
    val ivf = tmpLoc("fault-ivf")
    IndexStore.buildIvfPqTrained(e, ivf)
    check(ivf, "injected write fault")(IndexStore.buildIvfPqTrained(raising, ivf)) {
      assert(versionDirs(ivf) != referenced(ivf), "the failed build left no orphan")
      IndexStore.buildIvfPqTrained(e, ivf)
    }
    val bm25 = tmpLoc("fault-bm25")
    val docs = docsDf(docsFixture)
    IndexStore.buildBm25(docs, bm25)
    check(bm25, "injected tokenize fault")(IndexStore.buildBm25(docs.withColumn("text",
      when(col("doc_id") === 7L, raise_error(lit("injected tokenize fault")))
        .otherwise(col("text"))), bm25))(IndexStore.buildBm25(docs, bm25))
  }

  test("BM25: streaming ingest maintains the index per micro-batch (st09 discipline)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    // the continuous-ingest shape verdict item 1 names: documents arrive
    // as micro-batches, foreachBatch builds the index on the first batch
    // and APPENDS every later one — the queryable state after the drain
    // must equal a one-shot build over everything that arrived
    val loc = tmpLoc("bm25-stream")
    val src = java.nio.file.Files.createTempDirectory("graft-ixspec-src").toString
    docsDf(docsFixture).repartition(4)
      .write.mode("overwrite").parquet(s"$src/documents.parquet")
    val schema = spark.read.parquet(s"$src/documents.parquet").schema
    val chk = java.nio.file.Files.createTempDirectory("graft-ixspec-chk").toString
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*documents*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (id == 0L) IndexStore.buildBm25(batch, loc)
        else IndexStore.appendBm25(batch, loc)
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val locFull = tmpLoc("bm25-stream-full")
    IndexStore.buildBm25(docsDf(docsFixture), locFull)
    for (t <- Seq("postings", "doclen", "dfreq", "stats"))
      assert(collectSorted(table(loc, t)) ==
        collectSorted(table(locFull, t)), s"table $t diverged")
    assert(collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, loc)) ==
      collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, locFull)))
  }

  test("BM25: compaction shrinks the appended file count and changes no values") {
    import org.apache.spark.sql.functions.col
    val loc = tmpLoc("bm25-compact")
    val groups = docsFixture.grouped(3).toSeq
    IndexStore.buildBm25(docsDf(groups.head), loc)
    groups.tail.foreach(g => IndexStore.appendBm25(docsDf(g), loc))
    def nFiles(t: String): Int = IndexStore.tablePaths(spark, loc, t)
      .map(p => new java.io.File(p).listFiles
        .count(_.getName.startsWith("part-"))).sum
    val before = collectSorted(table(loc, "postings"))
    val beforeQ = collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, loc))
    val filesBefore = nFiles("postings")
    assert(filesBefore > 1, "appends should have accumulated files")
    assert(IndexStore.tablePaths(spark, loc, "postings").size > 1,
      "appends should have accumulated segments")
    IndexStore.compactBm25(spark, loc)
    assert(nFiles("postings") < filesBefore)
    assert(IndexStore.tablePaths(spark, loc, "postings").size == 1)
    assert(collectSorted(table(loc, "postings")) == before)
    assert(collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, loc)) == beforeQ)
    // compaction vacuums: only dirs the retained manifests reference remain
    val live = (IndexManifest.current(spark, loc).toSeq.flatMap(_.tables.values.flatten)
      ++ Seq.empty).toSet
    val onDisk = new java.io.File(s"$loc/postings").listFiles.map(_.getName).toSet
    assert(onDisk.exists(n => live.contains(s"postings/$n")),
      "current postings version must survive the vacuum")
  }

  test("IVF-PQ: trained-quantizer build serves from the same layout, recall-floored") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val loc = tmpLoc("ivfpq-trained")
    val e = AnnOps.embTable(spark, dir)
    val nVecs = e.count()
    IndexStore.buildIvfPqTrained(e, loc)
    e.unpersist(blocking = false)
    // same layout, trained tables: full structure present
    assert(table(loc, "centroids").count() == 16L)
    assert(table(loc, "codes").count() == 8L * (nVecs - 5))
    // the a03/a07 retrieval-quality convention vs the exact baseline
    val got = IndexStore.ivfPqRefinedFromIndex(spark, dir, loc)
      .select(col("q_id"), col("vec_id"))
    val rec = AnnOps.recallAtK(got, AnnOps.denseTopK(spark, dir)).collect()
      .map(_.getAs[Double]("recall"))
    assert(rec.sum / rec.length >= 0.7, s"mean recall ${rec.sum / rec.length}")
    assert(rec.min >= 0.5, s"min recall ${rec.min}")
  }

  test("BM25: delete ≡ rebuild-without-docs — queries now, tables after compaction") {
    import spark.implicits._
    val locDel = tmpLoc("bm25-del")
    val locRef = tmpLoc("bm25-ref")
    IndexStore.buildBm25(docsDf(docsFixture), locDel)
    // 4L is the blank doc (never indexed): deleting it must change nothing
    val gone = Set(0L, 4L, 5L, 9L)
    IndexStore.deleteBm25(gone.toSeq.toDF("doc_id"), locDel)
    IndexStore.buildBm25(docsDf(docsFixture.filterNot(r => gone(r._1))), locRef)
    // query-level equality IMMEDIATELY (tombstone anti-join + exact
    // dfreq/scalar decrements): both search cores
    assert(collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, locDel)) ==
      collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, locRef)))
    assert(collectSorted(RetrievalOps.docQueryTopK(
        IndexStore.loadBm25(spark, locDel), nQuery = 3, k = 5)) ==
      collectSorted(RetrievalOps.docQueryTopK(
        IndexStore.loadBm25(spark, locRef), nQuery = 3, k = 5)))
    // the merge-maintained model table is exact immediately
    assert(collectSorted(table(locDel, "dfreq")) ==
      collectSorted(table(locRef, "dfreq")))
    // compaction folds the tombstones: committed tables now equal the
    // rebuild's, and the tombstone entry is retired
    IndexStore.compactBm25(spark, locDel)
    for (t <- Seq("postings", "doclen", "dfreq"))
      assert(collectSorted(table(locDel, t)) ==
        collectSorted(table(locRef, t)), s"table $t diverged")
    assert(IndexStore.tablePaths(spark, locDel, "deleted").isEmpty)
    val a = table(locDel, "stats").head()
    val b = table(locRef, "stats").head()
    assert(a.getAs[Long]("n_docs") == b.getAs[Long]("n_docs"))
    assert(a.getAs[Long]("sum_tf") == b.getAs[Long]("sum_tf"))
    // the fingerprint is poisoned by design: an ensure*-managed loc whose
    // source still has the docs must rebuild, not serve the shrunken index
    assert(a.getAs[Long]("sig_count") == -1L)
  }

  test("BM25: delete poisons the ensure fingerprint (forced rebuild)") {
    import spark.implicits._
    val root = tmpLoc("bm25-del-ensure")
    val dir = "/root/testdata/sf0.001"
    val loc = IndexStore.ensureBm25(spark, dir, root)
    IndexStore.deleteBm25(Seq(1L).toDF("doc_id"), loc)
    assert(IndexStore.ensureBm25(spark, dir, root) == loc)
    val st = table(loc, "stats").head()
    assert(st.getAs[Long]("sig_count") ==
      graft.Tables.load(spark, dir, "documents").count(),
      "delete on an ensure-managed loc must force a rebuild back to source")
  }

  test("IVF-PQ: delete ≡ rebuild-without-vecs — search now, tables after compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val locDel = tmpLoc("ivfpq-del")
    val locRef = tmpLoc("ivfpq-ref")
    val e = AnnOps.embTable(spark, dir)
    IndexStore.buildIvfPq(e, locDel)
    // ids above the seed/query range: the rebuild trains identical
    // centroids/codebooks, so only assign/codes rows differ
    val gone = Seq(20L, 33L, 47L)
    IndexStore.deleteIvfPq(gone.toDF("vec_id"), locDel)
    IndexStore.buildIvfPq(e.filter(!col("vec_id").isin(gone: _*)), locRef)
    e.unpersist(blocking = false)
    assert(collectSorted(IndexStore.ivfPqRefinedFromIndex(spark, dir, locDel)) ==
      collectSorted(IndexStore.ivfPqRefinedFromIndex(spark, dir, locRef)))
    IndexStore.compactIvfPq(spark, locDel)
    for (t <- Seq("assign", "codes"))
      assert(collectSorted(table(locDel, t)) ==
        collectSorted(table(locRef, t)), s"table $t diverged")
    assert(IndexStore.tablePaths(spark, locDel, "deleted").isEmpty)
    assert(table(locDel, "stats").head().getAs[Long]("sig_count") == -1L)
  }

  test("IVF-PQ: a trained build's, a retrain's and pqAdcTrained's iters reach the codebooks") {
    val dir = "/root/testdata/sf0.001"
    val e = AnnOps.embTable(spark, dir)
    try {
      def built(iters: Int): Seq[String] = {
        val loc = tmpLoc(s"ivfpq-iters$iters")
        IndexStore.buildIvfPqTrained(e, loc, iters = iters)
        collectSorted(table(loc, "codebooks"))
      }
      assert(built(1) != built(4), "buildIvfPqTrained: iters = 1 and 4 trained one codebook")
      def retrained(iters: Int): Seq[String] = {
        val loc = tmpLoc(s"ivfpq-retrain$iters")
        IndexStore.buildIvfPq(e, loc)
        IndexStore.retrainIvfPq(e, loc, iters = iters)
        collectSorted(table(loc, "codebooks"))
      }
      assert(retrained(1) != retrained(4), "retrainIvfPq: iters = 1 and 4 trained one codebook")
      assert(collectSorted(AnnOps.pqAdcTrained(spark, dir, iters = 1)) !=
        collectSorted(AnnOps.pqAdcTrained(spark, dir, iters = 4)),
        "pqAdcTrained: iters = 1 and 4 scored alike")
    } finally e.unpersist(blocking = false)
  }

  test("IVF-PQ: cell-skew rebalance retrains routing only, recall at the rebuild floor") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val loc = tmpLoc("ivfpq-rebal")
    val e = AnnOps.embTable(spark, dir)
    // seeded build over a prefix + appended tail: the frozen seeded
    // quantizer (16 arbitrary early vectors) routes unevenly
    IndexStore.buildIvfPq(e.filter(col("vec_id") < 60), loc)
    IndexStore.appendIvfPq(e.filter(col("vec_id") >= 60), loc)
    val (cells, mx, mean, skew) = IndexStore.ivfCellStats(spark, loc)
    assert(cells == 16L && mx >= mean && skew >= 1.0)
    val cbBefore = collectSorted(table(loc, "codebooks"))
    val codesBefore = collectSorted(table(loc, "codes"))
    // below-bound skew: no-op (the maintenance loop's common case)
    assert(!IndexStore.rebalanceIvfPq(e, loc, skewBound = 1e9))
    // force the rebalance: coarse quantizer retrains, codebooks and codes
    // stay FROZEN (ADC scores unchanged — only probe routing moves)
    assert(IndexStore.rebalanceIvfPq(e, loc, skewBound = math.max(1.0, skew - 0.01)))
    assert(collectSorted(table(loc, "codebooks")) == cbBefore)
    assert(collectSorted(table(loc, "codes")) == codesBefore)
    val (_, _, _, skewAfter) = IndexStore.ivfCellStats(spark, loc)
    assert(skewAfter <= skew + 1e-9,
      s"rebalance worsened skew: $skew -> $skewAfter")
    // retrieval quality after appends + rebalance clears the SAME floors
    // the trained-rebuild test pins (the 'rebuild recall floor') — read
    // through the production maintenance probe, and cross-checked against
    // the manual recallAtK computation it wraps
    val (recMean, recMin) = IndexStore.ivfRecallProbe(spark, dir, loc)
    val got = IndexStore.ivfPqRefinedFromIndex(spark, dir, loc)
      .select(col("q_id"), col("vec_id"))
    val rec = AnnOps.recallAtK(got, AnnOps.denseTopK(spark, dir)).collect()
      .map(_.getAs[Double]("recall"))
    e.unpersist(blocking = false)
    assert(math.abs(recMean - rec.sum / rec.length) < 1e-9 &&
      math.abs(recMin - rec.min) < 1e-9,
      s"probe ($recMean, $recMin) diverges from manual (${rec.sum / rec.length}, ${rec.min})")
    assert(recMean >= 0.7, s"mean recall $recMean")
    assert(recMin >= 0.5, s"min recall $recMin")
  }

  test("IVF-PQ: append over frozen quantizer equals full seeded build") {
    val dir = "/root/testdata/sf0.001"
    val locInc = tmpLoc("ivfpq-inc")
    val locFull = tmpLoc("ivfpq-full")
    val e = AnnOps.embTable(spark, dir)
    // initial corpus holds the seed/query id range; the batch is the tail
    IndexStore.buildIvfPq(e.filter(org.apache.spark.sql.functions
      .col("vec_id") < 60), locInc)
    IndexStore.appendIvfPq(e.filter(org.apache.spark.sql.functions
      .col("vec_id") >= 60), locInc)
    IndexStore.buildIvfPq(e, locFull)
    e.unpersist(blocking = false)
    for (t <- Seq("centroids", "codebooks", "assign", "codes", "stats"))
      assert(collectSorted(table(locInc, t)) ==
        collectSorted(table(locFull, t)), s"table $t diverged")
    assert(collectSorted(
        IndexStore.ivfPqRefinedFromIndex(spark, dir, locInc)) ==
      collectSorted(IndexStore.ivfPqRefinedFromIndex(spark, dir, locFull)))
  }

  test("IVF-PQ: retrain rung folds tombstones, re-encodes, recall at the trained floor") {
    val dir = "/root/testdata/sf0.001"
    val loc = tmpLoc("ivfpq-retrain")
    val e = AnnOps.embTable(spark, dir)
    val nAll = e.count()
    val del = e.filter(org.apache.spark.sql.functions
      .expr("vec_id % 11 = 6 AND vec_id >= 16")) // keep seeds/queries
    val nDel = del.count()
    IndexStore.buildIvfPq(e, loc)
    IndexStore.deleteIvfPq(del.select(org.apache.spark.sql.functions
      .col("vec_id")), loc)
    val live = e.join(del.select(org.apache.spark.sql.functions
      .col("vec_id")), Seq("vec_id"), "left_anti")
    IndexStore.retrainIvfPq(live, loc)
    // tombstones folded: committed assign carries exactly the live set,
    // the tombstone entry is retired, codes cover the live corpus side
    assert(IndexStore.tablePaths(spark, loc, "deleted").isEmpty)
    assert(table(loc, "assign").count() == nAll - nDel)
    val nLiveCorpus = live.filter(org.apache.spark.sql.functions
      .col("vec_id") >= 5).count()
    assert(table(loc, "codes").count() == nLiveCorpus * 8)
    // the search is served from retrained model tables at the trained-
    // build recall floor (trained floats are summation-order dependent,
    // so the pin is recall + structure, not a hash — the
    // buildIvfPqTrained convention)
    val got = IndexStore.ivfPqRefinedFromIndex(spark, dir, loc)
      .select(org.apache.spark.sql.functions.col("q_id"),
        org.apache.spark.sql.functions.col("vec_id"))
    val exact = AnnOps.denseTopK(spark, dir).join(
      live.select(org.apache.spark.sql.functions.col("vec_id")),
      Seq("vec_id"), "left_semi")
    val rec = AnnOps.recallAtK(got, exact)
      .agg(org.apache.spark.sql.functions.avg(
        org.apache.spark.sql.functions.col("recall"))).head().getDouble(0)
    assert(rec >= 0.5, s"retrained index recall $rec below floor")
    e.unpersist(blocking = false)
  }

  test("IVF-PQ: capacity rung — k-bumped retrain serves the bumped layout and holds recall at moderate drift") {
    import org.apache.spark.sql.functions._
    // The rung ABOVE the maintenance ladder (BENCH_INDEX `drift`
    // measures it at sf0.1: +0.10 mean recall at drift ≤ 0.30, a wash at
    // ≥ 0.45): retrain with k bumped 16→64 cells+codes, probes scaled
    // 4→16 so the probed-cell FRACTION holds. This pins the mechanics at
    // fixture scale — the bumped layout trains/serves end-to-end and its
    // recall on a cycle-1-shaped drifted world is no worse than the
    // frozen-k retrain's.
    val dir = "/root/testdata/sf0.001"
    val work = tmpLoc("kbump")
    val e = AnnOps.embTable(spark, dir).cache()
    val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
    def drifted(c: String, d: Double) =
      expr(s"transform($c, (x, i) -> x + $d * CASE WHEN i % 2 = 0 THEN 1.0 ELSE -1.0 END)")
    // the world after one moderate-drift ingest cycle: drifted query
    // panel + original corpus + the drifted batch under fresh ids
    val panel = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), drifted("emb", 0.15).as("embedding"))
    val corpus = e.filter(col("vec_id") >= 5)
      .select(col("vec_id"), col("emb").as("embedding"))
    val batch = e.filter(col("vec_id") >= 5)
      .select((col("vec_id") + lit(maxId + 1)).as("vec_id"),
        drifted("emb", 0.15).as("embedding"))
    val wdir = s"$work/world"
    panel.unionByName(corpus).unionByName(batch)
      .write.mode("overwrite").parquet(s"$wdir/embeddings.parquet")
    def shaped(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("embedding").as("emb"))
        .withColumn("norm",
          sqrt(graft.functions.GraftFunctions.vecDot(col("emb"), col("emb"))))
    val world = shaped(spark.read.parquet(s"$wdir/embeddings.parquet"))
    val loc16 = s"$work/ix16"
    val loc64 = s"$work/ix64"
    // trained builds stand in for the retrain rungs: retrain ≡ fresh
    // trained build over the live set is pinned above (and measured
    // equal per-cycle in BENCH_INDEX drift)
    IndexStore.buildIvfPqTrained(world, loc64, k = 64)
    IndexStore.buildIvfPqTrained(world, loc16, k = 16)
    // the bumped layout is real: 64 cells, codes within the 64-id space
    assert(table(loc64, "centroids").count() == 64L)
    assert(table(loc64, "codebooks").select(col("j")).distinct().count() == 64L)
    val (m16, _) = IndexStore.ivfRecallProbe(spark, wdir, loc16)
    val (m64, _) = IndexStore.ivfRecallProbe(spark, wdir, loc64, nProbes = 16)
    e.unpersist(blocking = false)
    assert(m64 >= m16,
      s"capacity bump regressed recall at moderate drift: k16 $m16 vs k64 $m64")
  }

  test("IVF-PQ: maintainIvfPq trigger order — none, rebalance, retrain") {
    val dir = "/root/testdata/sf0.001"
    def freshLoc(tag: String): String = {
      val l = tmpLoc(s"maintain-$tag")
      val e = AnnOps.embTable(spark, dir)
      IndexStore.buildIvfPq(e, l)
      e.unpersist(blocking = false)
      l
    }
    // healthy thresholds: nothing fires
    assert(IndexStore.maintainIvfPq(spark, dir, freshLoc("none"),
      skewBound = 1e9, recallFloor = 0.0) == "none")
    // skew bound forced: the cheap routing rung fires, recall holds
    assert(IndexStore.maintainIvfPq(spark, dir, freshLoc("reb"),
      skewBound = 0.0, recallFloor = 0.0) == "rebalance")
    // recall floor unreachable: the codebook rung fires LAST (after the
    // rebalance opportunity), per the ladder
    assert(IndexStore.maintainIvfPq(spark, dir, freshLoc("rt"),
      skewBound = 1e9, recallFloor = 1.01) == "retrain")
  }

  // ------------------------------------------------- IndexLock (r12 item 3)

  test("lock: interleaved append+query only ever observes whole index states") {
    // Two threads on ONE loc: a writer appending two batches, a reader
    // querying in a loop. Every query result must equal one of the three
    // legal states (base, base+b1, base+b1+b2) — never a torn mix of old
    // scalars and new postings. 3 repetitions.
    val (base, rest) = docsFixture.partition(_._1 < 4L)
    val (b1, b2) = rest.partition(_._1 < 6L)
    // reference results per legal state, from independent builds
    val legal: Seq[Seq[String]] = Seq(base, base ++ b1, base ++ b1 ++ b2)
      .zipWithIndex.map { case (rows, i) =>
        val l = tmpLoc(s"lk-ref$i")
        IndexStore.buildBm25(docsDf(rows), l)
        collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, l))
      }
    for (rep <- 0 until 3) {
      val loc = tmpLoc(s"lk-race$rep")
      IndexStore.buildBm25(docsDf(base), loc)
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val nQueries = new java.util.concurrent.atomic.AtomicInteger(0)
      val writer = new Thread(() => {
        IndexStore.appendBm25(docsDf(b1), loc)
        Thread.sleep(30)
        IndexStore.appendBm25(docsDf(b2), loc)
      })
      val readerStop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reader = new Thread(() => {
        while (!readerStop.get()) {
          val got = collectSorted(
            IndexStore.bm25TopKHotTermsFromIndex(spark, loc))
          nQueries.incrementAndGet()
          if (!legal.contains(got))
            bad.add(got.mkString("|").take(200))
        }
      })
      reader.start(); writer.start()
      writer.join()
      readerStop.set(true); reader.join()
      assert(bad.isEmpty, s"rep $rep: torn reads: ${bad.size}")
      assert(nQueries.get() >= 1, s"rep $rep: reader never ran")
      // final state is the full corpus
      assert(collectSorted(
        IndexStore.bm25TopKHotTermsFromIndex(spark, loc)) == legal.last)
    }
  }

  test("lock: lease break fences out the old holder before its commit write") {
    val loc = tmpLoc("lk-fence")
    val t1 = IndexLock.acquire(spark, loc, leaseMs = 50, timeoutMs = 2000)
    Thread.sleep(120) // t1's lease expires
    val t2 = IndexLock.acquire(spark, loc, leaseMs = 60000, timeoutMs = 2000)
    assert(t2.fence > t1.fence, "fence must be monotonic across a break")
    // the zombie's pre-commit verify dies loudly…
    intercept[IllegalStateException] { IndexLock.verify(spark, t1) }
    // …and its release cannot delete the new holder's lock
    IndexLock.release(spark, t1)
    IndexLock.verify(spark, t2)
    IndexLock.release(spark, t2)
  }

  test("lock: contention times out, then succeeds after release; reentrant per thread") {
    val loc = tmpLoc("lk-contend")
    val t1 = IndexLock.acquire(spark, loc, leaseMs = 60000, timeoutMs = 2000)
    intercept[java.util.concurrent.TimeoutException] {
      IndexLock.acquire(spark, loc, leaseMs = 60000, timeoutMs = 300)
    }
    IndexLock.release(spark, t1)
    // nested withLock on one thread shares the outer token (no self-deadlock)
    IndexLock.withLock(spark, loc) { outer =>
      IndexLock.withLock(spark, loc) { inner =>
        assert(inner == outer)
      }
      IndexLock.verify(spark, outer) // inner exit must not release it
    }
  }

  // --------------------------------------- snapshot reads (r13 item 1/r14)

  test("snapshot reads: N readers complete while a writer HOLDS the lock, and never lock") {
    // The r14 contract: reads resolve the committed manifest and never
    // touch IndexLock. Proof by construction — the main thread acquires
    // the loc's writer lock and sits on it; 4 concurrent readers must
    // all return (lock-free) the committed pre-mutation state well
    // within the writer's hold, then an append commits and a fresh read
    // observes it.
    val loc = tmpLoc("snap-read")
    val (base, batch) = docsFixture.partition(_._1 < 6L)
    IndexStore.buildBm25(docsDf(base), loc)
    val expect = collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, loc))
    val tok = IndexLock.acquire(spark, loc, leaseMs = 60000, timeoutMs = 2000)
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val reads = scala.concurrent.Future.sequence((1 to 4).map(_ =>
        scala.concurrent.Future(collectSorted(
          IndexStore.bm25TopKHotTermsFromIndex(spark, loc)))))
      // a locked read path would TimeoutException here (the lock is held)
      val got = scala.concurrent.Await.result(reads,
        scala.concurrent.duration.Duration(60, "s"))
      pool.shutdown()
      assert(got.forall(_ == expect),
        "a reader observed something other than the committed state")
    } finally IndexLock.release(spark, tok)
    // writer proceeds after its hold; a post-commit read sees the new state
    IndexStore.appendBm25(docsDf(batch), loc)
    val locFull = tmpLoc("snap-read-full")
    IndexStore.buildBm25(docsDf(docsFixture), locFull)
    assert(collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, loc)) ==
      collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, locFull)))
  }

  test("snapshot reads: a resolved frame survives a later commit (immutable versions)") {
    // A reader that loaded the index BEFORE a commit keeps reading the
    // state it resolved — later commits create new dirs, never touch the
    // resolved ones (no vacuum runs in between here).
    val loc = tmpLoc("snap-stable")
    val (base, batch) = docsFixture.partition(_._1 < 6L)
    IndexStore.buildBm25(docsDf(base), loc)
    val ix = IndexStore.loadBm25(spark, loc) // lazy frames over v1's files
    val dfreqBefore = collectSorted(ix.dfreq)
    IndexStore.appendBm25(docsDf(batch), loc) // commits v2
    assert(collectSorted(ix.dfreq) == dfreqBefore,
      "a pre-commit snapshot changed under the reader")
    // while a FRESH resolve sees the appended state
    assert(collectSorted(IndexStore.loadBm25(spark, loc).dfreq) != dfreqBefore)
  }

  test("snapshot reads: time travel — a retained version replays exactly until vacuum drops it") {
    val loc = tmpLoc("snap-tt")
    val (base, batch) = docsFixture.partition(_._1 < 6L)
    IndexStore.buildBm25(docsDf(base), loc) // v1
    val v1 = IndexManifest.currentVersion(spark, loc)
    val atBuild = collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, loc))
    IndexStore.appendBm25(docsDf(batch), loc) // v2
    assert(IndexManifest.retainedVersions(spark, loc) == Seq(v1, v1 + 1))
    // pinned read at v1 = the pre-append state, bit-identical, while the
    // latest read serves the appended corpus
    assert(collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, loc,
      at = Some(v1))) == atBuild)
    assert(collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, loc)) != atBuild)
    // a crashed writer's orphan (a version dir no manifest references) is
    // invisible to readers and reclaimed by vacuum alongside superseded
    // versions; the retained state is untouched
    val orphan = new java.io.File(s"$loc/postings/v-orphan-crashed")
    orphan.mkdirs()
    val latest = collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, loc))
    IndexManifest.vacuum(spark, loc, keepManifests = 1)
    assert(!orphan.exists, "vacuum must reclaim unreferenced dirs")
    assert(IndexManifest.retainedVersions(spark, loc) == Seq(v1 + 1))
    assert(IndexManifest.at(spark, loc, v1).isEmpty)
    intercept[IllegalStateException] {
      IndexStore.bm25TopKHotTermsFromIndex(spark, loc, at = Some(v1))
    }
    assert(collectSorted(IndexStore.bm25TopKHotTermsFromIndex(spark, loc)) == latest)
  }

  test("lock: exclusive create is OS-atomic — concurrent raw claims admit exactly one winner") {
    // The cross-process guarantee (r13 What's-wrong #1): on file: paths
    // the claim is java.nio.file.Files.createFile — O_EXCL, atomic across
    // PROCESSES by OS contract. Two JVMs race the same syscall this test
    // races from 8 threads DIRECTLY through tryCreateLockFile, bypassing
    // the in-JVM acquire mutex — the mutex is an optimization, not the
    // guarantee.
    for (rep <- 0 until 5) {
      val loc = tmpLoc(s"lk-atomic$rep")
      val barrier = new java.util.concurrent.CyclicBarrier(8)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 8).map { i =>
        new Thread(() => {
          barrier.await()
          if (IndexLock.tryCreateLockFile(spark, loc, s"1 owner-$i 60000"))
            wins.incrementAndGet()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(wins.get() == 1, s"rep $rep: ${wins.get()} concurrent claims won")
    }
  }

  test("lock: renew restarts the lease clock so a live slow holder is not broken") {
    // margins sized so the INVARIANT, not scheduler luck, decides: each
    // renew lands 1.5s inside the 2s lease, and the contender's 1s
    // timeout leaves a full second of slack (r14 ADVICE — the old
    // 250ms-vs-400ms margins flaked under a >150ms GC pause)
    val loc = tmpLoc("lk-renew")
    val t1 = IndexLock.acquire(spark, loc, leaseMs = 2000, timeoutMs = 5000)
    // renew inside the lease: the holder stays alive past its original term
    for (_ <- 0 until 5) { Thread.sleep(500); IndexLock.renew(spark, t1) }
    // 2.5s elapsed > 2s lease, but the last renew was 0ms ago: a
    // contender must NOT break the lock (it times out instead)
    intercept[java.util.concurrent.TimeoutException] {
      IndexLock.acquire(spark, loc, leaseMs = 2000, timeoutMs = 1000)
    }
    IndexLock.verify(spark, t1) // still the holder
    IndexLock.release(spark, t1)
    // a superseded holder cannot renew (resurrect its lease)
    val t2 = IndexLock.acquire(spark, loc, leaseMs = 100, timeoutMs = 2000)
    Thread.sleep(300)
    val t3 = IndexLock.acquire(spark, loc, leaseMs = 60000, timeoutMs = 5000)
    intercept[IllegalStateException] { IndexLock.renew(spark, t2) }
    IndexLock.release(spark, t3)
  }

  test("lock: stale-break deletes only when content AND mtime match the judgment") {
    // r14 ADVICE (low): renew rewrites IDENTICAL content with a fresh
    // mtime, so a content-only re-read before the break would still
    // delete a live renewing holder's lock; the guard now also requires
    // the mtime to equal the one the staleness was judged from. The
    // delete leg (stale content + unchanged mtime): a crashed holder's
    // lock, aged past its lease with no renew, is still broken.
    val loc = tmpLoc("lk-break")
    val crashed = IndexLock.acquire(spark, loc, leaseMs = 200, timeoutMs = 2000)
    // age the lock file well past the lease (a crashed holder's state)
    val lockFile = new java.io.File(s"$loc/_lock")
    assert(lockFile.setLastModified(System.currentTimeMillis() - 60000))
    val t2 = IndexLock.acquire(spark, loc, leaseMs = 60000, timeoutMs = 2000)
    assert(t2.fence > crashed.fence, "the breaker must carry a newer fence")
    // the spare leg: a holder that RENEWED after wall-clock lease expiry
    // (identical content, fresh mtime) is not breakable — the contender
    // re-judges against the fresh mtime and times out instead
    IndexLock.release(spark, t2)
    val t3 = IndexLock.acquire(spark, loc, leaseMs = 300, timeoutMs = 2000)
    Thread.sleep(600) // lease expired by wall clock
    IndexLock.renew(spark, t3) // live holder heartbeats late but in time
    intercept[java.util.concurrent.TimeoutException] {
      IndexLock.acquire(spark, loc, leaseMs = 300, timeoutMs = 150)
    }
    IndexLock.verify(spark, t3) // the renewing holder survived the contender
    IndexLock.release(spark, t3)
  }

  // ------------------------------------- manifest commit protocol (r15)

  test("fence values may repeat across racers; verify matches fence AND owner") {
    // The narrowed r15 contract (IndexLock class doc): two cross-process
    // acquirers can both read fence N and write N+1, so a fence VALUE can
    // recur — verify() must therefore match the (fence, owner) pair, so a
    // same-fence different-owner token (the raced-out loser) still fails
    // loudly at its commit gate.
    val loc = tmpLoc("lk-fence-dup")
    assert(IndexLock.tryCreateLockFile(spark, loc, "6 owner-a 60000"))
    IndexLock.verify(spark, IndexLock.Token(loc, 6, "owner-a")) // the holder
    intercept[IllegalStateException] { // same fence, different owner
      IndexLock.verify(spark, IndexLock.Token(loc, 6, "owner-b"))
    }
    intercept[IllegalStateException] { // same owner, different fence
      IndexLock.verify(spark, IndexLock.Token(loc, 7, "owner-a"))
    }
  }

  test("manifest publish is put-if-absent: a stale-based publish conflicts loudly") {
    // r14 ADVICE (medium): publish used to compute version at commit
    // time and rename (which overwrites on POSIX), so a writer whose
    // lease expired in the verify->publish window could land a
    // stale-based state AS the newest manifest, silently discarding the
    // new holder's commit. Now the commit is CAS on the base version.
    val loc = tmpLoc("m-cas")
    IndexStore.buildBm25(docsDf(docsFixture), loc) // v1
    val base = IndexManifest.currentVersion(spark, loc)
    val m = IndexManifest.current(spark, loc).get
    // winner commits base+1
    IndexManifest.publish(spark, loc, m.tables, base)
    // the zombie (same base) must fail loudly, not overwrite
    val before = collectSorted(table(loc, "postings"))
    intercept[java.util.ConcurrentModificationException] {
      IndexManifest.publish(spark, loc,
        Map("postings" -> Seq("postings/v-zombie")), base)
    }
    assert(IndexManifest.currentVersion(spark, loc) == base + 1)
    assert(collectSorted(table(loc, "postings")) == before,
      "a conflicting publish must leave the committed state untouched")
  }

  test("vacuum age floor: a young superseded manifest survives a count-based vacuum") {
    // r14 VERDICT item 3: keepManifests counts commits, which an
    // operator can't size an audit window in. minAgeMs retains any
    // manifest younger than the floor regardless of count.
    val loc = tmpLoc("m-age")
    val (base, batch) = docsFixture.partition(_._1 < 6L)
    IndexStore.buildBm25(docsDf(base), loc) // v1
    val v1 = IndexManifest.currentVersion(spark, loc)
    IndexStore.appendBm25(docsDf(batch), loc) // v2
    IndexManifest.vacuum(spark, loc, keepManifests = 1, minAgeMs = 3600000L)
    assert(IndexManifest.retainedVersions(spark, loc) == Seq(v1, v1 + 1),
      "a manifest younger than the age floor must survive keepManifests=1")
    // the young retained version still time-travels
    assert(IndexStore.bm25TopKHotTermsFromIndex(spark, loc,
      at = Some(v1)).count() > 0)
    // with the floor off, the count rule applies as before
    IndexManifest.vacuum(spark, loc, keepManifests = 1, minAgeMs = 0L)
    assert(IndexManifest.retainedVersions(spark, loc) == Seq(v1 + 1))
  }

  test("manifest resolve fast path: probe walk reaches the newest without listing; gaps fall back") {
    val loc = tmpLoc("m-fast")
    val (base, batch) = docsFixture.partition(_._1 < 6L)
    IndexStore.buildBm25(docsDf(base), loc) // v1
    IndexStore.appendBm25(docsDf(batch.take(2)), loc) // v2
    IndexStore.appendBm25(docsDf(batch.drop(2)), loc) // v3
    val newest = IndexManifest.currentVersion(spark, loc)
    // cold cache (a fresh process): LIST fallback resolves the newest
    IndexManifest.forget(loc)
    assert(IndexManifest.currentVersion(spark, loc) == newest)
    // stale cache two commits behind, all retained: the existence-probe
    // walk reaches the newest without a LIST
    IndexManifest.forget(loc)
    IndexManifest.noteVersion(loc, newest - 2)
    assert(IndexManifest.currentVersion(spark, loc) == newest)
    // cache AT the newest: one probe miss + one hit, same answer
    assert(IndexManifest.currentVersion(spark, loc) == newest)
    // vacuumed gap: cache points below the retained suffix — the probe
    // chain misses and the LIST fallback still resolves correctly
    IndexManifest.vacuum(spark, loc, keepManifests = 1, minAgeMs = 0L)
    IndexManifest.forget(loc)
    IndexManifest.noteVersion(loc, newest - 2)
    assert(IndexManifest.currentVersion(spark, loc) == newest)
    // monotone: the resolve never goes below a version already observed
    IndexManifest.noteVersion(loc, newest)
    assert(IndexManifest.currentVersion(spark, loc) == newest)
  }

  test("manifest resolve: a far-behind cache caps the probe walk and still resolves newest") {
    // r15 ADVICE: a reader JVM thousands of commits behind a hot writer
    // must not pay an unbounded serial HEAD chain — past the cap the
    // walk abandons to one LIST and the cache jumps to newest.
    val loc = tmpLoc("m-cap")
    val (base, _) = docsFixture.partition(_._1 < 6L)
    IndexStore.buildBm25(docsDf(base), loc) // v1
    val m = IndexManifest.current(spark, loc).get
    // fabricate a hot-writer history: 24 more commits of the same state
    var v = m.version
    (1 to 24).foreach { _ => v = IndexManifest.publish(spark, loc, m.tables, v) }
    val newest = v
    IndexManifest.forget(loc)
    IndexManifest.noteVersion(loc, 1L) // 24 behind: beyond the 16-step cap
    assert(IndexManifest.currentVersion(spark, loc) == newest)
    // warm again after the jump: the next resolve is a flat probe
    assert(IndexManifest.currentVersion(spark, loc) == newest)
  }

  test("vacuum keeps a contiguous suffix even when manifest mtimes are inverted") {
    // r15 ADVICE: a copyDir-cloned loc (cloning an index resets
    // every mtime) or clock skew can make an OLDER manifest
    // read young; count∪age retention would then keep a gappy set and
    // the resolve fast path could stop at a pre-gap version. Retention
    // must be contiguous by construction.
    val loc = tmpLoc("m-contig")
    val (base, batch) = docsFixture.partition(_._1 < 6L)
    IndexStore.buildBm25(docsDf(base), loc)           // v1
    IndexStore.appendBm25(docsDf(batch.take(2)), loc) // v2
    IndexStore.appendBm25(docsDf(batch.drop(2)), loc) // v3
    def setAge(v: Long, ms: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$loc/_manifests/m.$v"),
        java.nio.file.attribute.FileTime.fromMillis(ms))
    val now = System.currentTimeMillis()
    setAge(1, now) // the clone artifact: oldest version, freshest mtime
    setAge(2, now - 7200000L); setAge(3, now - 7200000L)
    IndexManifest.vacuum(spark, loc, keepManifests = 1, minAgeMs = 3600000L)
    // count keeps {3}, age keeps {1}: the gap at 2 must be closed
    assert(IndexManifest.retainedVersions(spark, loc) == Seq(1L, 2L, 3L),
      "retained manifests must form a contiguous newest suffix")
    // the gap-closing middle version still time-travels
    assert(IndexStore.bm25TopKHotTermsFromIndex(spark, loc,
      at = Some(2L)).count() > 0)
  }
}
