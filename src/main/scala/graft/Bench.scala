package graft

import org.apache.spark.sql.SparkSession

/** Suite benchmark: one warm SparkSession, per-query wall times as a
  * single JSON line (BASELINE.md: fixed overhead, not throughput, is the
  * binding constraint at these scales — so codegen/JIT is warmed on the
  * tiny sf first, and the cache is cleared between queries so each
  * measurement is self-contained rather than fighting earlier queries'
  * persisted intermediates for storage memory).
  *
  * One measurement rule: SPARK_GRAFT_REPS passes over the selected gates,
  * registry order on even passes and reversed on odd ones, so a gate's
  * reps run next to different neighbours and every rep after the first
  * runs with the whole suite's code warm. Each gate reports the min of its
  * readings (`queries`: single-shot timings swing ±2.5x from GC/codegen
  * timing, and the min is the least noise-contaminated estimate), every
  * reading in pass order (`runs`), and is `noisy` when their spread
  * exceeds that min.
  */
object Bench {

  /** One timed run of one gate: seconds, or -1 and the error. */
  type Reading = (Double, Option[String])

  /** Runs `reps` passes of `run` over `gates`, `gates` order on even
    * passes and reversed on odd ones, calling `beforePass` at the start of
    * each. A gate whose reading fails is not run again. Returns each
    * gate's readings in pass order, gates in `gates` order. */
  def runPasses(gates: Seq[String], reps: Int, beforePass: () => Unit)(
      run: String => Reading): Seq[(String, Seq[Reading])] = {
    val readings = scala.collection.mutable.Map(
      gates.map(_ -> Vector.empty[Reading]): _*)
    for (pass <- 0 until reps) {
      beforePass()
      val order = if (pass % 2 == 0) gates else gates.reverse
      for (g <- order if readings(g).forall(_._2.isEmpty))
        readings(g) :+= run(g)
    }
    gates.map(g => g -> readings(g))
  }

  /** One gate's result: the min of its readings (-1 if one failed), the
    * readings in pass order, and the error. */
  final case class Summary(min: Double, runs: Seq[Double], error: Option[String]) {
    /** The readings spread wider than the floor they report. */
    def noisy: Boolean = error.isEmpty && runs.max - runs.min > runs.min
  }

  def summarize(readings: Seq[Reading]): Summary = {
    val error = readings.flatMap(_._2).headOption
    Summary(if (error.isDefined) -1.0 else readings.map(_._1).min,
      readings.map(_._1), error)
  }

  /** A JSON number; NaN and ±∞ have no JSON form and render as null. */
  def jnum(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "null"

  /** The artifact's per-gate fields: `queries`, `runs`, `noisy`, `errors`. */
  def gateFields(summaries: Seq[(String, Summary)]): String = {
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => Verify.jstr(k) + ":" + v }.mkString("{", ",", "}")
    val qs = obj(summaries.map { case (g, s) => g -> jnum(s.min) })
    val runs = obj(summaries.map { case (g, s) =>
      g -> s.runs.map(jnum).mkString("[", ",", "]") })
    val noisy = summaries.collect { case (g, s) if s.noisy => Verify.jstr(g) }
      .mkString("[", ",", "]")
    val errs = obj(summaries.collect { case (g, Summary(_, _, Some(e))) =>
      g -> Verify.jstr(e) })
    s""""queries":$qs,"runs":$runs,"noisy":$noisy,"errors":$errs"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    // local-dev subset (comma-separated name prefixes); driver runs all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))
    val spark = graft.tools.ToolSession.local(
      defaultCpus = "4", shuffleFromCpus = true)

    // SPARK_GRAFT_TIMEOUT_SEC: per-REP wall bound (0/absent = none). For
    // hostile-scale rehearsals (the 100x full-suite run, the uncapped
    // skew "before" numbers) one pathological gate must not stall the
    // whole artifact: the query runs on a daemon thread under its own
    // job group; on expiry the group is cancelled and the gate records a
    // timeout error instead of a time.
    val timeoutSec = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_TIMEOUT_SEC", "0").toInt)
      .toOption.getOrElse(0)
    val pool = java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)

    // timed region covers the query only; cache cleanup between queries is
    // untimed (round-1 ADVICE: clearCache in the finally block billed each
    // query for unpersisting its own intermediates). clearCache only drops
    // SQL-cached plans — GraphX's internal RDD persists (EdgeRDD/VertexRDD
    // from the Louvain/CC gates) outlive it and squat on storage memory
    // into later queries, so persistent RDDs are unpersisted too.
    // Failures keep the -1 sentinel but also surface the exception
    // instead of reading as "fast".
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                dir: String): Reading = {
      // streams active BEFORE this gate belong to someone else (a future
      // concurrent harness): the cleanup paths below stop only streams
      // the gate itself started (round-13 ADVICE — stop-ALL was correct
      // only under the strictly-sequential assumption)
      val preStreams = spark.streams.active.map(_.id).toSet
      def stopGateStreams(): Unit =
        spark.streams.active.filterNot(q => preStreams.contains(q.id))
          .foreach(q => try q.stop() catch { case _: Throwable => () })
      val t0 = System.nanoTime()
      def exec(): Option[String] =
        try { fn(spark, dir).count(); None } catch {
          case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      val err: Option[String] =
        if (timeoutSec <= 0) exec()
        else {
          val group = s"bench-$name"
          val fut = scala.concurrent.Future {
            // job group is a THREAD-LOCAL property: set inside the worker
            spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
            try exec() finally spark.sparkContext.clearJobGroup()
          }
          try scala.concurrent.Await.result(fut,
            scala.concurrent.duration.Duration(timeoutSec, "s"))
          catch { case _: java.util.concurrent.TimeoutException =>
            spark.sparkContext.cancelJobGroup(group)
            // Streaming gates are NOT killed by the group cancel: the
            // stream execution thread submits its micro-batch jobs under
            // its OWN job group, so the cancel finds nothing and the
            // query keeps draining in the background — stealing every
            // core from the gates that follow (the r13 100x run measured
            // st11 at 517 s under a zombie st10; clean it reads ~linear).
            // Stopping the gate's active queries ends the stream
            // execution thread, which also unblocks the worker's drain.
            stopGateStreams()
            Some(s"timeout after ${timeoutSec}s")
          }
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache() // measurements stay independent
      // belt-and-braces: a failed gate must never leak a running stream
      // into the next gate's measurement window
      stopGateStreams()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      if (err.isEmpty) (elapsed, None) else (-1.0, err)
    }

    // Try-parse: a stray non-numeric env value must not abort the bench
    // before any query runs; the reps count is echoed in the JSON line so
    // comparisons across runs are self-describing.
    val reps = scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
      .toOption.getOrElse(3).max(1)

    // fixed machine-speed calibration (r14 VERDICT "What's wrong" #3):
    // the SAME tiny workload in every round's artifact, so cross-round
    // suite totals self-normalize. One CPU-bound scan + one small
    // shuffle, constants frozen forever; one untimed JIT warm, then one
    // sample before each pass and one after the last, reported as their
    // min. Read round deltas as total/calibration ratios, not raw seconds.
    def calibrationOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, 8)
        .selectExpr("sum(id % 1000003) AS s").collect()
      spark.range(0L, 2000000L, 1L, 8)
        .selectExpr("id % 4096 AS k").groupBy("k").count()
        .selectExpr("sum(count) AS n").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrationOnce() // untimed: JIT + codegen warm for the probe itself

    val gates = SparkEntry.queries.filter(kv => selected(kv._1))
    // untimed warmup: JIT + codegen caches, tiny scale (one rep is enough)
    if (warmupDir.nonEmpty && new java.io.File(warmupDir).isDirectory)
      gates.foreach { case (n, fn) => runOnce(n, fn, warmupDir) }

    val calibration = Vector.newBuilder[Double]
    val readings = runPasses(gates.keys.toSeq, reps,
      () => calibration += calibrationOnce())(g => runOnce(g, gates(g), sfDir))
    calibration += calibrationOnce()
    val calibrationRuns = calibration.result()
    val calibrationSec = calibrationRuns.min
    val summaries = readings.map { case (g, rs) => g -> summarize(rs) }

    // DESIGNED comparators (r13 VERDICT item 6): gates kept deliberately
    // unguarded to price what a guard buys — at hostile scale they time
    // out BY DESIGN while their production twin runs clean. Tagged in the
    // artifact (gate -> twin) so a CI consumer reading `errors` does not
    // page on the two rows that are supposed to be slow.
    val designedComparator = Map(
      "d04_embed_dup" -> "d20_embed_dup_guarded",
      "st10_stream_decontam" -> "st11_stream_decontam_fixed",
      "d11_semantic_dedup" -> "semanticDedupTrained k~sqrt(N) (measured: BENCH_100x_full.json)",
      "t23_curate_learned" -> "curateLearnedScalable approx_percentile (measured: BENCH_100x.json)")

    val total = summaries.map(_._2.min).filter(d => d >= 0 &&
      java.lang.Double.isFinite(d)).sum
    val dcTags = gates.keys.toSeq.sorted.flatMap(k =>
      designedComparator.get(k).map(t => Verify.jstr(k) + ":" + Verify.jstr(t)))
      .mkString("{", ",", "}")
    val head = s""""metric":"total","value":${jnum(total)},"unit":"sec","reps":$reps,"timeout_sec":$timeoutSec,"calibration_sec":${jnum(calibrationSec)}"""
    val line = s"""{$head,"calibration_runs":${calibrationRuns.map(jnum).mkString("[", ",", "]")},${gateFields(summaries)},"designed_comparators":$dcTags,"sf":${Verify.jstr(sfDir)}}"""
    println(line)
    // self-contained artifact (r10 VERDICT item 5): the driver captures
    // stdout, which truncated BENCH_r10.json mid-JSON — so the full
    // per-gate map is ALSO written to a file the round can commit as-is.
    // Best-effort: a read-only cwd must not fail the measurement run.
    // The default is per run, suffixed by the core count, so a second
    // bench at a different SPARK_GRAFT_CPUS does not clobber the first
    // run's per-gate map; a legacy copy still lands at BENCH_full.json so
    // any consumer of the old fixed name keeps seeing the latest run.
    val cpusTag = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_full_c$cpusTag.json")
    def writeArtifact(path: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}") }
    if (outPath.nonEmpty) {
      writeArtifact(outPath)
      if (!sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
        writeArtifact("BENCH_full.json") // legacy fixed name: latest run
    }
    spark.stop()
    // COMPACT closing line, printed LAST: callers parse the final stdout
    // line (tail window 2000 chars), which the full per-gate line above
    // cannot fit. This summary carries the headline numbers and
    // points at the full artifact; printed after spark.stop() so no
    // shutdown logging can land beneath it.
    val errN = summaries.count(_._2.error.isDefined)
    val noisyN = summaries.count(_._2.noisy)
    println(s"""{$head,"gates":${summaries.size},"errors_n":$errN,"noisy_n":$noisyN,"full":${Verify.jstr(outPath)},"sf":${Verify.jstr(sfDir)}}""")
  }
}
