package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one warm SparkSession, best-of-N per-query wall
  * times as a single JSON line (BASELINE.md: fixed overhead, not
  * throughput, is the binding constraint at these scales — so codegen/JIT
  * is warmed on the tiny sf first, the cache is cleared between queries so
  * each measurement is self-contained rather than fighting earlier
  * queries' persisted intermediates for storage memory, and each query
  * reports min over SPARK_GRAFT_REPS runs so single-run GC/JIT noise
  * cannot masquerade as a regression).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    // local-dev subset (comma-separated name prefixes); driver runs all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))
    val spark = graft.tools.ToolSession.local(
      defaultCpus = "4", shuffleFromCpus = true)

    // SPARK_GRAFT_ISOLATE=1: additionally hint a full GC between queries
    // so suite-order interactions (one gate's heap residue inflating the
    // next gate's floor — the r5 d02 anomaly class) are detectable on
    // demand by diffing isolated vs suite numbers.
    val isolate = sys.env.get("SPARK_GRAFT_ISOLATE").contains("1")

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
                dir: String, forceGc: Boolean = false): (Double, Option[String]) = {
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
      if (isolate || forceGc) System.gc()
      if (err.isEmpty) (elapsed, None) else (-1.0, err)
    }

    // best-of-N (round-3/4 VERDICT: single-shot per-query timings swing
    // ±2.5x run-to-run from GC/codegen timing — BENCH_r03 vs r04 differed
    // 19% on byte-identical code. min-of-N is the standard answer: the
    // minimum is the least noise-contaminated estimate of the query's
    // true cost, and it is what makes round-over-round regression
    // detection possible at all). A rep that fails short-circuits: the
    // error is the result, retrying an exception is not a measurement.
    // Try-parse: a stray non-numeric env value must not abort the bench
    // before any query runs; the reps count is echoed in the JSON line so
    // round-over-round comparisons are self-describing (min-of-3 floors
    // are not comparable to earlier single-run rounds).
    val reps = scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
      .toOption.getOrElse(3).max(1)
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
               dir: String, nReps: Int = reps,
               forceGc: Boolean = false): (Double, Option[String]) = {
      var best = Double.MaxValue
      var i = 0
      while (i < nReps) {
        val (t, err) = runOnce(name, fn, dir, forceGc)
        if (err.isDefined) return (t, err)
        best = math.min(best, t)
        i += 1
      }
      (best, None)
    }

    // fixed machine-speed calibration (r14 VERDICT "What's wrong" #3):
    // the SAME tiny workload in every round's artifact, so cross-round
    // suite totals self-normalize (the r13→r14 57→70 s drift needed a
    // forensic re-bench of the old tree to adjudicate as machine speed).
    // One CPU-bound scan + one small shuffle, constants frozen forever;
    // min-of-3 after one untimed JIT warm. Read round deltas as
    // total/calibration ratios, not raw seconds.
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
    val calibrationSec = (1 to 3).map(_ => calibrationOnce()).min

    // untimed warmup: JIT + codegen caches, tiny scale (one rep is enough)
    if (warmupDir.nonEmpty && new java.io.File(warmupDir).isDirectory)
      SparkEntry.queries.filter(kv => selected(kv._1))
        .foreach { case (n, fn) => runOnce(n, fn, warmupDir) }

    val results = SparkEntry.queries.filter(kv => selected(kv._1))
      .map { case (name, fn) => name -> runOne(name, fn, sfDir) }

    // AUTO-REFLOORS (r11 VERDICT item 3): gates whose suite reading moved
    // >25% against the previous committed round map get an isolated
    // end-of-suite min-of-3 floor (forced GC + cache clear between reps)
    // emitted INTO this artifact — the t16/g07/t12 adjudications, made
    // automatic. A floor at-or-under both readings says suite-ordering
    // interference, not a plan change. The baseline comes from
    // SPARK_GRAFT_PREV_BENCH, else the highest-numbered parseable
    // BENCH_r*_full.json / BENCH_r*.json in the cwd. Capped at the
    // largest movers (the refloor pass re-runs gates 3x; an unbounded
    // pass could double a bad run) — cap = max(12, 25% of the selected
    // suite) per the r12 VERDICT (the fixed 12 silently skipped the
    // round's three largest movers), overridable via
    // SPARK_GRAFT_REFLOOR_CAP; skipped movers are listed BY NAME so a
    // capped pass can never hide which gates went unadjudicated.
    val prevFile: Option[java.io.File] =
      sys.env.get("SPARK_GRAFT_PREV_BENCH").map(new java.io.File(_)).filter(_.isFile)
        .orElse {
          val rx = """BENCH_r(\d+)(_full)?\.json""".r
          Option(new java.io.File(".").listFiles()).toSeq.flatten
            .flatMap(f => f.getName match {
              case rx(n, full) => Some((n.toInt, full != null, f))
              case _ => None
            })
            .sortBy { case (n, full, _) => (-n, !full) } // prefer _full at same N
            .headOption.map(_._3)
        }
    // a round artifact is either the bench line itself ("queries" at top
    // level) or a hand-assembled wrapper holding one or more bench lines
    // one level down (BENCH_r11_full.json's best/final runs): take the
    // LARGEST per-gate map found — the fullest run is the baseline
    def parsePrevQueries(f: java.io.File): Map[String, Double] =
      try {
        import org.json4s._
        val j = org.json4s.jackson.JsonMethods.parse(f)
        def qmap(v: JValue): Map[String, Double] = (v \ "queries") match {
          case JObject(fields) => fields.collect {
            case (k, JDouble(x)) => k -> x
            case (k, JInt(x)) => k -> x.toDouble
            case (k, JDecimal(x)) => k -> x.toDouble
          }.toMap
          case _ => Map.empty[String, Double]
        }
        val nested = j match {
          case JObject(fields) => fields.map { case (_, v) => qmap(v) }
          case _ => Nil
        }
        (qmap(j) +: nested).maxBy(_.size)
      } catch { case _: Throwable => Map.empty }
    val prev = prevFile.map(parsePrevQueries).getOrElse(Map.empty)
    val movers = results.toSeq.collect {
      case (name, (cur, None)) if cur > 0 && prev.getOrElse(name, -1.0) > 0 =>
        val p = prev(name)
        (name, math.max(cur / p, p / cur))
    }.filter(_._2 > 1.25).sortBy(-_._2)
    val refloorCap = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_REFLOOR_CAP", "").toInt).toOption
      .getOrElse(math.max(12, math.ceil(results.size * 0.25).toInt))
    // MUST-refloor pins (r15 VERDICT Next #1): gates named here get an
    // isolated floor EVERY run, outside the mover ranking and the cap —
    // the a12/a13 adjudication gap was exactly a suite regression on the
    // round's central rewrite (the CAS commit path) that the automatic
    // mover/cap selection happened not to floor, leaving it unprovable
    // either way. Default pins the two index-mutation gates; override
    // (or empty) via SPARK_GRAFT_REFLOOR_FORCE.
    val forced = sys.env.getOrElse("SPARK_GRAFT_REFLOOR_FORCE",
        "a12_bm25_incremental_query,a13_bm25_delete_query")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      .filter(results.contains)
    val refloors: Map[String, Double] =
      (movers.take(refloorCap).map(_._1) ++ forced).distinct.map { name =>
        name -> runOne(name, SparkEntry.queries(name), sfDir,
          nReps = 3, forceGc = true)._1
      }.toMap
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

    // non-finite guard (r16 ADVICE): a NaN/Infinity anywhere — e.g. a
    // forced-refloor gate erroring into a non-finite floor — would emit
    // invalid JSON on the exact line the driver parses. Emit null.
    def jnum(d: Double): String =
      if (java.lang.Double.isFinite(d)) d.toString else "null"
    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    // escape ALL control chars (not just \n\r\t): an exception message
    // carrying e.g. an ANSI escape byte would otherwise emit invalid JSON
    // exactly when error visibility matters most (the Verify.q convention)
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    val errs = results.collect { case (k, (_, Some(e))) =>
      "\"" + k + "\":\"" + esc(e) + "\"" }
      .mkString("{", ",", "}")
    val total = results.values.map(_._1).filter(d => d >= 0 &&
      java.lang.Double.isFinite(d)).sum
    val rf = refloors.map { case (k, v) => "\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    val rfBase = prevFile.map(f => "\"" + esc(f.getName) + "\"").getOrElse("null")
    val rfSkippedNames = movers.drop(refloorCap).map(m => "\"" + m._1 + "\"")
      .mkString("[", ",", "]")
    val dcTags = results.keys.toSeq.sorted.flatMap(k =>
      designedComparator.get(k).map(t => "\"" + k + "\":\"" + esc(t) + "\""))
      .mkString("{", ",", "}")
    val forcedJson = forced.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","reps":$reps,"isolate":$isolate,"timeout_sec":$timeoutSec,"calibration_sec":${jnum(calibrationSec)},"queries":$qs,"errors":$errs,"designed_comparators":$dcTags,"auto_refloors":$rf,"auto_refloor_base":$rfBase,"auto_refloor_cap":$refloorCap,"forced_refloors":$forcedJson,"auto_refloors_skipped":${math.max(0, movers.size - refloorCap)},"auto_refloors_skipped_names":$rfSkippedNames,"sf":"$sfDir"}"""
    println(line)
    // self-contained artifact (r10 VERDICT item 5): the driver captures
    // stdout, which truncated BENCH_r10.json mid-JSON — so the full
    // per-gate map is ALSO written to a file the round can commit as-is.
    // The default path is git-IGNORED scratch (round-11 ADVICE: the
    // default must never clobber a committed artifact); a run whose map
    // should be kept sets SPARK_GRAFT_BENCH_OUT to the round-numbered
    // name explicitly. Best-effort: a read-only cwd must not fail the
    // measurement run.
    // r18 (r17 VERDICT "What's wrong" #1 / Next #2): the default is now
    // PER-RUN — suffixed by the core count — so the driver's second bench
    // at a different SPARK_GRAFT_CPUS no longer clobbers the first run's
    // per-gate map (that clobber emptied PERF_r17's per_query/scaling
    // blocks). The `full` field in both JSON lines points at the run's
    // own file; a legacy copy still lands at BENCH_full.json so any
    // consumer of the old fixed name keeps seeing the latest run.
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
    // COMPACT closing line, printed LAST (r15 VERDICT Missing #3): the
    // driver parses the final stdout line (tail window 2000 chars) and
    // has recorded "parsed": null every round — the full line above is
    // ~4 KB of per-gate detail that cannot fit the window, and sbt's
    // "[success]" epilogue (now suppressed, build.sbt showSuccess) used
    // to follow it. This summary carries the headline numbers and points
    // at the full artifact; printed after spark.stop() so no shutdown
    // logging can land beneath it.
    val errN = results.count(_._2._2.isDefined)
    val forcedFloors = forced.flatMap(n => refloors.get(n).map(v =>
      "\"" + n + "\":" + jnum(v))).mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","reps":$reps,"isolate":$isolate,"timeout_sec":$timeoutSec,"calibration_sec":${jnum(calibrationSec)},"gates":${results.size},"errors_n":$errN,"forced_refloor_floors":$forcedFloors,"full":"${esc(outPath)}","sf":"${esc(sfDir)}"}""")
  }
}
