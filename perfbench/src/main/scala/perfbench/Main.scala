package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>
  * }}}
  *
  * Runs the workload's set-up [[SetupReps]] times, then passes until
  * `--seconds` have passed (at least one). Prints one JSON line: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. A traced run makes at least two passes, traced and
  * untraced in turn; per-layer figures come from the first pass, which
  * runs in the same state as an untraced run's first pass, so that its
  * time minus an untraced run's `pass_s` is the tracing overhead.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 5

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("root"))
  }

  def session(root: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.Tables.requiredConf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak JVM heap in use right after a collection: the largest live
    * set the run held (a peak of raw pool usage would mostly measure how
    * full the young generation was allowed to get).
    */
  object LiveHeap {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile var peak = 0L
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }, null, null)
      case _ =>
    }
  }

  /** Calls that read (queries, searches, graph analytics); the others
    * (pipeline run, graph load, index builds and updates) write.
    */
  def isRead(call: String): Boolean =
    call.startsWith("graph.queries.") || call.startsWith("graph.algs.") ||
      call.contains("query") || call.contains("search")

  /** Metric names a traced run reports; spans a workload does not call
    * report 0.
    */
  val spanNames: Seq[String] = Seq("pipeline.run",
    "etl.nvd.parse", "etl.mitre.techniques", "sources.rss.drain",
    "etl.alerts.extract", "er.ner.annotate", "er.resolve", "etl.github.join",
    "graph.export.write", "graph.load") ++
    (1 to 8).map(i => s"graph.queries.q$i") ++
    Seq("graph.algs.articlerank", "graph.algs.louvain") ++
    (for (ix <- Seq("bm25", "ivfpq"); op <- Seq("build", "append", "delete", "compact", "query"))
      yield s"operators.index_store.${ix}_$op") ++
    Seq("operators.epoch_index.ingest", "operators.epoch_index.search",
      "operators.epoch_index.search_pruned")

  val heavySpans: Seq[String] = Seq("etl.nvd.parse", "er.resolve", "graph.export.write",
    "graph.algs.articlerank", "graph.algs.louvain",
    "operators.index_store.bm25_build", "operators.index_store.bm25_query",
    "operators.index_store.ivfpq_build", "operators.index_store.ivfpq_query",
    "operators.epoch_index.search")

  val ratioNames: Seq[String] = Seq("er.resolve.match_ratio",
    "operators.epoch_index.visited_ratio",
    "operators.index_store.ivfpq_query.recall_at_10")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o.root)
    val ctx = new Ctx(spark, o.root, o.seed)
    val w = Workload(o.workload, ctx)
    val tr = new Tracer(spark)
    def log(s: String): Unit = System.err.println(s"perfbench: $s")

    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    log(s"setup ${setupS.map(x => f"$x%.2f").mkString(" ")} s")
    val digests = (0 until SetupReps).map(r => Gen.digest(spark, ctx.dir(s"in$r")))
    ctx.check(digests.distinct.size == 1, "the same seed generated different inputs")

    LiveHeap.install()
    val plain = collection.mutable.ArrayBuffer.empty[Double]
    val tracedTimes = collection.mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var i = 0
    val minPasses = if (o.trace) 2 else 1
    while (i < minPasses || (System.nanoTime() - start) / 1e9 < o.seconds) {
      val traced = o.trace && i % 2 == 0
      tr.run = s"pass$i"
      w.prepare()
      tr.setTracing(traced)
      // a call that throws fails the pass; the run still reports
      val (check, passSpan) = tr.timed("pass") {
        try w.pass(tr, traced)
        catch { case e: Exception => () => ctx.check(ok = false, s"pass $i threw $e") }
      }
      tr.setTracing(false)
      (if (traced) tracedTimes else plain) += passSpan.seconds
      try check()
      catch { case e: Exception => ctx.check(ok = false, s"checking pass $i threw $e") }
      i += 1
    }
    val passIds = tr.spans.filter(_.name == "pass").map(_.id).toSet
    val calls = tr.spans.toSeq.filter(s => passIds.contains(s.parent))
    log(f"${plain.size + tracedTimes.size} passes, ${calls.size} calls, ${ctx.checks} checks, " +
      f"${ctx.failed} failed, ${tr.attribution.matchedExecutions} traced executions")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val (reads, writes) = calls.partition(c => isRead(c.name))
        def perPass(cs: Seq[Span]): Double =
          if (cs.isEmpty) 0.0 // only when a pass failed before its first call
          else Stats.median(cs.groupBy(_.run).values.map(_.map(_.seconds).sum).toSeq)
        Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("pass_s", Stats.median(plain.toSeq), "s"),
          ("write_s", perPass(writes), "s"),
          ("query_s", perPass(reads), "s"),
          ("disk_mb", w.diskBytes / 1e6, "MB"))
      } else layerMetrics(tr, w, spark, tracedTimes.toSeq) :+
        (("heap.peak_live_mb", LiveHeap.peak / 1e6, "MB"))

    tr.dump(ctx.dir("spans.jsonl"))
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
    // attempted: the calls timed; failed: outputs that failed a check
    println(s"""{"correct":${ctx.failed == 0},"attempted":${calls.size},""" +
      s""""failed":${math.min(ctx.failed, calls.size.toLong)},"metrics":{$body}}""")
    spark.stop()
  }

  /** Per-layer metrics from the first (traced) pass: self time of each
    * span, Spark work of the heavy spans, useful-work ratios, the pass
    * time no span covers, the pass time and the listener's own time.
    */
  def layerMetrics(tr: Tracer, w: Workload, spark: SparkSession,
      traced: Seq[Double]): Seq[(String, Double, String)] = {
    val spans = tr.spans.toSeq.filter(_.run == "pass0")
    val self = Span.selfSeconds(spans)
    def perPass(name: String): Double = spans.filter(_.name == name).map(s => self(s.id)).sum
    val work = tr.work
    val cores = spark.sparkContext.defaultParallelism
    val heavy = heavySpans.flatMap { name =>
      val ids = spans.filter(_.name == name)
      val ws = ids.flatMap(s => work.get(s.id))
      val wall = ids.map(_.seconds).sum
      def tot(f: SparkWork => Long): Double = ws.map(f).sum.toDouble
      Seq(
        (s"$name.jobs", tot(_.jobs), "count"),
        (s"$name.tasks", tot(_.tasks), "count"),
        (s"$name.cores_busy_share",
          if (wall == 0) 0.0 else ws.map(_.runMs).sum / 1e3 / (wall * cores), "ratio"),
        (s"$name.gc_s", tot(_.gcMs) / 1e3, "s"),
        (s"$name.shuffle_write_mb", tot(_.shuffleWriteBytes) / 1e6, "MB"),
        (s"$name.spill_mb", tot(_.spillBytes) / 1e6, "MB"),
        (s"$name.exchanges", tot(_.exchanges), "count"))
    }
    val ratios = w.ratios
    spanNames.map(n => (s"$n.self_s", perPass(n), "s")) ++ heavy ++
      ratioNames.map(n => (n, ratios.getOrElse(n, 0.0), "ratio")) ++
      Seq(("pass.remainder_s", perPass("pass"), "s"),
        ("trace.pass_s", traced.head, "s"),
        ("trace.listener_s", tr.attribution.busyNs / 1e9 / traced.size, "s"))
  }
}
