package perfbench

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** One timed call: `parent` is the id of the span that was open when it
  * started (-1 at top level), `run` the pass it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {
  /** Self time of each span: its duration minus the part of its interval
    * covered by its children (overlapping children count once).
    */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** Spark work attributed to one span. */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var exchanges = 0L
}

/** One Spark job: the span open when it was submitted, its SQL execution
  * if it ran inside one, its interval (epoch ms), the call site that
  * submitted it (Spark's long form, one frame a line) and its work.
  */
final class JobRecord(val span: Option[Int], val exec: Option[Long], val startMs: Long,
    val callSite: String) {
  var endMs: Long = startMs
  val work = new SparkWork
}

/** One SQL execution: its interval (epoch ms), call site, the Exchange
  * nodes of its executed plan and the file paths it wrote and read.
  */
final class ExecRecord(val id: Long, val startMs: Long, val callSite: String) {
  var endMs: Long = startMs
  var exchanges = 0L
  var wrote: Option[String] = None
  var read: Seq[String] = Nil
}

/** A unit of Spark work inside a span, as [[Tracer.splitByWork]] labels
  * it: a SQL execution with its jobs, or a job that ran outside one.
  */
final case class SparkEvent(startMs: Long, endMs: Long, callSite: String,
    wrote: Option[String], read: Seq[String], jobs: Seq[JobRecord], exec: Option[Long])

/** Records the Spark jobs, tasks and SQL executions that run while
  * tracing is on. A job's span id rides Spark's (thread-inherited) local
  * properties, so jobs submitted from helper threads a call spawns are
  * attributed too. An execution's plan (Exchange nodes, paths written and
  * read) is read from the QueryExecution its end event carries; a
  * QueryExecutionListener's callbacks carry no execution id to pair them
  * with the execution's interval and jobs.
  */
final class SparkAttribution extends SparkListener {
  val jobs: mutable.ArrayBuffer[JobRecord] = mutable.ArrayBuffer.empty
  val execs: mutable.LinkedHashMap[Long, ExecRecord] = mutable.LinkedHashMap.empty
  private val jobById = mutable.Map.empty[Int, JobRecord]
  private val stageJob = mutable.Map.empty[Int, JobRecord]
  private val markersSeen = mutable.Set.empty[String]

  /** Time spent inside this listener's callbacks: its own cost. */
  var busyNs = 0L

  /** Executions whose plan was read. */
  var matchedExecutions = 0

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    busyNs += System.nanoTime() - t0
  }

  private def prop(props: java.util.Properties, key: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    prop(e.properties, Tracer.MarkerKey).foreach(markersSeen += _)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val j = new JobRecord(prop(e.properties, Tracer.SpanKey).map(_.toInt),
      prop(e.properties, "spark.sql.execution.id").map(_.toLong), e.time, site)
    jobs += j
    jobById(e.jobId) = j
    e.stageInfos.foreach(st => stageJob.getOrElseUpdate(st.stageId, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    stageJob.get(e.stageId).foreach { j =>
      val w = j.work
      w.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.runMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case start: SparkListenerSQLExecutionStart => timed {
      execs(start.executionId) = new ExecRecord(start.executionId, start.time, start.details)
    }
    case end: SparkListenerSQLExecutionEnd => timed {
      execs.get(end.executionId).foreach { x =>
        x.endMs = end.time
        Option(SparkAttribution.queryExecution(end)).foreach { qe =>
          x.exchanges = Try(SparkAttribution.exchanges(qe.executedPlan)).getOrElse(0L)
          x.wrote = Try(qe.logical.collectFirst {
            case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
          }).toOption.flatten
          x.read = Try(qe.analyzed.collect { case l: LogicalRelation => l.relation }
            .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }
            .flatten).getOrElse(Nil)
          matchedExecutions += 1
        }
      }
    }
    case _ =>
  }

  def sawMarker(tag: String): Boolean = synchronized(markersSeen.contains(tag))
}

object SparkAttribution {
  // Spark sets the event's QueryExecution but keeps its accessor to its own packages
  private val qeAccessor = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")

  def queryExecution(end: SparkListenerSQLExecutionEnd): QueryExecution =
    qeAccessor.invoke(end).asInstanceOf[QueryExecution]

  /** Exchange nodes of an executed plan (adaptive plans: the final one). */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}

/** Records a span around each call the benchmark makes into the program.
  * Every call is timed. While tracing is on, the spans are also tagged
  * onto the Spark work they cause, which [[SparkAttribution]] collects.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val attribution = new SparkAttribution
  private var open: List[Int] = Nil
  private var nextId = 0
  private var tracing = false
  var run: String = "setup"
  // listener events carry epoch milliseconds, spans nanoTime
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val splits = mutable.ArrayBuffer.empty[(Span, SparkEvent => Option[String])]
  private val movedJobs = mutable.Map.empty[JobRecord, Int]
  private val movedExecs = mutable.Map.empty[Long, Int]

  /** Attach or detach the listener; detaching first drains the bus and
    * makes the splits [[splitByWork]] asked for.
    */
  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) sc.addSparkListener(attribution)
    else {
      flush()
      sc.removeSparkListener(attribution)
      splits.foreach { case (parent, label) => split(parent, label) }
      splits.clear()
    }
    tracing = on
  }

  /** Time `f` as span `name`; returns its value and its span. */
  def timed[T](name: String)(f: => T): (T, Span) = {
    val id = newId()
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    if (tracing) sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try {
      val r = f
      val s = Span(id, name, parent, run, t0, System.nanoTime())
      spans += s
      (r, s)
    } finally {
      open = open.tail
      if (tracing)
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.toString).orNull)
    }
  }

  def span[T](name: String)(f: => T): T = timed(name)(f)._1

  private def newId(): Int = { nextId += 1; nextId - 1 }

  /** While tracing, split `parent`'s time and Spark work among child
    * spans named by `label`, for a call whose stages the benchmark cannot
    * wrap from outside. Done when tracing stops (see [[split]]).
    */
  def splitByWork(parent: Span, label: SparkEvent => Option[String]): Unit =
    if (tracing) splits += ((parent, label))

  /** The Spark work that started inside `parent` comes as events: each SQL
    * execution and each job outside one, in start order. An event that
    * `label` leaves unnamed takes the name of the next named event (the
    * driver was preparing it), or of the last one. Each event's child span
    * covers the gap before it and the part of its interval no earlier
    * event covered, and its jobs and exchanges move to that span; what
    * follows the last event stays `parent`'s own time.
    */
  private def split(parent: Span, label: SparkEvent => Option[String]): Unit = {
    def ns(ms: Long): Long = ms * 1000000L - epochNs
    // a millisecond of slack for the events' coarser clock
    def inside(ms: Long): Boolean = ns(ms) >= parent.startNs - 1000000L && ns(ms) <= parent.endNs
    val a = attribution
    val byExec = a.jobs.filter(_.exec.isDefined).groupBy(_.exec.get)
    val events = (a.execs.values.filter(x => inside(x.startMs)).map(x =>
      SparkEvent(x.startMs, x.endMs, x.callSite, x.wrote, x.read,
        byExec.getOrElse(x.id, Nil).toSeq, Some(x.id))) ++
      a.jobs.filter(j => j.exec.isEmpty && inside(j.startMs)).map(j =>
        SparkEvent(j.startMs, j.endMs, j.callSite, None, Nil, Seq(j), None)))
      .toSeq.sortBy(_.startMs)
    val named = events.map(label)
    val names = Tracer.fillNames(named)
    System.err.println(s"perfbench: ${parent.name}: ${events.size} Spark events, " +
      s"${named.count(_.isDefined)} named by the tables they touch or their call site")
    val segments = Tracer.segments(parent.startNs, parent.endNs,
      events.zip(names).collect { case (e, Some(n)) => (ns(e.endMs), n) })
    val firstSpan = mutable.Map.empty[String, Int]
    segments.foreach { case (name, start, end) =>
      val s = Span(newId(), name, parent.id, parent.run, start, end)
      spans += s
      firstSpan.getOrElseUpdate(name, s.id)
    }
    events.zip(names).foreach { case (e, name) =>
      name.flatMap(firstSpan.get).foreach { id =>
        e.jobs.foreach(movedJobs(_) = id)
        e.exec.foreach(movedExecs(_) = id)
      }
    }
  }

  /** Spark work per span: a job's goes to the span it was submitted
    * under, or where [[split]] moved it; an execution's exchanges go with
    * its first job.
    */
  def work: Map[Int, SparkWork] = {
    val out = mutable.Map.empty[Int, SparkWork]
    val a = attribution
    a.jobs.foreach { j =>
      movedJobs.get(j).orElse(j.span).foreach { id =>
        val w = out.getOrElseUpdate(id, new SparkWork)
        w.jobs += 1
        w.tasks += j.work.tasks
        w.runMs += j.work.runMs
        w.gcMs += j.work.gcMs
        w.shuffleWriteBytes += j.work.shuffleWriteBytes
        w.spillBytes += j.work.spillBytes
      }
    }
    val firstJob = a.jobs.filter(_.exec.isDefined).groupBy(_.exec.get).map { case (x, js) => x -> js.head }
    a.execs.values.foreach { x =>
      movedExecs.get(x.id).orElse(firstJob.get(x.id).flatMap(_.span))
        .foreach(id => out.getOrElseUpdate(id, new SparkWork).exchanges += x.exchanges)
    }
    out.toMap
  }

  /** Wait until the listener has seen every event posted so far: run a
    * marker job and wait for its start to arrive (the listener's queue
    * delivers in order).
    */
  private def flush(): Unit = {
    val tag = Tracer.MarkerKey + java.util.UUID.randomUUID().toString
    sc.setLocalProperty(Tracer.SpanKey, null)
    sc.setLocalProperty(Tracer.MarkerKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.MarkerKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!attribution.sawMarker(tag) && System.nanoTime() < deadline) Thread.sleep(5)
    require(attribution.sawMarker(tag), "listener bus did not drain within 60 s")
  }

  /** Spans as JSON lines (id, name, parent, run, start, end). */
  def dump(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {

  /** Each event's name: its own, else that of the next named event, else
    * that of the last one.
    */
  def fillNames(named: Seq[Option[String]]): Seq[Option[String]] = {
    val next = named.scanRight(Option.empty[String])(_ orElse _)
    val last = named.scanLeft(Option.empty[String])((acc, n) => n orElse acc).tail
    named.indices.map(i => next(i).orElse(last(i)))
  }

  /** Child intervals of `[lo, hi]` for events given in start order as
    * (end, name): each covers from where the previous one ended to its
    * event's end, clipped to `hi`; an event that ends inside an earlier
    * one adds nothing, and neighbours of one name merge.
    */
  def segments(lo: Long, hi: Long, events: Seq[(Long, String)]): Seq[(String, Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var cursor = lo
    events.foreach { case (end0, name) =>
      val end = math.min(end0, hi)
      if (end > cursor) {
        if (out.nonEmpty && out.last._1 == name) out(out.size - 1) = (name, out.last._2, end)
        else out += ((name, cursor, end))
        cursor = end
      }
    }
    out.toSeq
  }

  val SpanKey = "perfbench.span"
  val MarkerKey = "perfbench.marker"
}
