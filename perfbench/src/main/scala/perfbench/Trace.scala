package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlanInfo

/** One timed call: `op` ties it to the benchmark operation it served,
  * `parent` to the enclosing span (0 = none). Times are nanoTime. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      t0: Long, t1: Long)

/** Spark work attributed to one span (summed over its jobs/tasks). */
final class SparkCounters {
  var jobs, stages, tasks = 0L
  var jobMs, runMs, cpuNs, deserMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inBytes, inRecords = 0L
  var listingJobs, listedPaths, listingMs = 0L
  var filesRead = 0L
}

/** Spans held in memory, written when the run ends. A disabled tracer
  * only runs the body, so the untraced run carries no span code. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val SpanKey = "perfbench.span"
  private val seq = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** Figures measured by the program itself: (op, name, value). */
  val values = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Double)]()

  def value(op: Long, name: String, v: Double): Unit =
    if (enabled) values.add((op, name, v))

  private def tag(id: Long) = s"pbspan-$id"

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = seq.incrementAndGet()
      val parent: Long = current.get
      current.set(id)
      // the listener reads these back from each job / SQL execution
      sc.setLocalProperty(SpanKey, id.toString)
      if (parent != 0) sc.removeJobTag(tag(parent))
      sc.addJobTag(tag(id))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
        current.set(parent)
        sc.removeJobTag(tag(id))
        if (parent != 0) {
          sc.setLocalProperty(SpanKey, parent.toString)
          sc.addJobTag(tag(parent))
        } else sc.setLocalProperty(SpanKey, null)
      }
    }
}

/** Attributes Spark jobs, stages, tasks and scan file counts to the
  * span whose id the submitting thread carried. Registered only by
  * the traced run. */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Long, SparkCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobInfo = new ConcurrentHashMap[Int, (Long, Long, Boolean)]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val filesAccum = new ConcurrentHashMap[Long, Boolean]()

  private def counters(span: Long): SparkCounters =
    bySpan.computeIfAbsent(span, _ => new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toLong).getOrElse(0L)
    val desc = props.flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    val listing = desc.startsWith("Listing leaf files")
    jobInfo.put(e.jobId, (span, e.time, listing))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val c = counters(span)
    c.synchronized {
      c.jobs += 1
      if (listing) {
        c.listingJobs += 1
        // "Listing leaf files and directories for N paths:<br/>..."
        "for (\\d+) paths".r.findFirstMatchIn(desc)
          .foreach(m => c.listedPaths += m.group(1).toLong)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (span, t0, listing) =>
      val c = counters(span)
      c.synchronized {
        c.jobMs += e.time - t0
        if (listing) c.listingMs += e.time - t0
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageSpan.getOrDefault(e.stageId, 0L))
    val m = e.taskMetrics
    if (m != null) c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.deserMs += m.executorDeserializeTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inBytes += m.inputMetrics.bytesRead
      c.inRecords += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobTags.collectFirst { case t if t.startsWith("pbspan-") =>
        t.stripPrefix("pbspan-").toLong
      }.foreach { span =>
        execSpan.put(s.executionId, span)
        // file-scan driver metrics arrive as accumulator updates keyed
        // by id; remember which ids are "number of files read"
        def walk(p: SparkPlanInfo): Unit = {
          if (p.nodeName.contains("Scan"))
            p.metrics.filter(_.name == "number of files read")
              .foreach(m => filesAccum.put(m.accumulatorId, true))
          p.children.foreach(walk)
        }
        walk(s.sparkPlanInfo)
      }
    case u: SparkListenerDriverAccumUpdates =>
      Option(execSpan.get(u.executionId)).foreach { span =>
        val n = u.accumUpdates.collect {
          case (id, v) if filesAccum.containsKey(id) => v
        }.sum
        val c = counters(span)
        c.synchronized(c.filesRead += n)
      }
    case _ =>
  }
}

/** Spans and counters → the raw trace record the report is made from. */
object TraceDump {
  def json(tr: Tracer, ls: SpanListener): Json.J = {
    val spans = tr.spans.asScala.toSeq.sortBy(_.id).map(s => Json.arr(
      s.id, s.parent, s.op, s.name, s.t0, s.t1))
    val ctr = ls.bySpan.asScala.toSeq.sortBy(_._1).map { case (id, c) =>
      Json.arr(id, c.jobs, c.stages, c.tasks, c.jobMs, c.runMs,
        c.cpuNs / 1000000L, c.deserMs, c.gcMs, c.shuffleWrite,
        c.shuffleRead, c.spill, c.inBytes, c.inRecords, c.listingJobs,
        c.listedPaths, c.listingMs, c.filesRead)
    }
    val values = tr.values.asScala.toSeq.map { case (op, n, v) =>
      Json.arr(op, n, v) }
    Json.obj("spans" -> Json.arr(spans: _*),
      "values" -> Json.arr(values: _*),
      "counter_fields" -> Json.arr(Seq("span", "jobs", "stages", "tasks",
        "job_ms", "task_run_ms", "task_cpu_ms", "task_deser_ms", "gc_ms",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        "input_bytes", "input_records", "listing_jobs", "listed_paths",
        "listing_ms", "files_read").map(Json.str): _*),
      "counters" -> Json.arr(ctr: _*))
  }
}

/** Minimal JSON writer (the harness output is flat and small). */
object Json {
  import scala.language.implicitConversions
  sealed trait J { def render(sb: StringBuilder): Unit }
  final case class Raw(s: String) extends J {
    def render(sb: StringBuilder): Unit = sb ++= s
  }
  final case class Str(s: String) extends J {
    def render(sb: StringBuilder): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
  }
  final case class Arr(xs: Seq[J]) extends J {
    def render(sb: StringBuilder): Unit = {
      sb += '['
      xs.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb += ','; x.render(sb)
      }
      sb += ']'
    }
  }
  final case class Obj(kv: Seq[(String, J)]) extends J {
    def render(sb: StringBuilder): Unit = {
      sb += '{'
      kv.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb += ','
        Str(k).render(sb); sb += ':'; v.render(sb)
      }
      sb += '}'
    }
  }
  implicit def fromLong(v: Long): J = Raw(v.toString)
  implicit def fromInt(v: Int): J = Raw(v.toString)
  implicit def fromDouble(v: Double): J =
    Raw(if (v.isNaN || v.isInfinite) "null" else v.toString)
  implicit def fromBool(v: Boolean): J = Raw(v.toString)
  implicit def fromString(v: String): J =
    if (v == null) Raw("null") else Str(v)
  def str(s: String): J = fromString(s)
  def arr(xs: J*): J = Arr(xs)
  def obj(kv: (String, J)*): J = Obj(kv)
  def render(j: J): String = { val sb = new StringBuilder; j.render(sb); sb.toString }
}
