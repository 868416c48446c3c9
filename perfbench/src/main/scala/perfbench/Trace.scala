package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed region. Times are wall-clock nanoseconds since the epoch, so
  * spans recorded by the benchmark and spans derived from Spark events
  * (jobs, triggers) share one time axis.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, runId: String) {
  def durNs: Long = endNs - startNs

  /** Layer = module name, the part before the first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

object Spans {

  /** Total length of the union of intervals, each clipped to [lo, hi). */
  def unionNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cs = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    cs.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * direct children cover (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - unionNs(cs, s.startNs, s.endNs))
    }.toMap
  }

  /** Self time summed per layer. */
  def layerSelfTimes(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  def toJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"run_id":"${s.runId}"}"""
}

/** In-memory span recorder. Spans opened with [[span]] nest per thread;
  * while one is open on a thread with a SparkContext, jobs started on that
  * thread carry the span's id as their job group, so job metrics are
  * attributed to the active span. Nothing is recorded when disabled.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile var sc: Option[SparkContext] = None

  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  def current: Int = stack.get().headOption.getOrElse(0)

  /** Times `f` as a span; `parent` defaults to the thread's open span. */
  def span[T](name: String, parent: Int = current)(f: => T): T =
    if (!enabled) f
    else {
      val id = newId()
      stack.set(id :: stack.get())
      sc.foreach(_.setJobGroup(s"span-$id", name))
      val t0 = nowNs()
      try f
      finally {
        val t1 = nowNs()
        stack.set(stack.get().tail)
        sc.foreach { c =>
          if (parent == 0) c.clearJobGroup() else c.setJobGroup(s"span-$parent", "")
        }
        add(id, parent, name, t0, t1)
      }
    }

  /** Records a span whose times were measured elsewhere. */
  def add(id: Int, parent: Int, name: String, startNs: Long, endNs: Long): Int = synchronized {
    if (enabled) buf += Span(id, parent, name, startNs, endNs, runId)
    id
  }

  def addDerived(parent: Int, name: String, startNs: Long, endNs: Long): Int =
    add(newId(), parent, name, startNs, endNs)

  def spans: Seq[Span] = synchronized(buf.toList)

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try spans.sortBy(_.id).foreach(s => w.println(Spans.toJson(s))) finally w.close()
  }
}

/** Per-job record built by [[JobListener]]. */
final case class JobRec(
    id: Int, group: String, site: String, startNs: Long, var endNs: Long,
    var tasks: Int = 0, var gcMs: Long = 0L, var shuffleWriteBytes: Long = 0L,
    var spillBytes: Long = 0L, taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)

/** Collects job timing and task metrics from outside the engine. A job is
  * attributed to the span whose id is its job group, and to the source
  * file of its call site (the innermost engine frame that called into
  * Spark): from the SQL execution's call site, the stage's, or else from
  * a stack sample taken when the job starts.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val SiteRe = """([A-Za-z0-9_]+)\.scala:\d+""".r

  private def now(): Long = {
    val i = java.time.Instant.now(); i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Engine source files whose jobs are reported separately. */
  val EngineFiles: Set[String] = Set("TripleStore", "EntityStore", "KgPipeline",
    "ConnectedComponents", "EntityLink")

  /** Call site of each SQL execution: jobs that adaptive execution submits
    * from its own threads carry no engine frame, but their execution does.
    */
  private val execSite = mutable.HashMap.empty[Long, String]

  /** First engine file named in call-site texts (innermost frame first). */
  def siteIn(texts: Seq[String]): String =
    texts.iterator.filter(_ != null).flatMap(t => SiteRe.findAllMatchIn(t).map(_.group(1)))
      .find(EngineFiles.contains).getOrElse("other")

  /** Innermost engine frame on any live thread's stack. The thread that
    * submitted a job is blocked inside the engine until the job ends, so
    * sampling when the job starts finds the engine call that caused it.
    */
  private def sampledSite(): String = {
    val it = Thread.getAllStackTraces.values().iterator()
    var site = "other"
    while (site == "other" && it.hasNext) {
      site = it.next().iterator.map(f => Option(f.getFileName).getOrElse("").stripSuffix(".scala"))
        .find(EngineFiles.contains).getOrElse("other")
    }
    site
  }

  private def siteOf(e: SparkListenerJobStart): String = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(x => execSite.get(x.toLong)).filter(_ != "other")
    exec.orElse(Some(siteIn(e.stageInfos.sortBy(_.stageId).flatMap(s => Seq(s.name, s.details))))
      .filter(_ != "other")).getOrElse(sampledSite())
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = siteIn(Seq(s.details)) }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, g, siteOf(e), now(), 0L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endNs = now())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); r <- jobs.get(j)) {
      r.tasks += 1
      r.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        r.gcMs += m.jvmGCTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def all: Seq[JobRec] = synchronized(jobs.values.toList)
}

/** Trigger progress of streaming queries, as reported by Spark. */
final case class TriggerRec(batchId: Long, startMs: Long, triggerMs: Long, addBatchMs: Long, rows: Long) {
  def endMs: Long = startMs + triggerMs
}

final class TriggerListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[TriggerRec]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue() else 0L
    buf += TriggerRec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      ms("triggerExecution"), ms("addBatch"), p.numInputRows)
  }
  def all: Seq[TriggerRec] = synchronized(buf.toList)
}
