package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder for the traced run. A span wraps one public library
  * call made by the benchmark; its id rides the calling thread's Spark
  * local property [[Trace.Prop]], so every job the call launches —
  * including jobs submitted from pool threads the library creates inside
  * the call, which inherit local properties — is attributed to it by
  * [[SpanListener]]. Spans stay in memory and are written once, at exit.
  *
  * When tracing is off, [[Trace.span]] runs its body and records nothing:
  * the untraced run pays no listener and no property traffic. */
final class Trace(sc: SparkContext, val runId: String) {
  import Trace._

  private val origin = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val done = mutable.ArrayBuffer[Span]()
  // every listener attached so far: tallies survive a detach
  private val history = mutable.ArrayBuffer[SpanListener]()
  @volatile private var listener: Option[SpanListener] = None

  /** Attach the listener; spans record from now on. */
  def start(): Unit = if (listener.isEmpty) {
    val l = new SpanListener
    sc.addSparkListener(l)
    history += l
    listener = Some(l)
  }

  /** Wait until the listener has seen every event of the work so far,
    * then detach it; spans stop recording. */
  def stop(): Unit = listener.foreach { l =>
    l.drain()
    sc.removeSparkListener(l)
    listener = None
  }

  def span[T](name: String)(body: => T): T = listener match {
    case None => body
    case Some(_) =>
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val parent = parents.headOption.getOrElse(0L)
      stack.set(id :: parents)
      sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        sc.setLocalProperty(Prop, if (parent == 0L) null else parent.toString)
        done.synchronized { done += Span(id, name, parent, t0, t1) }
      }
  }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Counters attributed to `s` and every span below it. Call after
    * [[stop]] so the listener has drained. */
  def counters(s: Span, all: Seq[Span], counts: Map[Long, Counters]): Counters = {
    val kids = all.groupBy(_.parent)
    def walk(id: Long): Seq[Counters] =
      counts.get(id).toSeq ++ kids.getOrElse(id, Nil).flatMap(k => walk(k.id))
    walk(s.id).foldLeft(Counters())(_ merge _)
  }

  /** Counters per span id, from every listener attached so far. */
  def spanCounters: Map[Long, Counters] = Trace.merged(history.toList)

  /** JSON lines, one per span: name, start/end (ns since this recorder
    * was made, at Spark start), parent, run id. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.start - origin},"end_ns":${s.end - origin}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val Prop = "perfbench.span"

  /** Whether timed operation `i` of a traced run is traced: untraced,
    * traced, traced, untraced, repeating — so neither side always runs
    * first, and an operation's position does not bias the overhead. */
  def tracedTurn(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long) {
    def wallS: Double = (end - start) / 1e9
  }

  /** Work the Spark scheduler attributes to one span. `stageTaskMs`
    * keeps each stage's task run times, for the skew ratio. */
  final case class Counters(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      taskRunMs: Long = 0, taskCpuNs: Long = 0, taskGcMs: Long = 0,
      shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
      stageTaskMs: Map[Int, Vector[Long]] = Map.empty) {
    def merge(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs,
      taskGcMs + o.taskGcMs, shuffleRead + o.shuffleRead,
      shuffleWrite + o.shuffleWrite, spill + o.spill, stageTaskMs ++ o.stageTaskMs)

    /** max / median task run time of the span's heaviest stage (by total
      * task time); 1.0 when no stage ran two or more tasks. */
    def taskSkew: Double = {
      val multi = stageTaskMs.values.filter(_.size >= 2)
      if (multi.isEmpty) 1.0
      else {
        val ts = multi.maxBy(_.sum).sorted
        val med = Stats.median(ts.map(_.toDouble))
        ts.last.toDouble / math.max(med, 1.0)
      }
    }
  }

  def merged(ls: Seq[SpanListener]): Map[Long, Counters] =
    ls.map(_.snapshot).foldLeft(Map.empty[Long, Counters]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) =>
        a.updated(k, a.get(k).map(_ merge v).getOrElse(v))
      }
    }
}

/** Tallies jobs, stages and task metrics per span id, read from the
  * local property the submitting thread carried. */
final class SpanListener extends SparkListener {
  import Trace.Counters

  private val stageSpan = mutable.Map[Int, Long]()
  private val acc = mutable.Map[Long, Counters]()
  private var jobsOpen = 0
  private var stagesOpen = 0
  private var events = 0L

  private def spanOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty(Trace.Prop))).map(_.toLong)

  private def bump(span: Long)(f: Counters => Counters): Unit =
    acc(span) = f(acc.getOrElse(span, Counters()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1; jobsOpen += 1
    spanOf(e.properties).foreach(s => bump(s)(c => c.copy(jobs = c.jobs + 1)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1; jobsOpen -= 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1; stagesOpen += 1
    spanOf(e.properties).foreach { s =>
      stageSpan(e.stageInfo.stageId) = s
      bump(s)(c => c.copy(stages = c.stages + 1))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1; stagesOpen -= 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    for (s <- stageSpan.get(e.stageId) if m != null) bump(s) { c =>
      val run = m.executorRunTime
      c.copy(tasks = c.tasks + 1, taskRunMs = c.taskRunMs + run,
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        taskGcMs = c.taskGcMs + m.jvmGCTime,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        stageTaskMs = c.stageTaskMs.updated(e.stageId,
          c.stageTaskMs.getOrElse(e.stageId, Vector.empty) :+ run))
    }
  }

  def snapshot: Map[Long, Counters] = synchronized(acc.toMap)

  /** Block until every started job and stage has ended and no event
    * arrived for two polls (the bus delivers asynchronously). Bounded. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(25)
      val (n, open) = synchronized((events, jobsOpen + stagesOpen))
      if (n == last && open == 0) quiet += 1 else quiet = 0
      last = n
    }
  }
}
