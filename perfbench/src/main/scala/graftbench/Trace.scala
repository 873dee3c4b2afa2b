package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work attributed to one span. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runTimeMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runTimeMs += o.runTimeMs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
  }
}

/** A timed region around one public call. `request` groups the spans of one
  * benchmark operation; `parent` is the span open when this one began. */
final class Span(val id: Long, val name: String, val parent: Option[Span], val request: Long) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  /** Spark work submitted while this span was the innermost one. */
  val own = new Counts
  @volatile private[graftbench] var childNs = 0L

  def seconds: Double = (endNs - startNs) / 1e9
  def selfSeconds: Double = (endNs - startNs - childNs) / 1e9
}

/** Outside-in span recorder: the benchmark wraps each public engine call in
  * [[span]], and Spark work is charged to the innermost span open on the
  * submitting thread. The span id travels with each job as a SparkContext
  * local property, so late listener events still land on the right span.
  * Spans stay in memory until [[dump]].
  */
final class Recorder(sc: SparkContext, val enabled: Boolean) {
  import Recorder.SpanKey

  private val ids = new AtomicLong()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var requests = 0L

  /** Work submitted outside any span (set-up, untimed checks). */
  val unattributed = new Counts

  /** While false, [[span]] records nothing (the untraced half of the
    * overhead comparison). */
  @volatile var active = true

  def newRequest(): Long = { requests += 1; requests }

  def span[T](name: String, request: Long = 0L)(body: => T): T =
    if (!enabled || !active) body
    else {
      val parent = stack.headOption
      val s = new Span(ids.incrementAndGet(), name, parent, parent.fold(request)(_.request))
      byId.put(s.id, s)
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, parent.fold(null: String)(_.id.toString))
        parent.foreach(_.childNs += s.endNs - s.startNs)
        closed += s
      }
    }

  private[graftbench] def spanOf(id: Option[Long]): Option[Span] = id.flatMap(i => Option(byId.get(i)))

  /** The innermost span open at wall-clock time `ms`: for jobs submitted
    * from threads the benchmark does not own (the HTTP server's), which
    * carry no span id. */
  private[graftbench] def spanAt(ms: Long): Option[Span] = {
    val open = byId.values().asScala.filter(s => s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs))
    if (open.isEmpty) None else Some(open.maxBy(_.startNs))
  }

  private[graftbench] def charge(span: Option[Span])(f: Counts => Unit): Unit = {
    val c = span.fold(unattributed)(_.own)
    c.synchronized(f(c))
  }

  def spans(name: String): Seq[Span] = closed.filter(_.name == name).toSeq

  /** Counts of `s` and of every span nested in it. */
  def total(s: Span): Counts = {
    val c = new Counts
    closed.foreach { x =>
      var p: Option[Span] = Some(x)
      while (p.exists(_ ne s) && p.nonEmpty) p = p.get.parent
      if (p.nonEmpty) x.own.synchronized(c.add(x.own))
    }
    c
  }

  /** One JSON object per closed span: name, ids, times and own counts. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = closed.map { s =>
      val c = s.own
      s"""{"id":${s.id},"parent":${s.parent.fold("null")(_.id.toString)},"request":${s.request},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${s.selfSeconds},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"run_ms":${c.runTimeMs},""" +
        s""""gc_ms":${c.gcMs},"shuffle_read":${c.shuffleReadBytes},"shuffle_write":${c.shuffleWriteBytes}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Recorder {
  val SpanKey = "graftbench.span"
}

/** Counts jobs, stages, tasks, executor run time, GC time and shuffle bytes
  * per span. Jobs name their span through the submitting thread's local
  * properties; stages and tasks inherit the span of the job that owns them. */
final class Listener(recorder: Recorder) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Option[Span]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanKey))).map(_.toLong)
    if (!id.contains(Listener.Ignored)) {
      val span = if (id.isEmpty) recorder.spanAt(e.time) else recorder.spanOf(id)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      recorder.charge(span)(_.jobs += 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(span => recorder.charge(span)(_.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val m = e.taskMetrics
      recorder.charge(span) { c =>
        c.tasks += 1
        if (m != null) {
          c.runTimeMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
}

object Listener {
  private val Ignored = -1L
  private val installed = mutable.WeakHashMap.empty[SparkContext, Listener]

  /** Install one listener per SparkContext: check, then add. */
  def install(sc: SparkContext, recorder: Recorder): Listener = installed.synchronized {
    installed.getOrElseUpdate(sc, {
      val l = new Listener(recorder)
      sc.addSparkListener(l)
      l
    })
  }

  /** Block until every event posted so far has reached the listeners: the
    * end event of a marker job is delivered after everything queued before
    * it. The marker itself is charged to nobody. */
  def settle(sc: SparkContext): Unit = {
    val done = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = done.countDown()
    }
    val saved = sc.getLocalProperty(Recorder.SpanKey)
    sc.addSparkListener(marker)
    sc.setLocalProperty(Recorder.SpanKey, Ignored.toString)
    try {
      sc.parallelize(Seq(0), 1).count()
      done.await(30, java.util.concurrent.TimeUnit.SECONDS)
    } finally {
      sc.setLocalProperty(Recorder.SpanKey, saved)
      sc.removeSparkListener(marker)
    }
  }
}
