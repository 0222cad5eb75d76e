package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call: `parent` is the id of the enclosing span (0 at top). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counters summed over the jobs attributed to one span. `runMs` is
  * executor run time, `jobNs` wall time inside jobs. */
final class Counters {
  var jobs, tasks, shuffleBytes, spillBytes, runMs, bytesWritten, recordsWritten,
    jobNs = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; runMs += o.runMs; bytesWritten += o.bytesWritten
    recordsWritten += o.recordsWritten; jobNs += o.jobNs
  }
}

/** Span recorder. With tracing off, `span` only runs its body: no job
  * groups, nothing held, and the listener only sums the bytes tasks write
  * (`bytesWritten`, read after `drain`). With tracing on, every span
  * becomes the job group of the jobs it starts, so the listener can
  * attribute Spark counters to the innermost open span; spans stay in
  * memory until the end of the run. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var selfNs = 0L
  /** Spans are recorded only while active (set-up work is not traced). */
  var active = true
  private val listener = new SpanListener
  sc.addSparkListener(listener)

  /** Bytes written by every task the listener has seen. */
  def bytesWritten: Long = listener.bytesWritten

  def span[T](name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val t0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val t1 = System.nanoTime()
      selfNs += t1 - t0
      try body
      finally {
        val t2 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, name, t1, t2)
        selfNs += System.nanoTime() - t2
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Counters of `span` and every span below it. */
  def countersUnder(span: Span): Counters = {
    val out = new Counters
    val ids = mutable.Set(span.id)
    spans.sortBy(_.id).foreach { s => if (ids(s.parent)) ids += s.id }
    ids.foreach(id => listener.bySpan.get(id).foreach(out.add))
    out
  }

  /** Seconds the tracer itself spent: span bookkeeping on the driver
    * thread plus the listener's event handling. */
  def overheadSeconds: Double = (selfNs + listener.handlerNs) / 1e9

  /** Block until the listener has seen every job started so far: a marker
    * job runs last, and the bus delivers events in order. */
  def drain(): Unit = {
    listener.drained = false
    sc.setJobGroup("drain", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!listener.drained && System.nanoTime() < deadline) Thread.sleep(5)
  }

  private final class SpanListener extends SparkListener {
    val bySpan = mutable.HashMap.empty[Long, Counters]
    private val stageSpan = mutable.HashMap.empty[Int, Long]
    private val jobStart = mutable.HashMap.empty[Int, (Long, Long)]
    private var drainJob = -1
    @volatile var drained = false
    @volatile var handlerNs = 0L
    @volatile var bytesWritten = 0L

    private def timed(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      handlerNs += System.nanoTime() - t0
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      if (group.contains("drain")) drainJob = e.jobId
      group.flatMap(_.toLongOption).foreach { id =>
        bySpan.getOrElseUpdate(id, new Counters).jobs += 1
        e.stageIds.foreach(s => stageSpan(s) = id)
        jobStart(e.jobId) = (id, e.time)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      Option(e.taskMetrics).foreach(m => bytesWritten += m.outputMetrics.bytesWritten)
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = bySpan.getOrElseUpdate(id, new Counters)
        c.tasks += 1
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.runMs += m.executorRunTime
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobStart.remove(e.jobId).foreach { case (id, t0) =>
        bySpan.getOrElseUpdate(id, new Counters).jobNs += (e.time - t0) * 1000000L
      }
      if (e.jobId == drainJob) drained = true
    }
  }
}
