package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced interval: a call into one engine module, made from the
  * benchmark's own code. Spans nest through `parent`; jobs, stages and
  * tasks the engine runs while a span is open on the calling thread are
  * credited to it through the job-local property [[Trace.SpanProp]].
  */
final class Span(val id: Long, val name: String, val parent: Long,
                 val runId: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  def seconds: Double = if (endNs < 0) 0.0 else (endNs - startNs) / 1e9
  def add(key: String, v: Double): Unit = counters.synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
}

/** In-memory span store plus the `SparkListener` that credits Spark work
  * to the open span. Untraced it records nothing and attaches only a
  * listener that counts task failures, so untraced runs pay no tracing
  * cost. A traced run can pause tracing ([[enabled]] = false) to time the
  * same code untraced.
  */
final class Trace(traced: Boolean, val runId: String, sc: SparkContext) {
  import Trace._

  @volatile var enabled: Boolean = traced

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Long, Span]
  private val current = new ThreadLocal[Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  @volatile var unattributedJobs = 0L
  @volatile var taskFailures = 0L
  @volatile var taskRetries = 0L

  private val listener = new SparkListener {
    private def spanOf(props: java.util.Properties): Option[Span] =
      Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
        .flatMap(s => byId.synchronized(byId.get(s.toLong)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) spanOf(e.properties) match {
        case Some(s) => s.add("jobs", 1)
        case None => unattributedJobs += 1
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        stageSpan.synchronized(stageSpan(e.stageInfo.stageId) = s)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.synchronized(stageSpan.get(e.stageInfo.stageId))
        .foreach(_.add("stages", 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val failed = e.reason != org.apache.spark.Success
      stageSpan.synchronized(stageSpan.get(e.stageId)).foreach { s =>
        s.add("tasks", 1)
        s.add("task_s", e.taskInfo.duration / 1e3)
        if (failed) s.add("task_failures", 1)
        if (e.taskInfo.attemptNumber > 0) s.add("task_retries", 1)
        Option(e.taskMetrics).foreach { m =>
          s.add("shuffle_bytes", (m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten).toDouble)
          s.add("spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("bytes_read", m.inputMetrics.bytesRead.toDouble)
          s.add("bytes_written", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
  }

  /** Task failures and retries are counted in every run: they feed the
    * failure count every record reports. */
  private val failureListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.reason != org.apache.spark.Success) taskFailures += 1
      if (e.taskInfo.attemptNumber > 0) taskRetries += 1
    }
  }

  sc.addSparkListener(failureListener)
  if (traced) sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`, child of the span open on
    * this thread. Untraced, it only runs `body`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val s = new Span(nextId.getAndIncrement(), name,
        if (parent == null) 0L else parent.id, runId, System.nanoTime())
      byId.synchronized { byId(s.id) = s; spans += s }
      val prevProp = sc.getLocalProperty(SpanProp)
      current.set(s)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Add a count to the latest span named `name` (no-op untraced):
    * counts are taken after the span closes, so the jobs that take them
    * are not credited to it. */
  def countOn(name: String, key: String, v: => Double): Unit =
    if (enabled) all.reverseIterator.find(_.name == name).foreach(_.add(key, v))

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def detach(): Unit = {
    sc.removeSparkListener(listener)
    sc.removeSparkListener(failureListener)
  }

  def all: Seq[Span] = byId.synchronized(spans.toList)

  /** Sum of a counter (or of span seconds, for key "s") over every span
    * with this name. */
  def total(name: String, key: String): Double = all.filter(_.name == name)
    .map(s => if (key == "s") s.seconds
              else s.counters.synchronized(s.counters.getOrElse(key, 0.0)))
    .sum

  /** A counter summed over a span and all its descendants. */
  def subtree(root: Span, key: String): Double = {
    val kids = all.groupBy(_.parent)
    def sum(s: Span): Double =
      s.counters.synchronized(s.counters.getOrElse(key, 0.0)) +
        kids.getOrElse(s.id, Nil).map(sum).sum
    sum(root)
  }

  /** [[subtree]] over every span with this name. */
  def totalTree(name: String, key: String): Double =
    all.filter(_.name == name).map(subtree(_, key)).sum

  /** The spans as one JSON document. */
  def toJson: String = {
    val items = all.map { s =>
      val cs = s.counters.synchronized(s.counters.toSeq.sortBy(_._1))
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""run_id":${Json.str(s.runId)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"counters":$cs}"""
    }
    items.mkString("[", ",\n", "]")
  }
}

object Trace {
  val SpanProp = "perfbench.span"
}
