package telbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval of the client thread. `op` is the operation index
  * (negative for set-ups); `parent` is -1 for a root span.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Long, var end: Long = -1L) {
  def durNs: Long = end - start
}

/** Spark work attributed to one span: jobs counted at submission, task
  * metrics summed at task end.
  */
final class Work {
  var jobs, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var rowsRead, bytesRead, bytesWritten = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; delayMs += o.delayMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    rowsRead += o.rowsRead; bytesRead += o.bytesRead
    bytesWritten += o.bytesWritten
  }
}

/** Buckets jobs and task metrics by the span that was open on the client
  * thread when the job was submitted. The span id travels as a Spark local
  * property, which Spark copies into `SparkListenerJobStart.properties`
  * (SQL executions and broadcast/AQE sub-jobs inherit it).
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val work = mutable.HashMap.empty[Int, Work]
  private var started, ended = 0L

  private def bucket(span: Int): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .foreach { s =>
        val span = s.toInt
        bucket(span).jobs += 1
        e.stageIds.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = span)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val w = bucket(span)
      w.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        w.rowsRead += m.inputMetrics.recordsRead
        w.bytesRead += m.inputMetrics.bytesRead
        w.bytesWritten += m.outputMetrics.bytesWritten
        // the Spark UI's scheduler delay: task wall minus every phase the
        // executor accounts for
        if (info != null)
          w.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
      }
    }
  }

  /** Blocks until every submitted job has ended and no event arrived for
    * 300 ms (the listener bus is asynchronous), or 20 s pass.
    */
  def drain(): Unit = {
    val quietMs = 300L
    val deadline = System.currentTimeMillis() + 20000
    var last = snapshot
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
      !(last._1 == last._2 && System.currentTimeMillis() - quietSince >= quietMs)) {
      Thread.sleep(25)
      val now = snapshot
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
  }

  private def snapshot: (Long, Long, Int) = synchronized {
    (started, ended, work.valuesIterator.map(_.tasks.toInt).sum)
  }

  def workOf(span: Int): Work = synchronized {
    val w = new Work
    work.get(span).foreach(w.add)
    w
  }
}

object Tracer {
  val Key = "telbench.span"

  /** Self time of every span: its duration minus the union of its
    * children's intervals, each clipped to the parent's interval.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Span recorder for the client thread. Spans stay in memory and are read
  * out when the run ends. While `on` is false, `span` only runs its body.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var on = false
  var op = 0
  private var stack = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), op,
        name, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(walk)
    walk(root)
  }
}
