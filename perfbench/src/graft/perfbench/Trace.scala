package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around each call the harness makes into a layer of the engine.
  * A span records name, start, end, parent span and request id; spans
  * are kept in memory and written out once, when the run ends. The span
  * id rides on the calling thread's Spark local property, so the
  * listener below can attribute jobs and task metrics to it. When
  * disabled, `span` is a plain call. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  final case class Span(id: Long, name: String, parent: Long, req: Long,
      start: Long, end: Long)

  import Tracer.Prop
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val prevProp = sc.getLocalProperty(Prop)
      stack.set(id :: outer)
      sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, outer.headOption.getOrElse(0L), req, t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(Prop, prevProp)
      }
    }

  /** A span recorded after the fact (streaming micro-batches run on the
    * query's own thread, so they are read back from query progress). */
  def record(name: String, startNs: Long, endNs: Long, req: Long = -1L): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, 0L, req, startNs, endNs))

  def spanRows: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.start).map(s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
      "start" -> s.start, "end" -> s.end))
}

object Tracer {
  /** Local property carrying the innermost span id to the listener. */
  val Prop = "perfbench.span"
}

/** Task-level counters, keyed by the span that submitted the job
  * (local property), or "streaming" for micro-batch jobs. Reads only
  * the public SparkListener API. */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var waitMs = 0L
  }
  private val acc = mutable.HashMap.empty[String, Acc]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def keyOf(p: java.util.Properties): String =
    if (p == null) "none"
    else Option(p.getProperty(Tracer.Prop))
      .orElse(Option(p.getProperty("sql.streaming.queryId")).map(_ => "streaming"))
      .getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    acc.getOrElseUpdate(k, new Acc).jobs += 1
    e.stageIds.foreach(id => stageKey(id) = k)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageKey(id) = keyOf(e.properties)
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc.getOrElseUpdate(stageKey.getOrElse(e.stageId, "none"), new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageSubmit.get(e.stageId).foreach(t0 =>
        a.waitMs += math.max(0L, e.taskInfo.launchTime - t0))
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  def rows: Map[String, Map[String, Any]] = synchronized {
    acc.map { case (k, a) =>
      k -> Map("jobs" -> a.jobs, "tasks" -> a.tasks, "executor_run_s" -> a.runMs / 1e3,
        "gc_s" -> a.gcMs / 1e3, "shuffle_write_mb" -> a.shuffleWrite / 1e6,
        "shuffle_read_mb" -> a.shuffleRead / 1e6, "spill_mb" -> a.spill / 1e6,
        "scheduler_wait_s" -> a.waitMs / 1e3)
    }.toMap
  }

  /** max / median task time in the stage where that ratio is largest
    * (stages of one task read 1.0). */
  def worstSkew: Double = synchronized {
    val rs = stageTaskMs.values.filter(_.nonEmpty).map { ts =>
      val med = Util.median(ts.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ts.max / med
    }
    if (rs.isEmpty) 1.0 else rs.max
  }
}
