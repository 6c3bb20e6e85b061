package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Span recorder for the traced run. A span wraps one call the benchmark
  * makes into a layer; in the traced run the call's result is forced inside
  * its span (an eager local checkpoint), so the work lands where it is
  * caused rather than in the final sink. Spans stay in memory; Spark jobs
  * are attributed to the innermost open span through a job-group local
  * property read by [[SpanListener]]. With tracing off every method is a
  * pass-through and no listener is registered. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int,
      val step: Int, val start: Long) { var end: Long = 0L }

  private var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Step id stamped on new spans. */
  var step: Int = -1
  lazy val listener: SpanListener = {
    val l = new SpanListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  def enabled: Boolean = on
  def enable(): Unit = { listener; on = true }
  def disable(): Unit = on = false

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        step, System.nanoTime())
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** A layer call returning a frame: traced, it is materialized inside the
    * span; untraced, it stays lazy. */
  def layer(name: String)(df: => DataFrame): DataFrame =
    span(name)(if (on) df.localCheckpoint(true) else df)

  /** Self time of every span: duration minus the union of its children's
    * intervals. */
  def selfNanos(): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, (s.end - s.start) - covered)
    }.toMap
  }

  /** Root span of every span. */
  def rootOf(): Map[Int, Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Int = if (s.parent < 0) s.id else root(byId(s.parent))
    spans.map(s => s.id -> root(s)).toMap
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark counts per span: jobs, stages, tasks, executor busy time, shuffle
  * bytes written and bytes spilled, keyed by the span that was open when
  * the job was submitted. */
final class SpanListener extends SparkListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var busyMs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val stageSpan = mutable.Map.empty[Int, Int]
  val bySpan = mutable.Map.empty[Int, Counts]

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp))).map(_.toInt)
  private def counts(s: Int): Counts = bySpan.getOrElseUpdate(s, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      counts(s).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      spanOf(e.properties).orElse(stageSpan.get(e.stageInfo.stageId))
        .foreach { s =>
          stageSpan(e.stageInfo.stageId) = s
          counts(s).stages += 1
        }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = counts(s)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.busyMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
