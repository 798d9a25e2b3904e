package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call across a layer boundary. `op` is the id of the client
  * operation the span belongs to (0 for set-up work outside any operation);
  * `pass` is the measured pass it ran in (0 = set-up or warm-up). */
final case class Span(id: Int, name: String, parent: Int, op: Int, pass: Int,
    var startNs: Long = 0L, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
  /** Layer = the name's first segment: stages, catalog, sql, ops, or bench
    * for the harness's own spans (passes, checks). */
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans around the harness's calls into each layer, with the Spark jobs
  * and tasks each one launched. Off (the untraced run), every method is a
  * plain call-through and no listener is registered.
  *
  * Job attribution: a span's id rides the thread-local Spark property
  * [[Tracer.Prop]], which Spark copies into every job submitted under it
  * (Spark SQL carries it onto its broadcast threads too); the listener
  * charges each job, and each task of the job's stages, to that span.
  * Jobs submitted with no span open count as unattributed. Spans live in
  * memory and are written out once, after the run. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  import Tracer.Prop

  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextOp = 0
  /** Measured pass the spans opened now belong to (0 = set-up/warm-up). */
  var pass = 0
  /** Driver time spent on span bookkeeping — the direct tracing cost. */
  var bookkeepingNs = 0L

  private val jobs = new ConcurrentHashMap[Int, AtomicLong]()
  private val tasks = new ConcurrentHashMap[Int, AtomicLong]()
  private val spanOfStage = new ConcurrentHashMap[Int, Integer]()

  if (on) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      jobs.computeIfAbsent(sid, _ => new AtomicLong).incrementAndGet()
      e.stageIds.foreach(st => spanOfStage.put(st, sid))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sid: Int = Option(spanOfStage.get(e.stageId)).map(_.intValue).getOrElse(-1)
      tasks.computeIfAbsent(sid, _ => new AtomicLong).incrementAndGet()
    }
  })

  /** Run `body` inside a span named `name`. `newOp` starts a new client
    * operation; nested spans inherit their parent's operation. */
  def span[T](name: String, newOp: Boolean = false)(body: => T): T =
    if (!on) body
    else {
      val b0 = System.nanoTime()
      val parent = open.headOption
      val op = if (newOp) { nextOp += 1; nextOp } else parent.map(_.op).getOrElse(0)
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), op, pass)
      spans += s
      open = s :: open
      sc.setLocalProperty(Prop, s.id.toString)
      s.startNs = System.nanoTime()
      bookkeepingNs += s.startNs - b0
      try body
      finally {
        val e0 = System.nanoTime()
        s.endNs = e0
        open = open.tail
        sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
        bookkeepingNs += System.nanoTime() - e0
      }
    }

  /** Wait for the listener bus to deliver every queued event. */
  def drain(): Unit = if (on) BenchBus.drain(sc)

  private def count(m: ConcurrentHashMap[Int, AtomicLong], id: Int): Long =
    Option(m.get(id)).map(_.get).getOrElse(0L)

  lazy val children: Map[Int, Seq[Span]] = spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  /** Jobs (tasks) launched by a span and every span nested in it. */
  def jobsIn(s: Span): Long = count(jobs, s.id) + children.getOrElse(s.id, Nil).map(jobsIn).sum
  def tasksIn(s: Span): Long = count(tasks, s.id) + children.getOrElse(s.id, Nil).map(tasksIn).sum
  def unattributedJobs: Long = count(jobs, -1)

  /** Span time not covered by its child spans. */
  def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  /** Spans as JSON lines, one per span. */
  def dump(): Seq[String] = spans.toSeq.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      s""""pass":${s.pass},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""jobs":${count(jobs, s.id)},"tasks":${count(tasks, s.id)}}"""
  }
}

object Tracer {
  val Prop = "graftbench.span"
}
