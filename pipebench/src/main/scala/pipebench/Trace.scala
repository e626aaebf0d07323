package pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a layer call of the traced run. */
final case class SpanRec(id: Int, name: String, parent: Int, runId: String,
                         startNs: Long, endNs: Long)

/**
 * In-memory span recorder for the traced run. Spans nest by call (the
 * parent is the innermost open span) and are kept in memory until
 * [[write]]. The open span's name is also set as a Spark local property,
 * so [[StageListener]] can attribute each stage's tasks to the layer that
 * submitted it.
 */
final class Tracer(sc: SparkContext, val runId: String) {
  private val recs = ArrayBuffer.empty[SpanRec]
  private var open = List.empty[(Int, String)]
  private var nextId = 0

  def span[A](name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name) :: open
    sc.setLocalProperty(Tracer.Property, name)
    val t0 = System.nanoTime()
    try body
    finally {
      recs += SpanRec(id, name, parent, runId, t0, System.nanoTime())
      open = open.tail
      sc.setLocalProperty(Tracer.Property, open.headOption.map(_._2).orNull)
    }
  }

  /** Self seconds per span name: each span's duration minus the part of
    * it its child spans cover (children run sequentially on one thread). */
  def selfSeconds: Map[String, Double] = {
    val childNs = recs.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    recs.groupBy(_.name).map { case (name, rs) =>
      name -> rs.map(r => (r.endNs - r.startNs - childNs.getOrElse(r.id, 0L)) / 1e9).sum
    }
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try recs.foreach { r =>
      w.println(s"""{"id":${r.id},"name":"${r.name}","parent":${r.parent},""" +
        s""""run_id":"${r.runId}","start_ns":${r.startNs},"end_ns":${r.endNs}}""")
    } finally w.close()
  }
}

object Tracer {
  val Property = "pipebench.span"
}

/** Task-level numbers of one finished task, tagged with its span. */
final case class TaskRec(span: String, stageId: Int, runMs: Long, gcMs: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                         spillBytes: Long, inputBytes: Long, outputBytes: Long)

/** Spark listener for the traced run: job, stage and task counts, and per
  * task the run time, GC time, shuffle, spill and I/O bytes. */
final class StageListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val recs = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  val jobs = new AtomicLong
  val stages = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
    stageSpan.put(e.stageInfo.stageId, span.getOrElse("untraced"))
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      recs.add(TaskRec(stageSpan.getOrDefault(e.stageId, "untraced"), e.stageId,
        m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
      ()
    }
  }

  def tasks: Seq[TaskRec] = recs.asScala.toSeq

  def of(span: String): Seq[TaskRec] = tasks.filter(_.span == span)

  /** Largest max/median task run time over the span's stages with at
    * least two tasks (1.0 when no such stage ran). */
  def taskSkew(span: String): Double = {
    val perStage = of(span).groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
      val t = ts.map(_.runMs.toDouble).sorted
      val med = Stats.median(t)
      if (med > 0) t.last / med else 1.0
    }
    if (perStage.isEmpty) 1.0 else perStage.max
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Seeded Fisher-Yates shuffle of a copy of `xs`. */
  def shuffled[A: scala.reflect.ClassTag](xs: Seq[A], rng: graft.gen.DetRng): Array[A] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
