package erbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One traced call: `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, runId: String, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: every job submitted while the span
  * is innermost carries the span id as its job group. */
final class SpanWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMsByStage = new java.util.HashMap[Int, ArrayBuffer[Long]]()
}

/** Collects task metrics per span. Events arrive on Spark's listener bus
  * thread; readers call [[Tracer.drain]] first. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  val work = new ConcurrentHashMap[Integer, SpanWork]()

  private def of(span: Int): SpanWork = work.computeIfAbsent(span, _ => new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.JobGroup)))
      .flatMap(_.toIntOption).foreach { span =>
        val w = of(span)
        w.synchronized(w.jobs += 1)
        e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
      }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val w = of(span)
      w.synchronized(w.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { span =>
      val w = of(span)
      w.synchronized {
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
        w.taskMsByStage.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }
}

/** In-memory span recorder. Spans nest by call order on the calling thread;
  * the recorder also sets the Spark job group so [[SpanListener]] can
  * attribute task metrics to the innermost span. Enabled only in traced
  * runs; spans are written out once, at the end. */
final class Tracer(sc: SparkContext, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  val listener = new SpanListener
  private var stack = List.empty[Int]
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, stack.headOption.getOrElse(-1), runId, System.nanoTime())
    spans += s
    stack = s.id :: stack
    sc.setJobGroup(s.id.toString, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.toString, spans(p).name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def seconds(name: String): Double = named(name).map(_.seconds).sum
  /** Span duration minus the time its (sequential) children cover. */
  def selfSeconds(s: Span): Double = s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Spark work of the spans called `name` and all their descendants. */
  def work(name: String): Seq[SpanWork] = {
    def tree(id: Int): Seq[Int] = id +: spans.filter(_.parent == id).toSeq.flatMap(c => tree(c.id))
    named(name).flatMap(s => tree(s.id)).flatMap(id => Option(listener.work.get(id)))
  }

  def allWork: Seq[SpanWork] = listener.work.values.asScala.toSeq

  /** Waits until the listener has seen every event posted so far: the bus
    * delivers in order, so once a marker job's end is seen, all earlier
    * task events have been processed. */
  def drain(): Unit = {
    val marker = s"drain-${System.nanoTime()}"
    val done = new CountDownLatch(1)
    val probe = new SparkListener {
      private var job = -1 // both callbacks run on the bus thread
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tracer.JobGroup) == marker)) job = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (e.jobId == job) done.countDown()
    }
    sc.addSparkListener(probe)
    sc.setJobGroup(marker, marker)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    done.await(30, TimeUnit.SECONDS)
    sc.removeSparkListener(probe)
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.runId}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}"""
    }
    Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroup = "spark.jobGroup.id"
}

object SpanWork {
  /** Longest over median task time, in the stage with the most task time. */
  def skew(ws: Seq[SpanWork]): Double = {
    val stages = ws.flatMap(_.taskMsByStage.asScala.values)
    if (stages.isEmpty) return 0.0
    val ts = stages.maxBy(_.sum).map(_.toDouble).toSeq
    val med = Checks.median(ts)
    if (med <= 0) 0.0 else ts.max / med
  }
}
