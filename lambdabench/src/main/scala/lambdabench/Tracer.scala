package lambdabench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Work counted for one span, or for the whole measured window. */
final class Work {
  var jobs, stages, tasks = 0L
  var taskRunMs, inputBytes, inputRecords, shuffleBytes, spillBytes = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes
  }
}

/** One timed call. `op` is the client operation the call belongs to
  * (-1 for none); `parent` the enclosing span (-1 for none).
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Long,
    val start: Long) {
  var end = -1L
  val work = new Work
  var hits = 0L              // rows a read returned
  var filesWritten = 0L
  var writtenBytes = 0L
  var compacted = false
}

/** Spans around the engine's public layer calls, plus a SparkListener that
  * charges every job, stage and task to the span whose job group was set
  * on the calling thread when the job started.
  *
  * Disabled (untraced runs), every method only runs its body: no job
  * group, no listener, no directory listing. Enabled, spans and counts
  * accumulate only between [[start]] and [[stop]], in memory.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val JobGroup = "spark.jobGroup.id"
  private val lock = new Object
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var recording = false
  private var op = -1L
  private val stageSpan = mutable.Map[Int, Int]()
  private var unattributed = new Work
  private var totalWork = new Work
  private var windowStart = 0L

  private val listener = new SparkListener {
    private def of(spanId: Int): Work =
      if (spanId >= 0 && spanId < spans.length) spans(spanId).work else unattributed

    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      if (recording) {
        val group = Option(e.properties).flatMap(p =>
          Option(p.getProperty(JobGroup)))
        val id = group.filter(_.startsWith("lb-")).map(_.drop(3).toInt).getOrElse(-1)
        e.stageIds.foreach(stageSpan(_) = id)
        of(id).jobs += 1
        totalWork.jobs += 1
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { id =>
          of(id).stages += 1
          totalWork.stages += 1
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val m = e.taskMetrics
        for (w <- Seq(of(id), totalWork)) {
          w.tasks += 1
          if (m != null) {
            w.taskRunMs += m.executorRunTime
            w.inputBytes += m.inputMetrics.bytesRead
            w.inputRecords += m.inputMetrics.recordsRead
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.diskBytesSpilled
          }
        }
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Begin the measured window: drop everything recorded so far. */
  def start(): Unit = if (enabled) {
    drain()
    lock.synchronized {
      spans.clear(); stageSpan.clear(); stack = Nil
      totalWork = new Work
      unattributed = new Work
      recording = true
      windowStart = System.nanoTime()
    }
  }

  /** End the measured window and wait for the listener to catch up. */
  def stop(): Unit = if (enabled) {
    drain()
    lock.synchronized { recording = false }
  }

  private def drain(): Unit = org.apache.spark.lambdabench.BusDrain(sc)

  /** Run `body` as one client operation: the outer span of its calls. */
  def operation[A](kind: String)(body: => A): A =
    if (!enabled || !recording) body
    else {
      op += 1
      recordSpan("op." + kind)(body)._1
    }

  /** Time `body` as a span named `name` and charge its jobs to it. */
  def span[A](name: String)(body: => A): A =
    if (!enabled || !recording) body else recordSpan(name)(body)._1

  private def recordSpan[A](name: String)(body: => A): (A, Span) = {
    val s = lock.synchronized {
      val s = new Span(spans.length, name, stack.headOption.fold(-1)(_.id), op,
        System.nanoTime())
      spans += s
      s
    }
    val prev = Option(sc.getLocalProperty(JobGroup))
    sc.setJobGroup("lb-" + s.id, name)
    stack = s :: stack
    try (body, s)
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      prev match {
        case Some(g) => sc.setLocalProperty(JobGroup, g)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A write boundary: also counts the files and bytes that appeared
    * under `dir` (listed before and after, outside the span's time).
    */
  def write[A](name: String, dir: String)(body: => A): A =
    if (!enabled || !recording) body
    else {
      val before = files(dir)
      val (r, s) = recordSpan(name)(body)
      val added = files(dir) -- before.keySet
      s.filesWritten = added.size
      s.writtenBytes = added.values.sum
      r
    }

  /** A read boundary: `body` returns the collected answer rows. */
  def read[A](name: String)(body: => Array[A]): Array[A] =
    if (!enabled || !recording) body
    else {
      val (r, s) = recordSpan(name)(body)
      s.hits = r.length
      r
    }

  /** A maintenance boundary: `body` returns whether it compacted. */
  def maintain(name: String)(body: => Boolean): Boolean =
    if (!enabled || !recording) body
    else {
      val (r, s) = recordSpan(name)(body)
      s.compacted = r
      r
    }

  /** A lazy boundary output. Traced, it is materialized inside the span
    * so the span holds its own jobs; untraced it stays lazy and its work
    * runs in whichever later call consumes it.
    */
  def output(name: String)(df: => DataFrame): DataFrame =
    if (!enabled || !recording) df
    else span(name)(df.localCheckpoint())

  /** Data files under a local `dir`, with their sizes (java.nio: the
    * Hadoop local filesystem forks a process per file to list it).
    */
  private def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") && !p.getFileName.toString.startsWith("."))
        .map(p => p.toString -> Files.size(p)).toMap
      finally walk.close()
    }
  }

  /** Recorded spans, in start order. */
  def recorded: Seq[Span] = lock.synchronized(spans.toList)

  /** Everything the measured window ran. */
  def total: Work = totalWork

  /** Jobs and tasks that ran under no span (should stay zero). */
  def unattributedWork: Work = unattributed

  /** Nanosecond time the measured window began. */
  def origin: Long = windowStart
}

object Tracer {

  /** Per-boundary rollup of the recorded spans. */
  final case class Boundary(name: String, calls: Long, selfS: Double,
      work: Work, hits: Long, filesWritten: Long, writtenBytes: Long,
      compactions: Long)

  /** A span's own time: its duration minus the time its direct children
    * cover (children of one span never overlap: calls are sequential).
    */
  def selfNanos(s: Span, children: Seq[Span]): Long =
    (s.end - s.start) - children.map(c => c.end - c.start).sum

  def rollup(spans: Seq[Span]): Seq[Boundary] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val w = new Work
      ss.foreach(s => w.add(s.work))
      Boundary(name, ss.size,
        ss.map(s => selfNanos(s, kids.getOrElse(s.id, Nil))).sum / 1e9,
        w, ss.map(_.hits).sum, ss.map(_.filesWritten).sum,
        ss.map(_.writtenBytes).sum, ss.count(_.compacted).toLong)
    }
  }
}
