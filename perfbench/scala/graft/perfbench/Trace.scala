package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `op` is the operation (fleet run or
  * arrival) the span belongs to; `parent` is -1 for a root.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the calling thread. With `on = false`
  * every `span` call just runs its body, so the untraced run pays no
  * bookkeeping.
  */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = 0

  def nextOp(): Unit = op += 1

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, op, name, System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Total and self seconds per span name. Spans nest on one thread, so
    * the children of a span never overlap and self time is the span's
    * duration minus the sum of its children's.
    */
  def totals: Map[String, (Double, Double)] = {
    val childSum = new Array[Double](spans.length)
    spans.foreach(s => if (s.parent >= 0) childSum(s.parent) += s.seconds)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(_.seconds).sum, ss.map(s => s.seconds - childSum(s.id)).sum)
    }
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

/** Spark's own counters over a window of actions, from a listener the
  * benchmark registers. Read them with [[SparkCounters.window]], which
  * drains the listener bus before and after the body.
  */
final class SparkCounters extends SparkListener {
  final case class Snap(
      jobs: Long, stages: Long, tasks: Long, taskS: Double, gcS: Double,
      shuffleMb: Double, spillMb: Double, skew: Double)

  private var jobs, stages, tasks = 0L
  private var taskMs, gcMs, shuffleB, spillB = 0L
  // per stage attempt: task durations in ms, for the skew ratio
  private val stageTasks = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleB += m.shuffleWriteMetrics.bytesWritten
      spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  private def raw: (Long, Long, Long, Long, Long, Long, Long, Set[(Int, Int)]) = synchronized {
    (jobs, stages, tasks, taskMs, gcMs, shuffleB, spillB, stageTasks.keySet.toSet)
  }

  /** Counter deltas over `body`. Skew is max/median task time of the
    * stage with the most task time in the window (1 when no stage ran).
    */
  def window[A](sc: SparkContext)(body: => A): (A, Snap) = {
    org.apache.spark.ListenerBusDrain(sc)
    val a = raw
    val out = body
    org.apache.spark.ListenerBusDrain(sc)
    val b = raw
    val newStages = synchronized {
      stageTasks.filter { case (k, _) => !a._8.contains(k) }.values.map(_.toVector).toVector
    }
    val skew = if (newStages.isEmpty) 1.0 else {
      val heavy = newStages.maxBy(_.sum)
      val med = Stats.median(heavy.map(_.toDouble))
      if (med > 0) heavy.max / med else 1.0
    }
    val mb = 1024.0 * 1024.0
    (out, Snap(b._1 - a._1, b._2 - a._2, b._3 - a._3, (b._4 - a._4) / 1e3,
      (b._5 - a._5) / 1e3, (b._6 - a._6) / mb, (b._7 - a._7) / mb, skew))
  }
}

/** Progress of every streaming micro-batch that read input rows. */
final class StreamCounters extends StreamingQueryListener {
  final case class Batch(durations: Map[String, Long], stateRows: Long, stateMemB: Long,
      stateCommitMs: Long, stateUpdateMs: Long)
  private val batches = ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val ops = p.stateOperators
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      synchronized {
        batches += Batch(d, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum)
      }
    }
  }

  def all: Seq[Batch] = synchronized(batches.toVector)
}
