package opsbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Whether a public call reads the artifact, writes it, or neither
  * (the signature projection a caller materializes before committing). */
sealed trait Kind
case object Read extends Kind
case object Write extends Kind
case object Other extends Kind

/** One timed public call. `layer` names the module the call belongs to;
  * `cycle` is the index of the cycle it belongs to and `phase` says
  * whether it ran inside that cycle ("cycle"), during set-up ("setup"),
  * or in the traced run's building-block recomputation after the cycle
  * ("compose"). Times are wall-clock milliseconds (listener events carry
  * the same clock) plus a nanosecond duration for the measurement. */
final case class Span(name: String, layer: String, kind: Kind, cycle: Int,
    phase: String, startMs: Long, endMs: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** Times every public call from outside the program and keeps the spans
  * of the current run in memory. */
final class Recorder {
  val spans = ArrayBuffer[Span]()
  var cycle: Int = -1
  var phase: String = "setup"

  def call[T](name: String, layer: String, kind: Kind)(body: => T): T = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans += Span(name, layer, kind, cycle, phase, ms0, System.currentTimeMillis(), t1 - t0)
    }
  }

  def of(c: Int, ph: String): Seq[Span] =
    spans.filter(s => s.cycle == c && s.phase == ph).toSeq
}

final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final case class StageRec(tasks: Int, runMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, accumulators: Seq[(Long, String)])

/** Listener rollup of the jobs Spark ran while it was attached. Added to
  * the SparkContext by the benchmark for traced cycles only, never by
  * the program. It also times its own handlers: that is the tracing
  * overhead, spent on Spark's asynchronous listener bus. */
final class JobListener extends SparkListener {
  private val jobs = ArrayBuffer[JobRec]()
  private val stages = scala.collection.mutable.Map[Int, StageRec]()
  private var busyNanos = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNanos += System.nanoTime() - t0
  }

  def busySeconds: Double = synchronized(busyNanos / 1e9)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs += JobRec(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val m = si.taskMetrics
    val accs = si.accumulables.values.toSeq.flatMap(a => a.name.map(n => (a.id, n)))
    if (m != null)
      stages(si.stageId) = StageRec(si.numTasks, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, accs)
    else stages(si.stageId) = StageRec(si.numTasks, 0L, 0L, 0L, 0L, accs)
  }

  def snapshot(): (Seq[JobRec], Map[Int, StageRec]) = synchronized {
    (jobs.toList, stages.toMap)
  }
}

/** Listener totals over a set of spans: jobs are attributed to the span
  * whose interval holds their start. */
final case class Rollup(jobs: Int, stages: Int, tasks: Long, taskBusyS: Double,
    jobWallS: Double, driverGapS: Double, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, ccRounds: Int)

object Rollup {
  /** Union length of [a, b] intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def of(spans: Seq[Span], jobs: Seq[JobRec], stages: Map[Int, StageRec]): Rollup = {
    def inSpan(j: JobRec, s: Span) = j.startMs >= s.startMs && j.startMs <= s.endMs
    val mine = jobs.filter(j => spans.exists(s => inSpan(j, s)))
    val st = mine.flatMap(_.stageIds).distinct.flatMap(stages.get)
    val iv = mine.map(j => (j.startMs, if (j.endMs >= j.startMs) j.endMs else j.startMs))
    val gapMs = spans.map { s =>
      math.max(0L, (s.endMs - s.startMs) - covered(iv, s.startMs, s.endMs))
    }.sum
    val rounds = st.flatMap(_.accumulators).filter(_._2 == "cc-star-rewrites")
      .map(_._1).distinct.size
    Rollup(mine.size, st.size, st.map(_.tasks.toLong).sum, st.map(_.runMs).sum / 1e3,
      iv.map { case (a, b) => b - a }.sum / 1e3, gapMs / 1e3,
      st.map(_.shuffleWrite).sum, st.map(_.shuffleRead).sum, st.map(_.spill).sum, rounds)
  }
}
