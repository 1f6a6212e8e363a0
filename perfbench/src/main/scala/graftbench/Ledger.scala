package graftbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans and Spark listener counts of the traced passes.
  *
  * A span is opened around each call into a layer (the cell, the
  * `SparkEntry.queries` build, the forced physical plan, the noop write).
  * Its id rides the SparkContext local property [[Ledger.Key]], so every
  * job the calling thread starts, and every stage and task of that job,
  * is charged to the innermost open span. Everything is kept in memory and
  * written out once, when the run ends; self time is derived from the
  * spans afterwards (`perfbench/ledger.py`).
  */
final class Ledger(sc: SparkContext) extends SparkListener {
  import Ledger._

  val spans = ArrayBuffer.empty[Span]
  /** (span, job id, start epoch ms, end epoch ms). */
  val jobs = TrieMap.empty[Int, Array[Long]]
  /** Listener counters per span id, indexed by [[Counters]]. */
  val counters = TrieMap.empty[Long, Array[Double]]
  private val stageSpan = TrieMap.empty[Int, Long]
  private var open = List.empty[Span]

  def begin(name: String, sample: Int): Long = {
    val s = Span(spans.size.toLong, open.headOption.fold(-1L)(_.id), name, sample,
      System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Key, s.id.toString)
    s.id
  }

  def end(): Unit = {
    open.head.end = System.nanoTime()
    open = open.tail
    sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
  }

  def within[T](name: String, sample: Int)(body: => T): T = {
    begin(name, sample)
    try body finally end()
  }

  private def add(span: Long, i: Int, v: Double): Unit = {
    val c = counters.getOrElseUpdate(span, new Array[Double](Counters.size))
    c.synchronized { c(i) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .fold(-1L)(_.toLong)
    jobs(e.jobId) = Array(span, e.jobId.toLong, e.time, -1L)
    e.stageIds.foreach(stageSpan(_) = span)
    add(span, Jobs, 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_(3) = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageSpan.getOrElse(e.stageInfo.stageId, -1L), Stages, 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val span = stageSpan.getOrElse(e.stageId, -1L)
    val info = e.taskInfo
    add(span, Tasks, 1)
    add(span, RunS, m.executorRunTime / 1e3)
    add(span, CpuS, m.executorCpuTime / 1e9)
    add(span, GcS, m.jvmGCTime / 1e3)
    add(span, DelayS, math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
    add(span, ShuffleWriteMb, m.shuffleWriteMetrics.bytesWritten / Mb)
    add(span, ShuffleReadMb, (m.shuffleReadMetrics.remoteBytesRead +
      m.shuffleReadMetrics.localBytesRead) / Mb)
    add(span, FetchWaitS, m.shuffleReadMetrics.fetchWaitTime / 1e3)
    add(span, SpillMb, m.diskBytesSpilled / Mb)
    add(span, InputMb, m.inputMetrics.bytesRead / Mb)
    add(span, InputRows, m.inputMetrics.recordsRead.toDouble)
  }
}

object Ledger {
  final case class Span(id: Long, parent: Long, name: String, sample: Int,
                        start: Long, var end: Long = -1L)

  val Key = "graftbench.span"
  private val Mb = 1024.0 * 1024.0
  val Counters: Seq[String] = Seq(
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.delay_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.mb",
    "scan.input_mb", "scan.input_rows")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val DelayS = 3
  val RunS = 4; val CpuS = 5; val GcS = 6
  val ShuffleWriteMb = 7; val ShuffleReadMb = 8; val FetchWaitS = 9; val SpillMb = 10
  val InputMb = 11; val InputRows = 12
}
