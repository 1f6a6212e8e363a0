package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: one `SparkSession`, one closed-loop client
  * thread, cells driven through `graft.SparkEntry.queries`.
  *
  * `perfbench/run.py` writes the plan (cells, seeded pass orders, phase
  * lengths) and turns the record this writes into metrics. Usage:
  * `graftbench.Main <plan file> <record file>`.
  */
object Main {

  /** The plan: `key=value` lines, one `pass=` line per seeded permutation. */
  final case class Plan(workload: String, data: String, work: String, served: String,
                        cpus: Int, timed: Int, trace: Boolean, warmup: Int,
                        cells: Seq[String], writers: Set[String], passes: Seq[Seq[Int]])

  def readPlan(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(_.contains('=')).map { l => val i = l.indexOf('='); (l.take(i), l.drop(i + 1)) }
    val kv = lines.toMap
    Plan(kv("workload"), kv("data"), kv("work"), kv("served"), kv("cpus").toInt,
      kv("timed").toInt, kv("trace") == "1", kv("warmup").toInt,
      kv("cells").split(',').toSeq, kv("writers").split(',').filter(_.nonEmpty).toSet,
      lines.collect { case ("pass", v) => v.split(',').toSeq.map(_.toInt) })
  }

  /** `graft.Bench`'s committed session config; only the local and
    * warehouse dirs differ, so that a run writes inside its own work dir. */
  def sessionConf(p: Plan): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${p.cpus}]",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.constraintPropagation.enabled" -> "false",
    "spark.local.dir" -> s"${p.work}/spark-local",
    "spark.sql.warehouse.dir" -> s"${p.work}/warehouse",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  final case class Sample(cell: Int, pass: Int, timed: Boolean, traced: Boolean,
                          wallS: Double, error: Option[String], artifacts: Int,
                          scratchBytes: Long, cachedBytes: Long, compiles: Long,
                          compileMs: Long)

  final case class Pass(pass: Int, timed: Boolean, traced: Boolean, wallS: Double, cpuS: Double,
                        artifacts: Int, scratchBytes: Long)

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val code =
      try { Files.writeString(Paths.get(args(1)), run(plan)); 0 }
      catch { case e: SelfCheckFailed => System.err.println(s"[perfbench] ${e.getMessage}"); 3 }
    sys.exit(code)
  }

  final class SelfCheckFailed(msg: String) extends RuntimeException(msg)

  private def cpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (compilations so far, their total ms): the histogram keeps every value
    * until it holds 1028, far more than one run compiles. */
  private def codegen: (Long, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }

  /** (`_SUCCESS` markers, bytes) under a scratch dir of the files last
    * modified at or after `sinceMs`: an artifact that is rewritten in
    * place counts again. */
  private def written(dir: String, sinceMs: Long): (Int, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return (0, 0L)
    val s = Files.walk(root)
    try s.iterator.asScala
      .filter(f => Files.isRegularFile(f) && Files.getLastModifiedTime(f).toMillis >= sinceMs)
      .foldLeft((0, 0L)) { case ((n, b), f: Path) =>
        (n + (if (f.getFileName.toString == "_SUCCESS") 1 else 0), b + Files.size(f))
      }
    finally s.close()
  }

  def run(plan: Plan): String = {
    val builder = SparkSession.builder()
    sessionConf(plan).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries
    val fns = plan.cells.map(queries)
    val readyMs = System.currentTimeMillis()

    val samples = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[Pass]
    val phases = ArrayBuffer.empty[(Int, String, Long, Long)]
    val violations = ArrayBuffer.empty[String]
    val ledger = new Ledger(sc)
    val clock = (System.currentTimeMillis(), System.nanoTime())
    val writer = plan.cells.map(plan.writers)
    // A served dir outlives the run; a writer's dir is empty when its
    // cell starts and is kept until the run ends, since graft memoizes
    // frames over scratch files for the life of the session.
    def scratch(pass: Int, cell: Int) =
      if (writer(cell)) s"${plan.work}/scratch/pass$pass/${plan.cells(cell)}"
      else plan.served

    /** One cell the way `graft.Bench` times it: build the DataFrame, noop
      * write, then `clearCache`. The first warm-up pass writes the result
      * as parquet instead, for the oracle check. A writer cell gets its
      * own empty scratch dir on every pass, so it pays for every artifact
      * it reads, whatever ran before it. What a served cell writes is
      * counted here only on traced passes, since all served cells share
      * one dir; `runPass` counts the rest outside its timer. */
    def runCell(i: Int, pass: Int, timed: Boolean, traced: Boolean, capture: Boolean): Unit = {
      val dir = scratch(pass, i)
      spark.conf.set("spark.graft.scratchDir", dir)
      val (c0, ms0) = codegen
      val sample = samples.size
      var cached = 0L
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val error =
        try {
          if (capture)
            fns(i)(spark, plan.data).write.mode("overwrite")
              .parquet(s"${plan.work}/results/${plan.cells(i)}")
          else if (!traced)
            fns(i)(spark, plan.data).write.format("noop").mode("overwrite").save()
          else ledger.within("cell", sample) {
            val df = ledger.within("Queries.build", sample)(fns(i)(spark, plan.data))
            ledger.within("catalyst.plan", sample)(df.queryExecution.executedPlan)
            ledger.within("execute", sample)(
              df.write.format("noop").mode("overwrite").save())
            df.queryExecution.tracker.phases.foreach { case (name, ph) =>
              phases += ((sample, name, ph.startTimeMs, ph.endTimeMs))
            }
            cached = sc.getRDDStorageInfo.map(_.memSize).sum
          }
          None
        } catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val (c1, ms1) = codegen
      val (a, b) = if (traced && !writer(i)) written(dir, startMs) else (0, 0L)
      error.foreach(e => System.err.println(s"[perfbench] ${plan.cells(i)} failed: $e"))
      samples += Sample(i, pass, timed, traced, wall, error, a, b, cached, c1 - c0, ms1 - ms0)
    }

    def runPass(pass: Int, timed: Boolean, traced: Boolean): Unit = {
      if (traced) sc.addSparkListener(ledger)
      val first = samples.size
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime(); val cpu0 = cpuNanos
      plan.passes(pass).foreach(i => runCell(i, pass, timed, traced, capture = pass == 0))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNanos - cpu0) / 1e9
      if (traced) {
        org.apache.spark.BenchBus.drain(sc)
        sc.removeSparkListener(ledger)
      }
      // Outside the timer: what the pass wrote. A writer cell that writes
      // nothing would time a read; a served artifact written after the
      // first pass was rebuilt, not served.
      val writes = (first until samples.size).filter(k => writer(samples(k).cell)).map { k =>
        val s = samples(k)
        val (n, b) = written(scratch(pass, s.cell), 0L)
        samples(k) = s.copy(artifacts = n, scratchBytes = b)
        if (n == 0 && s.error.isEmpty) violations += s"${plan.cells(s.cell)} wrote no artifact"
        (n, b)
      }
      val (served, servedBytes) = written(plan.served, startMs)
      if (pass > 0 && served > 0) violations += s"$served served artifact(s) rebuilt"
      if (violations.nonEmpty)
        throw new SelfCheckFailed(s"${plan.workload} pass $pass: ${violations.mkString("; ")}")
      passes += Pass(pass, timed, traced, wall, cpu, served + writes.map(_._1).sum,
        servedBytes + writes.map(_._2).sum)
    }

    (0 until plan.warmup).foreach(p => runPass(p, timed = false, traced = false))
    val firstTimedMs = System.currentTimeMillis()
    // A traced run alternates untraced and traced passes, so the tracing
    // overhead is measured on the same warm state.
    (plan.warmup until plan.warmup + plan.timed).foreach { p =>
      runPass(p, timed = true, traced = plan.trace && (p - plan.warmup) % 2 == 1)
    }
    val vmHwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    val oracle = graft.SparkEntry.oracleSql
    spark.stop()

    import Json._
    obj(
      "workload" -> plan.workload,
      "config" -> sessionConf(plan).toMap,
      "cells" -> plan.cells,
      "ready_epoch_ms" -> readyMs,
      "first_timed_epoch_ms" -> firstTimedMs,
      "vmhwm_kb" -> vmHwmKb,
      "passes" -> passes.map(p => Map("pass" -> p.pass, "timed" -> p.timed,
        "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "artifacts" -> p.artifacts, "scratch_bytes" -> p.scratchBytes)),
      "samples" -> samples.map(s => Map("cell" -> plan.cells(s.cell), "pass" -> s.pass,
        "timed" -> s.timed, "traced" -> s.traced, "wall_s" -> s.wallS,
        "error" -> s.error.orNull, "artifacts" -> s.artifacts,
        "scratch_bytes" -> s.scratchBytes, "cached_bytes" -> s.cachedBytes,
        "compiles" -> s.compiles, "compile_ms" -> s.compileMs)),
      "clock" -> Map("epoch_ms" -> clock._1, "nano" -> clock._2),
      "spans" -> ledger.spans.map(s => Seq(s.id, s.parent, s.name, s.sample, s.start, s.end)),
      "phases" -> phases.map(p => Seq(p._1, p._2, p._3, p._4)),
      "jobs" -> ledger.jobs.values.toSeq.sortBy(_(1)).map(_.toSeq),
      "counter_names" -> Ledger.Counters,
      "counters" -> ledger.counters.map { case (k, v) => k.toString -> v.toSeq }.toMap,
      "oracle_sql" -> plan.cells.flatMap(c => oracle.get(c).map(c -> _)).toMap)
  }
}

/** Just enough JSON output for the run record. */
object Json {
  def obj(kv: (String, Any)*): String = write(kv.toMap)

  def write(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
