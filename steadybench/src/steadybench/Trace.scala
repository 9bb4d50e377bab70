package steadybench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One timed call: wall from a `nanoTime` pair, plus the epoch-ms
  * bounds the listener's job times are compared against. */
final case class Span(name: String, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** A Spark job as the traced run saw it. */
final class TracedJob(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0L
  var busyMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
}

/** The benchmark's own listener: jobs with their job group (the op
  * name), and per-job task counts, executor run time, shuffle bytes
  * (read + written) and input bytes. Registered only in the traced
  * half of a `--trace 1` run. */
final class Tracer extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, TracedJob]()
  private val stageJob = mutable.HashMap[Int, TracedJob]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = new TracedJob(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.busyMs += m.executorRunTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Jobs seen since the last call; the caller drains the bus first. */
  def take(): Seq[TracedJob] = synchronized {
    val r = jobs.values.toList
    jobs.clear()
    stageJob.clear()
    r
  }
}

/** Raised after a failed op has been counted: the rest of the cycle
  * is not attempted. */
final class CycleAbort(msg: String) extends RuntimeException(msg)

/** Run state shared by the workloads: op timing, failure accounting,
  * and (in the traced half of a run) job-group tagging and per-op job
  * attribution. */
final class Env(val spark: SparkSession, val seed: Long, val work: String) {
  var tracer: Option[Tracer] = None
  /** Off during warm-up cycles: their ops are counted but not checked
    * (measured cycles repeat the same work, checked). */
  var checking = true
  var attempted = 0L
  var failed = 0L
  /** Wall spent in checks, untimed. */
  var checkNanos = 0L
  val errors = mutable.ListBuffer[String]()
  /** Op spans and extra per-cycle figures of the current cycle. */
  val spans = mutable.ArrayBuffer[Span]()
  val notes = mutable.LinkedHashMap[String, Double]()

  def note(name: String, value: Double): Unit = notes(name) = value

  def fail(what: String, why: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$what: $why"
  }

  /** Time `body` as op `name`, then run `check` on its result outside
    * the timed region. A throw or a failed check counts the op as
    * failed (never timed as a success) and aborts the cycle. */
  def op[A](name: String)(body: => A)(check: A => Option[String]): A = {
    attempted += 1
    val sc = spark.sparkContext
    if (tracer.nonEmpty) sc.setJobGroup(name, name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try body catch {
      case e: Throwable =>
        sc.clearJobGroup()
        fail(name, e.toString.take(300))
        throw new CycleAbort(name)
    }
    val t1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    if (tracer.nonEmpty) {
      BenchBus.drain(sc)
      sc.clearJobGroup()
    }
    val c0 = System.nanoTime()
    val verdict =
      if (!checking) None
      else try check(r) catch { case e: Throwable => Some(s"check threw ${e.toString.take(300)}") }
    checkNanos += System.nanoTime() - c0
    verdict match {
      case Some(err) =>
        fail(name, err)
        throw new CycleAbort(name)
      case None => spans += Span(name, t0, t1, startMs, endMs)
    }
    r
  }

  def startCycle(): Unit = {
    spans.clear()
    notes.clear()
    tracer.foreach { t => BenchBus.drain(spark.sparkContext); t.take() }
  }
}

object Attribution {
  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  /** Jobs belonging to each span: by job group when the group names
    * an op, else by submission time inside the span (the streaming
    * engine runs its jobs under its own group on its own thread). */
  def byOp(spans: Seq[Span], jobs: Seq[TracedJob]): Seq[(Span, Seq[TracedJob])] = {
    val names = spans.map(_.name).toSet
    spans.map { s =>
      s -> jobs.filter { j =>
        if (j.group != null && names.contains(j.group)) j.group == s.name
        else j.startMs >= s.startMs && j.startMs <= s.endMs
      }
    }
  }

  /** Per-cycle substrate and per-op figures from the traced jobs. */
  def cycleMetrics(spans: Seq[Span], jobs: Seq[TracedJob]): Map[String, Double] = {
    val per = byOp(spans, jobs)
    val opFigures = per.flatMap { case (s, js) =>
      val busy = covered(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
      Seq(s"${s.name}.jobs" -> js.size.toDouble,
        s"${s.name}.residue_s" -> math.max(0.0, s.secs - busy / 1000.0))
    }
    val all = per.flatMap(_._2).distinct
    Map(
      "spark.jobs" -> all.size.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.task_busy_s" -> all.map(_.busyMs).sum / 1000.0,
      "spark.shuffle_bytes" -> all.map(_.shuffleBytes).sum.toDouble,
      "spark.input_bytes" -> all.map(_.inputBytes).sum.toDouble,
      "driver_residue_s" -> opFigures.collect { case (k, v) if k.endsWith(".residue_s") => v }.sum
    ) ++ opFigures
  }
}
