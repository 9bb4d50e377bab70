package steadybench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.BenchBus

/** One measured cycle: its wall (the sum of its op spans; checks run
  * between ops and are not timed), per-op walls, workload figures, and
  * traced figures when the tracer was on. */
final case class CycleRec(
    key: String, wall: Double, figures: Map[String, Double], traced: Map[String, Double], out: CycleOut)

/** The benchmark process: `--workload --seed --seconds --trace`, plus
  * `--t0-ms` (launch time, the start of `setup_s`) and `--work` from
  * run.py. Prints `#`-prefixed info lines and, last, the one-line JSON
  * result. */
object Main {
  val Stages = Seq("purge_stage", "extract_forms", "replace_forms", "extract_contacts",
    "merge_contacts", "extract_evaluations", "merge_evaluations", "rebuild_scores",
    "extract_transcripts", "rebuild_transcripts", "extract_comments", "rebuild_comments",
    "backup_mirror")
  val WriteOps = Seq("cloneTable", "commitAppend", "commitMerge", "commitUpsertMoR",
    "commitDeleteMoR", "commitDeleteVectorsWhere", "commitUpdateVectorsWhere", "commitStreamBatch",
    "commitStreamBatch_replay", "applyDeletes", "compactHead", "vacuum").map("SnapshotTable." + _)
  val ReadOps = Seq("read", "readAsOf", "readWhere", "readKeysFiltered", "countRows", "groupCounts",
    "changesBetween", "history").map("SnapshotTable." + _) ++
    Seq("runningTally", "cslbReconcile", "pricingSummary").map("Queries." + _)
  val Phases = Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning", "getBatch",
    "latestOffset", "triggerExecution")

  /** Every per-layer metric, printed by every `--trace 1` run; a layer a
    * workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_busy_s" -> "s",
      "spark.shuffle_bytes" -> "bytes", "spark.input_bytes" -> "bytes", "driver_residue_s" -> "s",
      "trace_overhead_s" -> "s") ++
      Stages.flatMap(s => Seq(s"stage.$s.s" -> "s", s"stage.$s.jobs" -> "count")) ++
      Seq("fetch.requests" -> "count", "fetch.service_s" -> "s", "fetch.pending_share" -> "ratio") ++
      WriteOps.flatMap(o => Seq(s"$o.s" -> "s", s"$o.jobs" -> "count", s"$o.residue_s" -> "s")) ++
      Seq("table.live_files" -> "count") ++
      ReadOps.flatMap(o => Seq(s"$o.s" -> "s", s"$o.jobs" -> "count")) ++
      Seq("SnapshotTable.readWhere.files_kept_ratio" -> "ratio",
        "SnapshotTable.readKeysFiltered.files_kept_ratio" -> "ratio") ++
      Phases.map(p => s"batch.${p}_s" -> "s") ++
      Seq("batches" -> "count", "IncrementalSync.upsertSync.s" -> "s")

  /** Figures that only the traced rounds of a run can give. */
  private def fromTrace(name: String): Boolean =
    name.startsWith("spark.") || name == "driver_residue_s" ||
      name.endsWith(".jobs") || name.endsWith(".residue_s")

  /** No cycle starts after this many seconds from launch, so a run
    * ends well inside its time limit. */
  private val LastStartS = 130.0
  /** Spark cores: this many, or fewer on a smaller machine. */
  private val MaxCores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val t0Ms = a("t0-ms").toLong
    val nproc = Runtime.getRuntime.availableProcessors
    val cores = math.min(MaxCores, nproc)
    val spark = graft.Sessions.local(cores.toString)
    spark.sparkContext.setLogLevel("WARN")
    graft.Sessions.quietBoundedWindowWarning()
    val env = new Env(spark, seed, a("work"))
    val w: Workload = name match {
      case "calabrio_restate" => new CalabrioRestate(env)
      case "snapshot_lifecycle" => new SnapshotLifecycle(env)
    }
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.map(_.toString).toSeq
    val heap = flags.filter(_.startsWith("-Xmx")).lastOption.map(_.stripPrefix("-Xmx"))
      .getOrElse(s"${Runtime.getRuntime.maxMemory >> 20}m")
    val config = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "seconds" -> Json.num(seconds),
      "trace" -> (if (trace) "1" else "0"), "nproc" -> nproc.toString, "cores" -> cores.toString,
      "heap" -> Json.str(heap), "spark" -> Json.str(spark.version),
      "jvm_flags" -> flags.filterNot(_.contains("add-opens")).map(Json.str).mkString("[", ",", "]")))
    println(s"# config $config")
    val code = try run(env, w, t0Ms, seconds, trace) finally spark.stop()
    sys.exit(code)
  }

  private def run(env: Env, w: Workload, t0Ms: Long, seconds: Double, trace: Boolean): Int = {
    val sc = env.spark.sparkContext
    def sinceLaunch = (System.currentTimeMillis() - t0Ms) / 1000.0
    var k = 0
    // per cycle: wall from start to the end of cleanup, and the part of it spent in checks
    val elapsed = mutable.ArrayBuffer[(Double, Double)]()
    def runCycle(): Option[CycleRec] = {
      val e0 = System.nanoTime()
      val c0 = env.checkNanos
      env.startCycle()
      val rec =
        try {
          val out = w.cycle(k)
          val spans = env.spans.toSeq
          val traced = env.tracer.map { tr =>
            BenchBus.drain(sc)
            val jobs = tr.take()
            Attribution.cycleMetrics(spans, jobs) ++ w.traced(spans, jobs)
          }.getOrElse(Map.empty)
          val figures = spans.map(s => s"${s.name}.s" -> s.secs).toMap ++ env.notes
          Some(CycleRec(out.key, spans.map(_.secs).sum, figures, traced, out))
        } catch {
          case _: CycleAbort => None
          case e: Exception => env.fail(s"cycle $k", e.toString.take(300)); None
        } finally {
          try w.cleanup(k) catch { case e: Exception => env.fail(s"cleanup $k", e.toString) }
          sc.getPersistentRDDs.values.foreach(_.unpersist(false))
          System.gc()
          elapsed += (((System.nanoTime() - e0) / 1e9, (env.checkNanos - c0) / 1e9))
          k += 1
        }
      rec
    }

    val sessionS = sinceLaunch
    try w.setup() catch {
      case e: Throwable =>
        System.err.println(s"setup failed: $e")
        e.printStackTrace()
        return 1
    }
    val inputsS = sinceLaunch
    // the warm-up checks nothing, so the expectations are computed beside it
    val expected = Future(w.expectations())(ExecutionContext.global)
    env.checking = false
    val warmupS = (0 until w.warmups).map { _ =>
      val t = sinceLaunch
      runCycle()
      sinceLaunch - t
    }
    try Await.result(expected, Duration.Inf) catch {
      case e: Throwable =>
        System.err.println(s"expectations failed: $e")
        e.printStackTrace()
        return 1
    }
    env.checking = true
    val setupS = sinceLaunch
    println("# setup " + Json.obj(Seq("session_s" -> Json.num(sessionS),
      "inputs_s" -> Json.num(inputsS - sessionS),
      "warmup_s" -> warmupS.map(Json.num).mkString("[", ",", "]"))))

    val first = mutable.Map[String, (Long, Long)]()
    /** One steady-state round of `w.period` cycles, traced or not. */
    def round(traced: Boolean): Seq[CycleRec] = {
      val tr = if (traced) Some(new Tracer) else None
      tr.foreach { t => sc.addSparkListener(t); env.tracer = tr }
      try (0 until w.period).flatMap { _ =>
        runCycle().map { r =>
          val sig = (r.out.files, r.out.rows)
          Checks.steady(first.getOrElseUpdate(r.key, sig), sig).foreach(env.fail(s"steady state ${r.key}", _))
          r
        }
      } finally tr.foreach { t => env.tracer = None; sc.removeSparkListener(t) }
    }
    // Untraced: whole rounds, one at least, until `seconds` have passed.
    // Traced: pairs of rounds, one traced and one not, so both see the
    // same JVM state; the side that goes first alternates from pair to
    // pair, starting from the seed.
    val start = System.nanoTime()
    val plainBuf = mutable.ArrayBuffer[CycleRec]()
    val tracedBuf = mutable.ArrayBuffer[CycleRec]()
    val diffs = mutable.ArrayBuffer[Double]()
    var n = 0
    while ((n == 0 || (System.nanoTime() - start) / 1e9 < seconds) && sinceLaunch < LastStartS) {
      if (!trace) plainBuf ++= round(traced = false)
      else {
        val tracedFirst = (env.seed + n) % 2 == 0
        val a = round(tracedFirst)
        val b = round(!tracedFirst)
        val (t, u) = if (tracedFirst) (a, b) else (b, a)
        plainBuf ++= u
        tracedBuf ++= t
        if (t.nonEmpty && u.nonEmpty) diffs += Stats.median(t.map(_.wall)) - Stats.median(u.map(_.wall))
      }
      n += 1
    }
    val plain = plainBuf.toSeq
    val traced = tracedBuf.toSeq

    val cycleS = Stats.median(plain.map(_.wall))
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val bytes = plain.filter(_.key == w.bytesKey).map(r => r.out.bytes.toDouble / r.out.rows)
        Seq(("setup_s", "s", setupS), ("cycle_s", "s", cycleS),
          ("stored_bytes_per_row", "bytes/row", Stats.median(bytes)))
      } else {
        val untracedFigures = medians(plain.map(_.figures))
        val tracedFigures = medians(traced.map(_.traced))
        // median over pairs of traced minus untraced round cycle_s
        val overhead = Stats.median(diffs.toSeq)
        PerLayer.map { case (n, unit) =>
          val v =
            if (n == "trace_overhead_s") overhead
            else if (fromTrace(n)) tracedFigures.getOrElse(n, 0.0)
            else untracedFigures.getOrElse(n, 0.0)
          (n, unit, v)
        }
      }
    println("# cycles " + Json.obj(Seq(
      "warmup" -> w.warmups.toString,
      "untraced_s" -> plain.map(r => Json.num(r.wall)).mkString("[", ",", "]"),
      "traced_s" -> traced.map(r => Json.num(r.wall)).mkString("[", ",", "]"),
      "pair_diffs_s" -> diffs.map(Json.num).mkString("[", ",", "]"),
      "elapsed_s" -> elapsed.map(e => Json.num(e._1)).mkString("[", ",", "]"),
      "checks_s" -> elapsed.map(e => Json.num(e._2)).mkString("[", ",", "]"),
      "keys" -> (plain ++ traced).map(r => Json.str(r.key)).mkString("[", ",", "]"),
      "setup_s" -> Json.num(setupS))))
    if (!trace) println("# op_walls " + Json.obj(
      medians(plain.map(_.figures)).toSeq.sortBy(_._1).map { case (n, v) => n -> Json.num(v) }))
    val attempted = math.max(1L, env.attempted)
    println(s"# failed_op_share ${env.failed.toDouble / attempted}")
    if (env.errors.nonEmpty) println("# errors " + env.errors.map(Json.str).mkString("[", ",", "]"))
    val correct = env.failed == 0 && plain.nonEmpty && (!trace || traced.nonEmpty)
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> env.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    0
  }

  private def medians(maps: Seq[Map[String, Double]]): Map[String, Double] =
    maps.flatMap(_.keys).distinct.map(n => n -> Stats.median(maps.flatMap(_.get(n)))).toMap
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
