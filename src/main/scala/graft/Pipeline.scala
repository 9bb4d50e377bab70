package graft

import java.util.concurrent.{CompletableFuture, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Orchestration surface (SURVEY §2.10): a sequential runner, a
  * dependency-DAG runner and driver-side progress metrics.
  *
  * The stage list holds THUNKS. The reference's Start.py:49-54 builds
  * its stage list by CALLING the functions (eager evaluation — the
  * real sequencing happened during list construction and full_run
  * iterated a list of Nones); `() => Unit` makes that bug a type
  * error here rather than a silent behavior.
  */
object Pipeline {

  /** A named stage and the names of the stages it must run after. */
  final case class Stage(name: String, run: () => Unit, upstream: Seq[String] = Nil)
  final case class StageResult(name: String, millis: Long, error: Option[String])

  /** Spark local property holding the running stage's name on the
    * stage's thread, so every Spark job a [[runDag]] stage submits
    * can be told apart by a listener (`SparkListenerJobStart
    * .properties`). Not the job group: a caller's group stays in
    * force. */
  val StageProperty = "graft.pipeline.stage"

  private def timed(st: Stage): StageResult = {
    val t0 = System.nanoTime()
    val err = try { st.run(); None }
    catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    StageResult(st.name, (System.nanoTime() - t0) / 1000000L, err)
  }

  /** C2: ordered sequential execution, never aborting the whole run on
    * one failed stage (the reference's full_run skips and continues —
    * qa_api_handler.py:296-317), with per-stage wall time. Upstream
    * names are ignored: every stage runs, in list order.
    */
  def runSequential(stages: Seq[Stage]): Seq[StageResult] = stages.map(timed)

  /** C1 generalized: each stage starts as soon as all its upstream
    * stages have finished, so independent branches overlap (the
    * reference runs whole pipelines thread-per-pipeline, Start.py:69-83;
    * the edge-less list is exactly that). Results come back in list
    * order, each with its own wall time.
    *
    * The list must be a topological order: every upstream name is a
    * stage listed earlier. Failure boundary: a stage whose upstream
    * failed (or was itself skipped) does not run and reports
    * `skipped: upstream <name> failed`; stages on independent
    * branches still run, as in the reference's full_run. Stages that
    * may overlap must touch disjoint state.
    *
    * The pool has one thread per stage, is created per call and shut
    * down before returning; its threads all start on the calling
    * thread, so each inherits the caller's Spark local properties
    * (job group included) and adds [[StageProperty]] on top.
    */
  def runDag(spark: SparkSession, stages: Seq[Stage]): Seq[StageResult] = {
    val names = stages.map(_.name)
    require(names.distinct.size == names.size, s"duplicate stage names in ${names.mkString(", ")}")
    stages.zipWithIndex.foreach { case (st, i) =>
      st.upstream.foreach(u => require(names.take(i).contains(u),
        s"stage ${st.name}: upstream $u is not a stage listed before it"))
    }
    val n = math.max(stages.size, 1)
    val pool = new ThreadPoolExecutor(n, n, 0L, TimeUnit.MILLISECONDS, new LinkedBlockingQueue[Runnable]())
    pool.prestartAllCoreThreads()
    try {
      val done = stages.foldLeft(Map.empty[String, CompletableFuture[StageResult]]) { (acc, st) =>
        val ups = st.upstream.map(acc)
        val f = CompletableFuture.allOf(ups: _*).thenApplyAsync[StageResult](_ =>
          ups.map(_.join()).find(_.error.nonEmpty) match {
            case Some(failed) =>
              StageResult(st.name, 0L, Some(s"skipped: upstream ${failed.name} failed"))
            case None =>
              spark.sparkContext.setLocalProperty(StageProperty, st.name)
              timed(st)
          }, pool)
        acc.updated(st.name, f)
      }
      stages.map(st => done(st.name).join())
    } finally pool.shutdown()
  }

  /** O3: peek-first-N debug (the reference prints json_var[:3],
    * qa_api_handler.py:326-331) — take(n) through the limit-pushdown
    * path, never a full materialization.
    */
  def peek(df: org.apache.spark.sql.DataFrame, n: Int = 3): Seq[String] =
    df.take(n).map(_.json).toSeq

  /** A3: driver progress metrics — the reference prints running counts
    * and percentages (qa_api_handler.py:130,146-152); on Spark the
    * scheduler already knows, so expose jobs/tasks/records seen via a
    * listener instead of hand-rolled counters.
    */
  final class ProgressMetrics extends SparkListener {
    @volatile var jobsCompleted = 0L
    @volatile var tasksCompleted = 0L
    @volatile var recordsRead = 0L
    override def onJobEnd(end: SparkListenerJobEnd): Unit =
      jobsCompleted += 1
    override def onTaskEnd(end: SparkListenerTaskEnd): Unit = {
      tasksCompleted += 1
      val m = end.taskMetrics
      if (m != null) recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Attach metrics for the duration of `body`. */
  def withProgress[A](spark: SparkSession)(body: => A): (A, ProgressMetrics) = {
    val pm = new ProgressMetrics
    spark.sparkContext.addSparkListener(pm)
    try {
      val a = body
      // the listener bus is async: drain it so the counters hold every
      // event of the body's jobs
      GraftBus.drain(spark.sparkContext)
      (a, pm)
    } finally spark.sparkContext.removeSparkListener(pm)
  }
}
