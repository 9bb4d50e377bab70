package steadybench

import java.io.File

import graft.{CalabrioPipeline, Pipeline}
import graft.operators.Queries
import graft.sources.SnapshotTable
import graft.streaming.IncrementalSync
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a cycle leaves behind: its steady-state key and the live
  * (files, rows) and bytes the steady-state check and
  * `stored_bytes_per_row` read. */
final case class CycleOut(key: String, files: Long, rows: Long, bytes: Long)

/** One workload. Every measured cycle starts from the same logical
  * state, so cycle k does exactly the work of cycle 1. */
abstract class Workload(val env: Env) {
  def spark: SparkSession = env.spark
  /** Data generation (untimed, in setup_s). */
  def setup(): Unit
  /** Reference expectations (untimed, in setup_s), computed while the
    * unchecked warm-up cycles run. */
  def expectations(): Unit = ()
  /** Cycles per steady-state round; measuring stops on a round edge. */
  def period: Int = 1
  /** Untimed, unchecked cycles before measuring, inside setup_s. */
  def warmups: Int
  /** Key of the cycles whose end state `stored_bytes_per_row` reports. */
  def bytesKey: String = "main"
  def cycle(k: Int): CycleOut
  /** Between cycles, untimed: per-cycle clone and checkpoint dirs. */
  def cleanup(k: Int): Unit = ()
  /** Extra traced figures from this cycle's spans and jobs. */
  def traced(spans: Seq[Span], jobs: Seq[TracedJob]): Map[String, Double] = Map.empty
}

/** Inputs of the snapshot-table workloads, written once per run, and
  * the plain-DataFrame reference algebra their checks use. */
final class SnapshotInputs(spark: SparkSession, val t: Tpch, val dir: String) {
  import t.Keys
  val plainBase = s"$dir/sf/lineitem.parquet"
  /** The stream source: one parquet file per micro-batch. */
  val streamSrc = s"$dir/stream_src"
  val StreamBatches = 1
  private def path(n: String) = if (n == "delete_keys") s"$dir/delete_keys" else s"$dir/delta/kind=$n"

  def writeAll(): Unit = {
    val d = t.delta
    t.base(spark).write.mode("overwrite").parquet(plainBase)
    // every lineitem-shaped delta in one job, one file per kind
    val deltas = Seq(
      "append" -> (t.fresh(0, d), 1), "merge" -> (t.mergeKeys ++ t.fresh(1, d / 2), 2),
      "upsert" -> (t.upsertKeys ++ t.fresh(2, d / 2), 3), "stream_batch" -> (t.fresh(3, d), 4)) ++
      (0 until StreamBatches).map(k => s"stream$k" -> (t.streamUpdateKeys(k) ++ t.streamFresh(k), 10 + k))
    deltas.map { case (kind, (keys, salt)) =>
      t.lineitemFor(t.keysOf(spark, keys), salt).withColumn("kind", lit(kind))
    }.reduce(_ unionByName _).repartition(col("kind"))
      .write.mode("overwrite").partitionBy("kind").parquet(s"$dir/delta")
    t.keysOf(spark, t.deleteKeys).coalesce(1).write.mode("overwrite").parquet(path("delete_keys"))
    new File(streamSrc).mkdirs()
    (0 until StreamBatches).foreach { k =>
      java.nio.file.Files.move(Files.parquet(path(s"stream$k")).head.toPath,
        new File(streamSrc, f"batch-$k%03d.parquet").toPath)
    }
    sfTables()
  }

  /** orders, customer and events beside lineitem (the plain base), for
    * the reference analytics. */
  private def sfTables(): Unit = {
    val sf = s"$dir/sf"
    val customers = t.orders / 10
    def r(k: Int) = xxhash64(lit(t.seed), lit(k), col("id"))
    spark.range(1, t.orders + 1, 1, 2).select(
      col("id").as("o_orderkey"),
      (pmod(r(1), lit(customers * 11 / 10)) + 1).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")), (pmod(r(2), lit(3L)) + 1).cast("int")).as("o_orderstatus"),
      (pmod(r(3), lit(50000000L)) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694310400L) + pmod(r(4), lit(2400L)) * 86400L).as("o_orderdate"),
      concat(lit("P"), pmod(r(5), lit(5L)).cast("string")).as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$sf/orders.parquet")
    spark.range(1, customers + 1, 1, 1).select(
      col("id").as("c_custkey"), concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
      pmod(r(6), lit(25L)).cast("int").as("c_nationkey"),
      (pmod(r(7), lit(1000000L)) / 100.0).as("c_acctbal"),
      concat(lit("SEG"), pmod(r(8), lit(5L)).cast("string")).as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$sf/customer.parquet")
    spark.range(1, t.orders + 1, 1, 2).select(
      col("id").as("event_id"),
      when(pmod(r(9), lit(100L)) === 0, lit(null).cast("timestamp"))
        .otherwise(timestamp_seconds(lit(1704067200L) + pmod(r(10), lit(120L * 86400L)))).as("ts"),
      (pmod(r(11), lit(5000L)) + 1).as("user_id"),
      concat(lit("type"), pmod(r(12), lit(5L)).cast("string")).as("event_type"),
      (pmod(r(13), lit(10000L)) / 10.0).as("value"),
      concat(lit("{\"k\":"), pmod(r(14), lit(100L)).cast("string"), lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$sf/events.parquet")
  }

  def base: DataFrame = spark.read.parquet(plainBase)
  def append: DataFrame = spark.read.parquet(path("append"))
  def merge: DataFrame = spark.read.parquet(path("merge"))
  def upsert: DataFrame = spark.read.parquet(path("upsert"))
  def deleteKeys: DataFrame = spark.read.parquet(path("delete_keys"))
  def streamBatch: DataFrame = spark.read.parquet(path("stream_batch"))
  def streamUpserts: DataFrame = spark.read.parquet(streamSrc)

  /** The base table: stats and a bloom on l_orderkey, files clustered
    * by l_orderkey. */
  def buildTable(table: String): Unit =
    SnapshotTable.commitAppend(t.base(spark), table,
      statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))

  def upserted(state: DataFrame, delta: DataFrame): DataFrame =
    state.join(delta.select(Keys.map(col): _*), Keys, "left_anti").unionByName(delta)
  def deleted(state: DataFrame, keys: DataFrame): DataFrame = state.join(keys, Keys, "left_anti")
  val dvUpdate: Map[String, Column] = Map("l_linestatus" -> lit("U"))
  def dvUpdated(state: DataFrame): DataFrame =
    state.withColumn("l_linestatus", when(t.dv2Pred, lit("U")).otherwise(col("l_linestatus")))

  def liveRows(table: String): Long =
    try SnapshotTable.countRows(spark, table)
    catch { case _: IllegalArgumentException => SnapshotTable.read(spark, table).count() }

  /** Live (files, rows, bytes) of the head version. */
  def live(table: String): (Long, Long, Long) = {
    val fs = SnapshotTable.files(spark, table, SnapshotTable.versions(spark, table).last)
    val bytes = fs.map(p => new File(if (p.startsWith("/")) p else s"$table/$p").length()).sum
    (fs.size.toLong, liveRows(table), bytes)
  }
}

/** The paper's workload: one `fullRun` per cycle restating the same
  * week of contacts, alternating variant B and variant A. */
final class CalabrioRestate(env: Env) extends Workload(env) {
  private val g = Calabrio(env.seed)
  private val cfg = CalabrioPipeline.Config(s"${env.work}/stage", s"${env.work}/targets")
  private var digestA: Map[String, Digest] = Map.empty
  private var stageBounds: Seq[(String, Long)] = Nil

  override def period: Int = 2
  override def bytesKey: String = "A"

  private def targetDigests(): Map[String, Digest] =
    Digest.ofAll(CalabrioPipeline.targetTables(cfg).toSeq.map { case (n, p) => n -> spark.read.parquet(p) })

  /** One timed fullRun of variant `v`, checked against the generator's
    * row counts and, for A, against the from-empty A digests. */
  private def restate(v: Char): Map[String, Digest] = {
    val r0 = FetchStats.requests.get()
    val s0 = FetchStats.serviceNanos.get()
    val p0 = FetchStats.pendingNanos
    var digests = Map.empty[String, Digest]
    val res = env.op("CalabrioPipeline.fullRun") {
      CalabrioPipeline.fullRun(spark, cfg, g.windows, Calabrio.Forms(g), Calabrio.Contacts(g),
        Calabrio.Evals(g, v), Calabrio.Transcripts(g, v), Calabrio.Comments(g, v))
    } { res: Seq[Pipeline.StageResult] =>
      res.find(_.error.nonEmpty).map(s => s"stage ${s.name} failed: ${s.error.get}").orElse {
        digests = targetDigests()
        Checks.targetRows(digests.map { case (k, d) => k -> d.rows }, g.expectedRows(v)).orElse(
          if (v == 'A' && digestA.nonEmpty) Checks.same("A-cycle target digests", digests, digestA)
          else None)
      }
    }
    env.note("fetch.requests", (FetchStats.requests.get() - r0).toDouble)
    env.note("fetch.service_s", (FetchStats.serviceNanos.get() - s0) / 1e9)
    env.note("fetch.pending_share", (FetchStats.pendingNanos - p0) / 1e9 / env.spans.last.secs)
    res.foreach(s => env.note(s"stage.${s.name}.s", s.millis / 1000.0))
    val start = env.spans.last.startMs
    stageBounds = res.scanLeft(("", start)) { case ((_, t), s) => (s.name, t + s.millis) }.tail
    digests
  }

  /** After the from-empty A load (the reference every A cycle must
    * reproduce), one B cycle warms up; measuring starts with A. */
  def warmups: Int = 1

  def setup(): Unit = {
    Files.delete(env.work + "/targets")
    digestA = restate('A')
  }

  def cycle(k: Int): CycleOut = {
    val v = if (k % 2 == 0) 'B' else 'A'
    val rows = restate(v).values.map(_.rows).sum
    val files = CalabrioPipeline.targetTables(cfg).values.toSeq.flatMap(Files.parquet)
    CycleOut(v.toString, files.size.toLong, rows, files.map(_.length()).sum)
  }

  /** Jobs go to the stage whose cumulative `StageResult` interval holds
    * their submission time (`runSequential` runs stages back to back). */
  override def traced(spans: Seq[Span], jobs: Seq[TracedJob]): Map[String, Double] = {
    val mine = Attribution.byOp(spans, jobs).flatMap(_._2)
    val names = stageBounds.map(_._1)
    val counts = mine.groupBy { j =>
      stageBounds.find(_._2 >= j.startMs).map(_._1).getOrElse(names.lastOption.getOrElse(""))
    }.map { case (n, js) => n -> js.size }
    names.map(n => s"stage.$n.jobs" -> counts.getOrElse(n, 0).toDouble).toMap
  }
}

/** The snapshot format end to end, on a clone of the base per cycle:
  * ~0.5% deltas through every commit kind and a streaming upsert, then
  * the reads a consumer runs between maintenance runs (pending
  * merge-on-read deletes and delete vectors) beside the reference
  * analytics, then maintenance. Write-path work deferred to readers
  * shows up in the same cycle. */
final class SnapshotLifecycle(env: Env) extends Workload(env) {
  private val t = Tpch(env.seed)
  private val in = new SnapshotInputs(spark, t, env.work)
  private val baseTable = s"${env.work}/base_table"
  private val sf = s"${env.work}/sf"
  private def clone(k: Int) = s"${env.work}/clone-$k"
  private def ckpt(k: Int) = s"${env.work}/ckpt-$k"
  private val CompactBytes = 4L << 20
  private val rwLo = 1 + t.orders / 5 + H.u(env.seed, (t.orders / 2).toInt, 21)
  private def rangePred: Column = col("l_orderkey").between(rwLo, rwLo + t.delta - 1)
  private val lookupKeys: Seq[Any] =
    (t.mergeKeys.take(10) ++ t.upsertKeys.take(10) ++ t.deleteKeys.take(10) ++
      (0 until 10).map(i => 1L + H.u(env.seed, t.orders.toInt, 22, i))).distinct
  /** History of a cycle: v1 clone, v2 append, v3 merge, v4 delete
    * vector, v5 MoR upsert, v6 MoR delete, v7 DV update, v8 stream
    * batch, then one version per streaming upsert batch. */
  private val HistoryClasses = Seq("create", "append", "content-diff", "mor-delete", "content-diff",
    "mor-delete", "content-diff", "append") ++ Seq.fill(in.StreamBatches)("content-diff")
  private var want: Map[String, Any] = Map.empty

  /** A cycle runs ~270 Spark jobs and its first run in a JVM is ~30%
    * slower and far noisier (JIT): one warm-up cycle. */
  def warmups: Int = 1

  // generator arithmetic: live rows after each write
  private val half = 4L * (t.delta / 2)
  private val n0 = t.baseRows
  private val n1 = n0 + 4L * t.delta
  private val n2 = n1 + half
  private val n3 = n2 - 4L * t.delta
  private val n4 = n3 + half
  private val n5 = n4 - 4L * t.deleteKeys.size
  private val n6 = n5 + 4L * t.delta
  private val n7 = n6 + 4L * (0 until in.StreamBatches).map(t.streamFresh(_).size).sum

  def setup(): Unit = {
    in.writeAll()
    in.buildTable(baseTable)
  }

  override def expectations(): Unit = {
    val e3 = in.upserted(in.base.unionByName(in.append), in.merge)
    val e4 = e3.filter(!t.dv1Pred)
    val e7 = in.dvUpdated(in.deleted(in.upserted(e4, in.upsert), in.deleteKeys))
    val head = in.upserted(e7.unionByName(in.streamBatch), in.streamUpserts)
    def sql(q: String, views: (String, String)*): DataFrame = {
      views.foreach { case (n, p) => spark.read.parquet(p).createOrReplaceTempView(n) }
      spark.sql(q)
    }
    val queries = Seq(
      "Queries.runningTally" -> sql(
        """SELECT date_format(dt, 'yyyy-MM-dd') AS dt, tally,
          |  SUM(tally) OVER (ORDER BY dt ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS running_tally
          |FROM (SELECT to_date(ts) AS dt, COUNT(event_id) AS tally FROM ev
          |      WHERE ts IS NOT NULL GROUP BY to_date(ts))""".stripMargin, "ev" -> s"$sf/events.parquet"),
      "Queries.cslbReconcile" -> sql(
        """SELECT DISTINCT o_custkey AS contact_id FROM ord
          |WHERE o_custkey IN (SELECT c_custkey FROM cust)""".stripMargin,
        "ord" -> s"$sf/orders.parquet", "cust" -> s"$sf/customer.parquet"),
      "Queries.pricingSummary" -> sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
          |  SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sum_base_price_e2,
          |  SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS sum_disc_price_e4,
          |  SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1000000) AS BIGINT)) AS sum_charge_e6,
          |  COUNT(1) AS count_order
          |FROM li GROUP BY l_returnflag, l_linestatus""".stripMargin, "li" -> in.plainBase))
    val digests = Digest.ofAll(Seq(
      "SnapshotTable.read" -> head,
      "SnapshotTable.readAsOf" -> e3,
      "SnapshotTable.readWhere" -> head.filter(rangePred),
      "SnapshotTable.readKeysFiltered" -> head.filter(col("l_orderkey").isin(lookupKeys: _*)),
      "v4" -> e4,
      "SnapshotTable.groupCounts" -> e4.groupBy("l_returnflag").agg(count(lit(1)).as("n_rows")),
      "SnapshotTable.changesBetween" -> e3.filter(t.dv1Pred)) ++ queries)
    want = digests ++ Map(
      "SnapshotTable.countRows" -> digests("v4").rows,
      "SnapshotTable.history" -> ((1L to HistoryClasses.size.toLong) zip HistoryClasses))
  }

  /** A timed read: the action is the digest itself, which evaluates
    * every output column; the check compares it with the same query
    * over the plain-parquet rows. */
  private def read(name: String)(df: => DataFrame): Unit =
    env.op(name)(Digest.of(df))(d => Checks.digest(name, d, want(name).asInstanceOf[Digest]))

  /** Share of the head's data files a pruned read opens. */
  private def keptRatio(df: DataFrame, headFiles: Seq[String]): Double = {
    val names = headFiles.map(p => new File(p).getName).toSet
    df.inputFiles.map(p => new File(new java.net.URI(p).getPath).getName).count(names.contains).toDouble /
      headFiles.size
  }

  def cycle(k: Int): CycleOut = {
    val dir = clone(k)
    def rows(n: Long)(x: Any): Option[String] = Checks.rows(dir, in.liveRows(dir), n)
    env.op("SnapshotTable.cloneTable")(SnapshotTable.cloneTable(spark, baseTable, dir))(rows(n0))
    env.op("SnapshotTable.commitAppend")(SnapshotTable.commitAppend(in.append, dir))(rows(n1))
    env.op("SnapshotTable.commitMerge")(SnapshotTable.commitMerge(in.merge, dir, t.Keys))(rows(n2))
    val asOfMs = env.spans.last.endMs
    env.op("SnapshotTable.commitDeleteVectorsWhere")(
      SnapshotTable.commitDeleteVectorsWhere(spark, dir, t.dv1Pred))(rows(n3))
    env.op("SnapshotTable.commitUpsertMoR")(SnapshotTable.commitUpsertMoR(in.upsert, dir, t.Keys))(rows(n4))
    env.op("SnapshotTable.commitDeleteMoR")(SnapshotTable.commitDeleteMoR(in.deleteKeys, dir, t.Keys))(rows(n5))
    env.op("SnapshotTable.commitUpdateVectorsWhere")(
      SnapshotTable.commitUpdateVectorsWhere(spark, dir, t.dv2Pred, in.dvUpdate))(rows(n5))
    env.op("SnapshotTable.commitStreamBatch")(SnapshotTable.commitStreamBatch(in.streamBatch, dir, 0L)) { r =>
      Checks.all(if (r.isEmpty) Some("first stream batch did not commit") else None, rows(n6)(r))
    }
    env.op("SnapshotTable.commitStreamBatch_replay")(SnapshotTable.commitStreamBatch(in.streamBatch, dir, 0L)) { r =>
      Checks.all(Checks.replayNoOp(r), rows(n6)(r))
    }
    val schema = in.streamUpserts.schema
    val progress = env.op("IncrementalSync.upsertSync") {
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in.streamSrc)
      val q = IncrementalSync.upsertSync(stream, dir, t.Keys, ckpt(k))
      q.awaitTermination()
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
    } { ps =>
      Checks.all(Checks.same("micro-batches", ps.size, in.StreamBatches),
        Checks.same("versions", SnapshotTable.versions(spark, dir).size, HistoryClasses.size),
        rows(n7)(ps))
    }

    // readers between maintenance runs: head has pending MoR deletes and DVs
    read("SnapshotTable.read")(SnapshotTable.read(spark, dir))
    read("SnapshotTable.readAsOf")(SnapshotTable.readAsOf(spark, dir, asOfMs))
    read("SnapshotTable.readWhere")(SnapshotTable.readWhere(spark, dir, rangePred))
    read("SnapshotTable.readKeysFiltered")(
      SnapshotTable.readKeysFiltered(spark, dir, "l_orderkey", lookupKeys)
        .filter(col("l_orderkey").isin(lookupKeys: _*)))
    env.op("SnapshotTable.countRows")(SnapshotTable.countRows(spark, dir, Some(4L))) { n =>
      Checks.same("countRows(v4)", n, want("SnapshotTable.countRows"))
    }
    read("SnapshotTable.groupCounts")(SnapshotTable.groupCounts(spark, dir, "l_returnflag", Some(4L))._1)
    read("SnapshotTable.changesBetween")(SnapshotTable.changesBetween(spark, dir, 3L, 4L).drop("_change"))
    env.op("SnapshotTable.history")(SnapshotTable.history(spark, dir).collect()) { rows =>
      Checks.same("history (version, op_class)",
        rows.toSeq.map(r => (r.getAs[Long]("version"), r.getAs[String]("op_class"))),
        want("SnapshotTable.history"))
    }
    read("Queries.runningTally")(Queries.runningTally(spark, sf))
    read("Queries.cslbReconcile")(Queries.cslbReconcile(spark, sf))
    read("Queries.pricingSummary")(Queries.pricingSummary(spark, sf))
    val head = SnapshotTable.files(spark, dir, SnapshotTable.versions(spark, dir).last)
    env.note("SnapshotTable.readWhere.files_kept_ratio",
      keptRatio(SnapshotTable.readWhere(spark, dir, rangePred), head))
    env.note("SnapshotTable.readKeysFiltered.files_kept_ratio",
      keptRatio(SnapshotTable.readKeysFiltered(spark, dir, "l_orderkey", lookupKeys), head))

    // maintenance
    env.op("SnapshotTable.applyDeletes")(SnapshotTable.applyDeletes(spark, dir))(rows(n7))
    env.op("SnapshotTable.compactHead")(SnapshotTable.compactHead(spark, dir, CompactBytes))(rows(n7))
    env.op("SnapshotTable.vacuum")(SnapshotTable.vacuum(spark, dir, 1)) { _ =>
      Checks.digest("final table", Digest.of(SnapshotTable.read(spark, dir)),
        want("SnapshotTable.read").asInstanceOf[Digest])
    }
    Main.Phases.foreach { p =>
      val xs = progress.map(pr => Option(pr.durationMs.get(p)).map(_.longValue).getOrElse(0L) / 1000.0)
      env.note(s"batch.${p}_s", Stats.median(xs))
    }
    env.note("batches", progress.size.toDouble)
    val (files, rowsNow, bytes) = in.live(dir)
    env.note("table.live_files", head.size.toDouble)
    CycleOut("main", files, rowsNow, bytes)
  }

  override def cleanup(k: Int): Unit = {
    Files.delete(clone(k))
    Files.delete(ckpt(k))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
