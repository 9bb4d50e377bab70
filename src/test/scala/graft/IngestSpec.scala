package graft

import java.time.LocalDate

import graft.sources.{Extraction, Ingest, Sinks}
import graft.sources.Ingest.{DateWindow, KeyFetcher, WindowFetcher}
import org.apache.spark.sql.functions._

/** Requests in flight across the fetcher tasks of one local-mode JVM.
  * Each request blocks until `target` requests have been in flight at
  * once, or for at most two seconds, so a fan-out that really runs its
  * tasks together passes at once, and a serialized one shows a peak of
  * one after a bounded wait. */
object InFlightProbe {
  private var now = 0
  private var peak = 0
  private var target = 0

  def reset(t: Int): Unit = synchronized { now = 0; peak = 0; target = t }
  def peakSeen: Int = synchronized(peak)

  def serve(): Unit = synchronized {
    now += 1
    peak = math.max(peak, now)
    notifyAll()
    val deadline = System.nanoTime() + 2000000000L
    while (peak < target && System.nanoTime() < deadline)
      wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
    now -= 1
  }

  /** The one-contact response a probed fetcher returns. */
  def doc(id: Long): Iterator[String] =
    Iterator(s"""[{"id": $id, "startTime": 0, "assocCallId": "K$id"}]""")
}

/** Extraction dataflow: window planning, distributed fan-out via
  * injected fetchers, PERMISSIVE bulk load, concatenated-array
  * normalization (SURVEY §2.1 S2/S4/S8/S10).
  */
class IngestSpec extends SparkSpec {

  test("planWindows: 16-day lookback at break 2 yields 8 clipped windows") {
    val w = Ingest.planWindows(LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-17"), 2)
    assert(w.size === 8)
    assert(w.head === DateWindow("2024-01-01", "2024-01-03"))
    assert(w.last === DateWindow("2024-01-15", "2024-01-17"))
    // uneven tail is clipped, not overshot
    val w2 = Ingest.planWindows(LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-06"), 4)
    assert(w2 === Seq(
      DateWindow("2024-01-01", "2024-01-05"),
      DateWindow("2024-01-05", "2024-01-06")))
  }

  test("fetchWindows: one task per window, responses parsed to typed rows") {
    val windows = Ingest.planWindows(LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-05"), 2)
    val fetcher = new WindowFetcher {
      def fetch(w: DateWindow): Iterator[String] =
        Iterator(s"""[{"id": ${w.start.replace("-", "").toLong}, "startTime": 1704067200000, "assocCallId": "C-${w.start}"}]""")
    }
    val raw = Ingest.fetchWindows(spark, windows, fetcher)
    assert(raw.rdd.getNumPartitions === windows.size)
    val parsed = Ingest.parseDocs(raw, Schemas.contacts)
    assert(parsed.count() === windows.size)
    assert(parsed.select("assocCallId").collect().map(_.getString(0)).toSet
      === windows.map(w => s"C-${w.start}").toSet)
  }

  test("fetchPerKey: N+1 fan-out with empty responses skipped") {
    import spark.implicits._
    val keys = spark.createDataset(Seq[java.lang.Long](1L, 2L, 3L, 4L))
    val fetcher = new KeyFetcher {
      def fetch(key: Long): Iterator[String] =
        if (key % 2 == 0) Iterator.empty // F6: empty response filter
        else Iterator(s"""[{"id": $key, "startTime": 0, "assocCallId": "K$key"}]""")
    }
    val out = Ingest.parseDocs(Ingest.fetchPerKey(keys, fetcher, tasks = 2), Schemas.contacts)
    assert(out.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  // the one-shard stage write must not fold a fan-out back into its
  // own single task: each fan-out reaches min(tasks, keys, cores)
  // requests in flight through writeJsonBatch's default shards = 1
  private def stagedDocs(raw: org.apache.spark.sql.Dataset[String], expected: Int): Int = {
    val dir = java.nio.file.Files.createTempDirectory("graft-fanout").toString
    Sinks.writeJsonBatch(Ingest.parseDocs(raw, Schemas.contacts), dir, "fan", 1)
    val st = Ingest.loadStagedLines(spark, s"$dir/fan_*.json", Schemas.contacts)
    try assert(st.good.count() === expected) finally st.release()
    InFlightProbe.peakSeen
  }

  private def fanOutWant(tasks: Int, keys: Int): Int =
    Seq(tasks, keys, spark.sparkContext.defaultParallelism).min

  test("fetchPerKey through the one-shard stage write keeps its requests in flight together") {
    import spark.implicits._
    val want = fanOutWant(4, 8)
    InFlightProbe.reset(want)
    val keys = spark.createDataset((1L to 8L).map(java.lang.Long.valueOf))
    val fetcher = new KeyFetcher {
      def fetch(key: Long): Iterator[String] = { InFlightProbe.serve(); InFlightProbe.doc(key) }
    }
    assert(stagedDocs(Ingest.fetchPerKey(keys, fetcher, tasks = 4), 8) >= want)
  }

  test("followLinks through the one-shard stage write keeps its requests in flight together") {
    import spark.implicits._
    val want = fanOutWant(4, 8)
    InFlightProbe.reset(want)
    val rows = (1L to 8L).map(i => (i, s"/eval/$i/comment")).toDF("id", "comments")
    val fetcher = new Extraction.LinkFetcher {
      def fetch(url: String): Iterator[String] = {
        InFlightProbe.serve()
        InFlightProbe.doc("\\d+".r.findFirstIn(url).get.toLong)
      }
    }
    assert(stagedDocs(Extraction.followLinks(rows, "comments", fetcher, tasks = 4), 8) >= want)
  }

  test("fetchWindows through the one-shard stage write keeps its windows in flight together") {
    val windows = Ingest.planWindows(LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-07"), 1)
    val want = fanOutWant(windows.size, windows.size)
    InFlightProbe.reset(want)
    val fetcher = new WindowFetcher {
      def fetch(w: DateWindow): Iterator[String] = {
        InFlightProbe.serve()
        InFlightProbe.doc(w.start.replace("-", "").toLong)
      }
    }
    assert(stagedDocs(Ingest.fetchWindows(spark, windows, fetcher), windows.size) >= want)
  }

  test("loadStaged: malformed file quarantined, good glob-matched files load") {
    // fixtures/ has all_contacts_1/2.json (good) and malformed/ is
    // excluded by the glob; read the malformed dir separately
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val st = Ingest.loadStaged(
      spark, Fixtures.Dir, Schemas.contacts, "all_contacts_*.json")
    assert(st.good.count() === 120) // 60 + 60 docs across the two files
    assert(st.bad.count() === 0)
    st.release()
    val st2 = Ingest.loadStaged(
      spark, s"${Fixtures.Dir}/malformed", Schemas.contacts, "all_contacts_*.json")
    assert(st2.good.count() === 0)
    assert(st2.bad.count() === 1) // whole file collapses to one corrupt row
    st2.release()
    // release() drops the batch cache — nothing left behind for a
    // long-lived session to accumulate (VERDICT r3 What's-wrong #3)
    assert(spark.sparkContext.getPersistentRDDs.keySet === persistedBefore)
  }

  test("quarantine (bad) needs the cache and keeps the full row; good-only works uncached") {
    // cache=true: quarantine carries the payload for triage
    val st = Ingest.loadStaged(
      spark, s"${Fixtures.Dir}/malformed", Schemas.contacts, "all_contacts_*.json")
    try {
      assert(st.bad.count() === 1)
      assert(st.bad.columns.contains("_corrupt_record"))
      assert(st.bad.select("_corrupt_record").collect().head.getString(0) != null)
    } finally st.release()
    // cache=false: good-path actions fine, bad fails FAST with the
    // contract (not Spark's at-action-time AnalysisException)
    val un = Ingest.loadStaged(
      spark, s"${Fixtures.Dir}/malformed", Schemas.contacts, "all_contacts_*.json",
      cache = false)
    assert(un.good.count() === 0)
    val e = intercept[IllegalArgumentException](un.bad)
    assert(e.getMessage.contains("cache=true"))
  }

  test("writePartitioned: rebuilding one partition preserves the others") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val full = Seq((1L, "day1"), (2L, "day2")).toDF("id", "dt")
    graft.sources.Sinks.writePartitioned(full, dir, "dt")
    // day-2 rebuild: static overwrite mode would truncate day 1 here
    val day2 = Seq((99L, "day2")).toDF("id", "dt")
    graft.sources.Sinks.writePartitioned(day2, dir, "dt")
    val got = spark.read.parquet(dir).select("id", "dt")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "day1"), (99L, "day2")))
  }

  test("multi-shard staged batch: write shards, glob-load all, one task per shard") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    // repartition(1) first: extraction stages feed 1-4 partition
    // frames, and shard fan-out must still work from ONE partition
    // (a coalesce-based implementation silently can't increase)
    val rows = (1L to 90L).map(i => (i, 1704067200000L + i, s"C$i"))
      .toDF("id", "startTime", "assocCallId").repartition(1)
    graft.sources.Sinks.writeJsonBatch(rows, dir, "all_contacts", 1, shards = 3)
    val st = Ingest.loadStagedLines(spark, s"$dir/all_contacts_*.json", Schemas.contacts)
    try {
      // every row survives the shard fan-out, no duplicates
      assert(st.good.select("id").collect().map(_.getLong(0)).toSet
        === (1L to 90L).toSet)
      assert(st.bad.count() === 0)
      // gzip shards are unsplittable, so load parallelism == shard
      // count — the scaling knob the stage write controls
      val files = new java.io.File(s"$dir/all_contacts_1.json")
        .listFiles().filter(_.getName.startsWith("part-"))
      assert(files.length === 3)
      assert(files.forall(_.getName.endsWith(".gz")))
    } finally st.release()
  }

  test("normalizeConcatenated: stitched arrays parse as one relation") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val out = Ingest.normalizeConcatenated(
      spark, s"${Fixtures.Dir}/malformed/concatenated_arrays.json", schema)
    assert(out.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b")))
  }
}
