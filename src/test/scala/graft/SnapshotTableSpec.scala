package graft

import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The snapshot-manifest table format: versioned commits, time
  * travel, optimistic-concurrency retry, and vacuum's liveness rule.
  */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("snap_spec").toString + "/tbl"

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  test("append commits new versions; every old version stays readable") {
    val dir = freshDir()
    assert(SnapshotTable.versions(spark, dir).isEmpty)
    val v1 = SnapshotTable.commitAppend(Seq(1L, 2L).toDF("id"), dir)
    val v2 = SnapshotTable.commitAppend(Seq(3L).toDF("id"), dir)
    assert((v1, v2) == (1L, 2L))
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(1L, 2L, 3L))
    assert(ids(SnapshotTable.read(spark, dir, Some(1L))) == Seq(1L, 2L),
      "time travel to v1 must not see the append")
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, dir, Some(9L))
    }
  }

  test("overwrite replaces the head but not history; vacuum drops only dead files") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq(1L, 2L).toDF("id"), dir)
    SnapshotTable.commitAppend(Seq(3L).toDF("id"), dir)
    SnapshotTable.commitOverwrite(Seq(10L, 11L).toDF("id"), dir)
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(10L, 11L))
    assert(ids(SnapshotTable.read(spark, dir, Some(2L))) == Seq(1L, 2L, 3L),
      "pre-overwrite snapshot must remain intact")
    val deleted = SnapshotTable.vacuum(spark, dir, keepVersions = 1)
    assert(deleted > 0, "the overwritten batches are dead and must be removed")
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(10L, 11L),
      "vacuum must never touch files the head references")
    assert(SnapshotTable.versions(spark, dir) == Seq(3L))
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, dir, Some(2L))
    }
  }

  test("a racing committer forces a retry on top of the new head") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq(1L).toDF("id"), dir)
    // simulate a racer that lands v2 first: copy v1's manifest into
    // the v2 slot directly — our commit's rename to v2 must fail and
    // retry as v3, appending on top of the racer's head
    val m = java.nio.file.Paths.get(dir, "_manifests")
    java.nio.file.Files.copy(m.resolve("v1.json"), m.resolve("v2.json"))
    val v = SnapshotTable.commitAppend(Seq(2L).toDF("id"), dir)
    assert(v == 3L, "the lost race must surface as a later version")
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(1L, 2L))
  }

  test("a true same-slot collision: the second publish FAILS and the winner's manifest survives") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq(1L).toDF("id"), dir)
    // two committers race for slot 2 — stage both manifests, publish
    // in sequence: the loser must get `false` (FileContext rename
    // with Rename.NONE refuses an existing destination; the plain
    // FileSystem.rename on LocalFileSystem would silently overwrite)
    val head = SnapshotTable.readManifest(spark, dir, 1L)
    val a = head.copy(version = 2L, ledger = SnapshotTable.Ledger().add("", 100L))
    val b = head.copy(version = 2L, ledger = SnapshotTable.Ledger().add("", 200L))
    assert(SnapshotTable.tryPublish(spark, dir, a), "first publish must win the slot")
    assert(!SnapshotTable.tryPublish(spark, dir, b),
      "second publish into the SAME slot must fail, not silently overwrite")
    assert(SnapshotTable.readManifest(spark, dir, 2L).ledger.contains("", 100L) &&
      !SnapshotTable.readManifest(spark, dir, 2L).ledger.contains("", 200L),
      "the winner's manifest content must survive the collision")
    // no tmp litter left behind by the loser
    val tmps = new java.io.File(s"$dir/_manifests").listFiles()
      .map(_.getName).filter(_.startsWith(".tmp-"))
    assert(tmps.isEmpty, s"loser must clean its staged tmp: ${tmps.toSeq}")
  }

  test("two genuinely concurrent appends both land; neither commit is lost") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq(0L).toDF("id"), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = SnapshotTable.commitAppend(Seq(1L).toDF("id"), dir)
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = SnapshotTable.commitAppend(Seq(2L).toDF("id"), dir)
      })
      assert(Set(fa.get(), fb.get()) == Set(2L, 3L),
        "racing appends must serialize into distinct versions")
    } finally pool.shutdown()
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(0L, 1L, 2L),
      "the head must contain BOTH racing appends")
  }

  test("commitStreamBatch: a replayed batch id no-ops; distinct ids append") {
    val dir = freshDir()
    assert(SnapshotTable.commitStreamBatch(Seq(1L).toDF("id"), dir, batchId = 0L)
      .contains(1L))
    assert(SnapshotTable.commitStreamBatch(Seq(2L).toDF("id"), dir, batchId = 1L)
      .contains(2L))
    assert(SnapshotTable.commitStreamBatch(Seq(99L).toDF("id"), dir, batchId = 0L)
      .isEmpty, "batch 0 is already in the ledger — replay must no-op")
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(1L, 2L))
    // a plain (non-stream) append carries no batch id and never blocks one
    SnapshotTable.commitAppend(Seq(3L).toDF("id"), dir)
    assert(SnapshotTable.committedBatchIds(spark, dir) == Set(0L, 1L))
  }

  test("the batch-id ledger is answered by the HEAD manifest alone (O(1) per micro-batch)") {
    val dir = freshDir()
    SnapshotTable.commitStreamBatch(Seq(1L).toDF("id"), dir, batchId = 0L)
    SnapshotTable.commitStreamBatch(Seq(2L).toDF("id"), dir, batchId = 1L)
    // an OVERWRITE between stream batches must not lose the ledger
    SnapshotTable.commitOverwrite(Seq(9L).toDF("id"), dir)
    SnapshotTable.commitStreamBatch(Seq(3L).toDF("id"), dir, batchId = 2L)
    // destroy every non-head manifest: if committedBatchIds still
    // answers, it read ONLY the head (ids carried forward, not rescanned)
    val m = java.nio.file.Paths.get(dir, "_manifests")
    Seq("v1.json", "v2.json", "v3.json").foreach(n =>
      java.nio.file.Files.delete(m.resolve(n)))
    assert(SnapshotTable.committedBatchIds(spark, dir) == Set(0L, 1L, 2L),
      "the head manifest must carry the full committed-batch-id set")
    assert(SnapshotTable.commitStreamBatch(Seq(99L).toDF("id"), dir, batchId = 0L).isEmpty,
      "a replay from before the overwrite must still no-op")
    // vacuum keeps the ledger too (head carries the union)
    SnapshotTable.vacuum(spark, dir, keepVersions = 1)
    assert(SnapshotTable.committedBatchIds(spark, dir) == Set(0L, 1L, 2L))
  }

  test("MERGE is file-granular copy-on-write: untouched files carry forward BY REFERENCE") {
    val dir = freshDir()
    // four appends = four range-disjoint file groups with id stats
    Seq(0L until 10L, 10L until 20L, 20L until 30L, 30L until 40L).foreach { r =>
      SnapshotTable.commitAppend(
        r.map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), dir,
        statsCols = Seq("id"))
    }
    val before = SnapshotTable.files(spark, dir, 4L)
    assert(before.size == 4)
    // delta touches ONLY the 10..19 file (update 12, insert 1000)
    val v5 = SnapshotTable.commitMerge(
      Seq((12L, "V12"), (1000L, "new")).toDF("id", "v"), dir, Seq("id"))
    assert(v5 == 5L)
    val after = SnapshotTable.files(spark, dir, 5L)
    val carried = before.toSet.intersect(after.toSet)
    assert(carried.size == before.size - 1,
      s"exactly N-1 files must carry forward verbatim; carried=$carried")
    // the carried entries keep their STATS by reference too
    val m5 = SnapshotTable.readManifest(spark, dir, 5L)
    val carriedStats = m5.entries.filter(e => carried.contains(e.path))
    assert(carriedStats.forall(_.stats.contains("id")),
      "carried-forward entries must keep their min/max stats")
    // and the merged content is exact
    val got = SnapshotTable.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val want = ((0L until 40L).map(i => (i, if (i == 12L) "V12" else s"v$i")) :+
      (1000L, "new")).sortBy(_._1)
    assert(got == want)
    // a PURE-INSERT merge touches nothing: all 5 head files carry
    // forward and CDC stays the zero-compute file-level diff
    val v6 = SnapshotTable.commitMerge(
      Seq((2000L, "ins")).toDF("id", "v"), dir, Seq("id"))
    assert(SnapshotTable.files(spark, dir, 6L).toSet.intersect(after.toSet) == after.toSet,
      "insert-only merge must rewrite NO existing file")
    val ch = SnapshotTable.changesBetween(spark, dir, 5L, v6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(ch == Seq((2000L, "ins", "insert")))
  }

  test("DELETE is file-granular: only files holding a doomed key are rewritten") {
    val dir = freshDir()
    Seq(0L until 10L, 10L until 20L, 20L until 30L).foreach { r =>
      SnapshotTable.commitAppend(r.toDF("id").coalesce(1), dir, statsCols = Seq("id"))
    }
    val before = SnapshotTable.files(spark, dir, 3L)
    assert(before.size == 3)
    val v4 = SnapshotTable.commitDelete(Seq(25L, 27L).toDF("id"), dir, Seq("id"))
    assert(v4 == 4L)
    val after = SnapshotTable.files(spark, dir, 4L)
    assert(before.toSet.intersect(after.toSet).size == 2,
      "the two untouched files must carry forward verbatim")
    assert(ids(SnapshotTable.read(spark, dir)) ==
      (0L until 30L).filterNot(Set(25L, 27L)).toSeq)
    // deleting only ABSENT keys is a metadata-only commit: same entries
    val v5 = SnapshotTable.commitDelete(Seq(777L).toDF("id"), dir, Seq("id"))
    assert(SnapshotTable.files(spark, dir, v5) == after,
      "an all-absent delete must not rewrite or add any file")
  }

  test("string and DATE stat columns prune too (dates canonicalized to ISO strings)") {
    val dir = freshDir()
    // three appends with disjoint name/date ranges
    def chunk(rows: Seq[(String, String)]) = rows.toDF("name", "d")
      .withColumn("d", col("d").cast("date")).coalesce(1)
    SnapshotTable.commitAppend(
      chunk(Seq(("alpha", "2024-01-05"), ("beta", "2024-01-20"))), dir,
      statsCols = Seq("name", "d"))
    SnapshotTable.commitAppend(
      chunk(Seq(("karl", "2024-02-10"), ("mona", "2024-02-25"))), dir)
    SnapshotTable.commitAppend(
      chunk(Seq(("xena", "2024-03-03"), ("zara", "2024-03-30"))), dir)
    // string range [k, n] keeps only the middle file
    val (byName, total) = SnapshotTable.pruneFiles(spark, dir,
      Seq(SnapshotTable.StatFilter("name", lower = Some("k"), upper = Some("n"))))
    assert(total == 3 && byName.size == 1, s"name range must keep 1 of 3: $byName")
    // date range as ISO strings OR java.sql.Date — both prune identically
    val (byStr, _) = SnapshotTable.pruneFiles(spark, dir,
      Seq(SnapshotTable.StatFilter("d", lower = Some("2024-02-01"), upper = Some("2024-02-28"))))
    assert(byStr.size == 1, s"ISO date range must keep the February file: $byStr")
    val (byDate, _) = SnapshotTable.pruneFiles(spark, dir,
      Seq(SnapshotTable.StatFilter("d",
        lower = Some(java.sql.Date.valueOf("2024-02-01")),
        upper = Some(java.sql.Date.valueOf("2024-02-28")))))
    assert(byDate == byStr, "java.sql.Date bounds must normalize to the same ISO compare")
    // and the filtered read is the right rows
    val rows = SnapshotTable.readFiltered(spark, dir,
        Seq(SnapshotTable.StatFilter("name", lower = Some("k"), upper = Some("n"))))
      .filter(col("name") >= "k" && col("name") <= "n")
      .collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq("karl", "mona"))
  }

  test("commitMerge enforces expectations on the delta before any copy-on-write work") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, statsCols = Seq("id"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitMerge(
        Seq((2L, null.asInstanceOf[String])).toDF("id", "v"), dir, Seq("id"),
        expectations = Seq("v_nonnull" -> "v IS NOT NULL"))
    }
    assert(e.getMessage.contains("v_nonnull=1"))
    assert(SnapshotTable.versions(spark, dir) == Seq(1L),
      "a refused merge must not publish")
  }

  test("manifest stats prune files at planning time; readFiltered is a correct superset scan") {
    val dir = freshDir()
    Seq(0L until 10L, 10L until 20L, 20L until 30L, 30L until 40L).foreach { r =>
      SnapshotTable.commitAppend(r.toDF("id").coalesce(1), dir, statsCols = Seq("id"))
    }
    val (kept, total) = SnapshotTable.pruneFiles(spark, dir,
      Seq(SnapshotTable.StatFilter("id", lower = Some(12L), upper = Some(27L))))
    assert(total == 4 && kept.size == 2,
      s"id in [12,27] must keep exactly the 10..19 and 20..29 files, got $kept")
    val rows = SnapshotTable.readFiltered(spark, dir,
        Seq(SnapshotTable.StatFilter("id", lower = Some(12L), upper = Some(27L))))
      .filter(col("id") >= 12 && col("id") <= 27) // residual row filter
    assert(ids(rows) == (12L to 27L).toSeq)
    // one-sided bound; string stats; empty prune
    assert(SnapshotTable.pruneFiles(spark, dir,
      Seq(SnapshotTable.StatFilter("id", lower = Some(30L))))._1.size == 1)
    assert(SnapshotTable.readFiltered(spark, dir,
      Seq(SnapshotTable.StatFilter("id", lower = Some(99L)))).count() == 0,
      "a range beyond every file must scan nothing yet keep the schema")
    // a column with no stats never prunes (conservative)
    assert(SnapshotTable.pruneFiles(spark, dir,
      Seq(SnapshotTable.StatFilter("nope", lower = Some(1L))))._1.size == 4)
    // a TYPE-MISMATCHED bound (string filter on numeric stats) is
    // incomparable and must keep every file, never wrongly drop
    assert(SnapshotTable.pruneFiles(spark, dir,
      Seq(SnapshotTable.StatFilter("id", lower = Some("zzz"))))._1.size == 4,
      "incomparable bounds must be conservative")
  }

  test("commit expectations: a violated constraint refuses the commit and publishes NOTHING") {
    val dir = freshDir()
    val exp = Seq("id_nonneg" -> "id >= 0", "id_nonnull" -> "id IS NOT NULL")
    SnapshotTable.commitAppend(Seq(1L, 2L).toDF("id"), dir, expectations = exp)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitAppend(
        Seq(Some(3L), None, Some(-5L)).toDF("id"), dir, expectations = exp)
    }
    // null predicate result = violation (three-valued logic never
    // sneaks a row past a constraint), so id_nonneg counts the null too
    assert(e.getMessage.contains("id_nonneg=2") && e.getMessage.contains("id_nonnull=1"),
      s"violation counts must be named per expectation: ${e.getMessage}")
    assert(SnapshotTable.versions(spark, dir) == Seq(1L),
      "a refused commit must not publish a version")
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(1L, 2L))
    // and no orphaned batch dir was staged (check runs BEFORE any write)
    val f = new java.io.File(dir)
    assert(f.listFiles().count(_.getName.startsWith("batch-")) == 1,
      "the refused batch must never reach disk")
    // streaming commits enforce the same gate
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.commitStreamBatch(
        Seq(-1L).toDF("id"), dir, batchId = 7L, expectations = exp)
    }
    assert(e2.getMessage.contains("id_nonneg=1"))
    assert(SnapshotTable.committedBatchIds(spark, dir).isEmpty)
  }

  test("a MERGE racing an APPEND: both land, no rows lost, whatever the slot order") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      dir, statsCols = Seq("id"))
    SnapshotTable.commitAppend(
      (10L until 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fm = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = SnapshotTable.commitMerge(
          Seq((5L, "X"), (100L, "new")).toDF("id", "v"), dir, Seq("id"))
      })
      val fa = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = SnapshotTable.commitAppend(
          Seq((200L, "a"), (201L, "a")).toDF("id", "v"), dir)
      })
      assert(Set(fm.get(), fa.get()) == Set(3L, 4L),
        "racing merge+append must serialize into distinct versions")
    } finally pool.shutdown()
    val got = SnapshotTable.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val want = ((0L until 20L).map(i => (i, if (i == 5L) "X" else s"v$i")) ++
      Seq((100L, "new"), (200L, "a"), (201L, "a"))).sortBy(_._1)
    assert(got == want, "the loser's retry must apply on top of the winner's head")
  }

  test("restore: rollback is a metadata-only forward commit; history and ledger survive") {
    val dir = freshDir()
    SnapshotTable.commitStreamBatch(Seq(1L, 2L).toDF("id"), dir, batchId = 0L)
    SnapshotTable.commitDelete(Seq(2L).toDF("id"), dir, Seq("id"))
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(1L))
    val v3 = SnapshotTable.restore(spark, dir, 1L)
    assert(v3 == 3L)
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(1L, 2L),
      "the head must answer as v1 again")
    // metadata-only: v3 names exactly v1's files, no new batch dir
    assert(SnapshotTable.files(spark, dir, 3L) == SnapshotTable.files(spark, dir, 1L))
    // the bad delete stays time-travelable (evidence, not erasure)
    assert(ids(SnapshotTable.read(spark, dir, Some(2L))) == Seq(1L))
    // the stream ledger carried through the rollback
    assert(SnapshotTable.committedBatchIds(spark, dir) == Set(0L))
    intercept[IllegalArgumentException] { SnapshotTable.restore(spark, dir, 99L) }
  }

  test("MERGE evolves schema additively: new delta columns widen, unmentioned columns are retained") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, statsCols = Seq("id"))
    // delta carries a NEW column: matched row takes it, old rows read null
    SnapshotTable.commitMerge(
      Seq((2L, "B", 7L), (3L, "c", 9L)).toDF("id", "v", "extra"), dir, Seq("id"))
    val head = SnapshotTable.read(spark, dir)
    assert(head.columns.sorted.toSeq == Seq("extra", "id", "v"))
    val got = head.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        Option(r.getAs[Any]("extra")))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", None), (2L, "B", Some(7L)), (3L, "c", Some(9L))))
    // a delta that does NOT mention `v` must RETAIN it on matched
    // rows (update, not erasure) while updating the mentioned column
    SnapshotTable.commitMerge(
      Seq((2L, 77L)).toDF("id", "extra"), dir, Seq("id"))
    val got2 = SnapshotTable.read(spark, dir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        Option(r.getAs[Any]("extra")))).sortBy(_._1).toSeq
    assert(got2 == Seq((1L, "a", None), (2L, "B", Some(77L)), (3L, "c", Some(9L))),
      s"unmentioned columns must survive a partial-column upsert: $got2")
  }

  test("timestamp time travel: versionAt resolves the latest commit at-or-before the instant") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq(1L).toDF("id"), dir)
    Thread.sleep(20) // distinct commit instants
    SnapshotTable.commitAppend(Seq(2L).toDF("id"), dir)
    val t1 = SnapshotTable.readManifest(spark, dir, 1L).committedAtMs
    val t2 = SnapshotTable.readManifest(spark, dir, 2L).committedAtMs
    assert(t1 > 0 && t2 > t1, "publish must stamp increasing commit instants")
    assert(SnapshotTable.versionAt(spark, dir, t1) == 1L)
    assert(SnapshotTable.versionAt(spark, dir, t2 - 1) == 1L,
      "an instant between commits must resolve to the earlier version")
    assert(SnapshotTable.versionAt(spark, dir, t2) == 2L)
    assert(ids(SnapshotTable.readAsOf(spark, dir, t1)) == Seq(1L))
    intercept[IllegalArgumentException] {
      SnapshotTable.versionAt(spark, dir, t1 - 1)
    }
  }

  test("compactSmallFiles rewrites ONLY the splinter tail; well-sized files carry by reference") {
    val dir = freshDir()
    // one "big" file then four splinters
    SnapshotTable.commitAppend((0L until 500L).toDF("id").coalesce(1), dir,
      statsCols = Seq("id"))
    (0 until 4).foreach(i =>
      SnapshotTable.commitAppend(Seq(1000L + i).toDF("id").coalesce(1), dir))
    val before = SnapshotTable.files(spark, dir, 5L)
    assert(before.size == 5)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigSize = f.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$dir/${before.head}")).getLen
    val v = SnapshotTable.compactSmallFiles(spark, dir,
      smallBytes = bigSize, targetBytes = 1L << 30)
    assert(v == 6L)
    val after = SnapshotTable.files(spark, dir, v)
    assert(after.contains(before.head),
      "the well-sized file must carry forward verbatim")
    assert(after.size == 2, s"four splinters must coalesce to one file: $after")
    // stats survive: the carried entry keeps its min/max, the new one computes
    val m = SnapshotTable.readManifest(spark, dir, v)
    assert(m.entries.forall(_.stats.contains("id")))
    assert(ids(SnapshotTable.read(spark, dir)) ==
      ((0L until 500L) ++ (1000L until 1004L)).toSeq)
    // nothing left to coalesce: no empty commit
    assert(SnapshotTable.compactSmallFiles(spark, dir, bigSize, 1L << 30) == v)
  }

  test("compactWhere merges only the scoped small files; boundary and outside files never touch") {
    val dir = freshDir()
    // four day-disjoint splinters for day 1, one for day 2, and one
    // BOUNDARY splinter straddling both days — OPTIMIZE WHERE day=1
    // must merge exactly the four
    def chunk(ids: Seq[Long], day: Long) =
      ids.map(i => (i, day)).toDF("id", "day").coalesce(1)
    (0 until 4).foreach(i =>
      SnapshotTable.commitAppend(chunk(Seq(10L + i), 1L), dir,
        statsCols = Seq("day", "id")))
    SnapshotTable.commitAppend(chunk(Seq(20L), 2L), dir)
    SnapshotTable.commitAppend(
      Seq((30L, 1L), (31L, 2L)).toDF("id", "day").coalesce(1), dir)
    val before = SnapshotTable.files(spark, dir, 6L)
    assert(before.size == 6)
    val (v, n) = SnapshotTable.compactWhere(spark, dir,
      col("day") === 1L, smallBytes = 1L << 20, targetBytes = 1L << 30)
    assert(v == 7L && n == 4, s"four scoped splinters, got ($v, $n)")
    val after = SnapshotTable.files(spark, dir, v)
    assert(after.size == 3, s"4 merged + day-2 + boundary: $after")
    assert(before.drop(4).forall(after.contains),
      "the day-2 file and the BOUNDARY file must carry by reference")
    assert(SnapshotTable.read(spark, dir).count() == 7L)
    assert(ids(SnapshotTable.read(spark, dir).filter(col("day") === 1L)) ==
      Seq(10L, 11L, 12L, 13L, 30L))
    // stats survive on the merged file
    val m = SnapshotTable.readManifest(spark, dir, v)
    assert(m.entries.forall(_.stats.contains("day")))
    // idempotent: one scoped file left, nothing to merge
    assert(SnapshotTable.compactWhere(spark, dir, col("day") === 1L,
      1L << 20, 1L << 30) == ((v, 0)))
    // an unprovable predicate refuses loudly instead of widening
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.compactWhere(spark, dir,
        col("day") + 1L === 2L, 1L << 20, 1L << 30)
    }
    assert(e.getMessage.contains("manifest-classifiable"))
  }

  test("compactHeadZOrdered: content-neutral rewrite whose stats prune BOTH dimensions") {
    val dir = freshDir()
    val grid = for { a <- 0L until 16L; b <- 0L until 16L } yield (a, b)
    SnapshotTable.commitAppend(grid.toDF("a", "b").repartition(4), dir)
    val v2 = SnapshotTable.compactHeadZOrdered(spark, dir, "a", "b",
      targetBytes = 1024L, bits = 4)
    assert(v2 == 2L)
    val got = SnapshotTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == grid.toSet, "OPTIMIZE ZORDER must not change a row")
    // the (a<8, b<8) quadrant is the lowest quarter of z-space: most
    // files must be provably irrelevant from the manifest alone
    val quad = Seq(SnapshotTable.StatFilter("a", upper = Some(7L)),
      SnapshotTable.StatFilter("b", upper = Some(7L)))
    val (kept, total) = SnapshotTable.pruneFiles(spark, dir, quad)
    assert(total >= 4, s"fixture needs several files, got $total")
    assert(kept.size < total, s"quadrant must prune: kept ${kept.size} of $total")
    // EACH single dimension prunes too — the whole point of z-order
    // over a single-column sort
    Seq("a", "b").foreach { c =>
      val (k1, _) = SnapshotTable.pruneFiles(spark, dir,
        Seq(SnapshotTable.StatFilter(c, lower = Some(12L))))
      assert(k1.size < total, s"high-$c filter must prune files")
    }
    val rows = SnapshotTable.readFiltered(spark, dir, quad)
      .filter(col("a") <= 7 && col("b") <= 7)
    assert(rows.count() == 64L)
  }

  test("commitMerge upserts by key as a new version; compactHead rewrites content-neutral") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").repartition(3), dir)
    val v2 = SnapshotTable.commitMerge(
      Seq((2L, "B"), (9L, "z")).toDF("id", "v"), dir, Seq("id"))
    assert(v2 == 2L)
    def snap(ver: Option[Long]) = SnapshotTable.read(spark, dir, ver)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(snap(None) == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "z")))
    assert(snap(Some(1L)) == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "the pre-merge snapshot must stay intact")
    val before = SnapshotTable.files(spark, dir, 2L).size
    val v3 = SnapshotTable.compactHead(spark, dir, targetBytes = 64L * 1024 * 1024)
    assert(v3 == 3L && SnapshotTable.files(spark, dir, 3L).size == 1)
    assert(before >= 1)
    assert(snap(None) == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "z")),
      "OPTIMIZE must not change a row")
    // DELETE by key: survivors only at the head, pre-delete snapshot intact
    val v4 = SnapshotTable.commitDelete(
      Seq(2L, 9L, 777L).toDF("id"), dir, Seq("id"))
    assert(v4 == 4L)
    assert(snap(None) == Seq((1L, "a"), (3L, "c")),
      "deleted keys must be gone (absent keys are a no-op)")
    assert(snap(Some(3L)) == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "z")),
      "the pre-delete snapshot must remain time-travelable")
  }

  test("additive schema evolution: a widened batch unions in, old rows read null") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), dir)
    SnapshotTable.commitAppend(
      Seq((2L, "b", 7L)).toDF("id", "v", "extra"), dir)
    val head = SnapshotTable.read(spark, dir)
    assert(head.columns.toSeq == Seq("id", "v", "extra"))
    assert(head.collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.get(2)))).sortBy(_._1).toSeq ==
      Seq((1L, "a", None), (2L, "b", Some(7L))))
    // time travel predates the widening: v1 has the narrow schema
    assert(SnapshotTable.read(spark, dir, Some(1L)).columns.toSeq == Seq("id", "v"))
  }

  test("changesBetween: appends diff at the file level; rewrites fall back to content diff") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq(1L, 2L).toDF("id"), dir)
    SnapshotTable.commitAppend(Seq(3L, 4L).toDF("id"), dir)
    def ch(a: Long, b: Long) = SnapshotTable.changesBetween(spark, dir, a, b)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    // append-only: the change set is exactly the added batch
    assert(ch(1L, 2L) == Seq((3L, "insert"), (4L, "insert")))
    // a rewriting commit (merge) forces the content diff
    val d2 = freshDir()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), d2)
    SnapshotTable.commitMerge(Seq((2L, "B"), (9L, "z")).toDF("id", "v"), d2, Seq("id"))
    val got = SnapshotTable.changesBetween(spark, d2, 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((2L, "B", "insert"), (9L, "z", "insert"), (2L, "b", "delete")))
    intercept[IllegalArgumentException] {
      SnapshotTable.changesBetween(spark, d2, 2L, 2L)
    }
  }

  test("bloom_agg + probe round-trip: grouped build across partitions, members always hit") {
    // >1 shuffle partition forces partial-aggregate merges of the
    // bloom buffers; every member must probe positive afterwards
    val bytes = spark.range(0, 1000, 1, 8)
      .selectExpr("id % 3 AS g", "xxhash64(cast(id AS string)) AS h")
      .groupBy("g")
      .agg(call_function("bloom_agg", col("h"), lit(400L), lit(0.01)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("b")).toMap
    assert(bytes.keySet == Set(0L, 1L, 2L))
    bytes.foreach { case (g, b) =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(b))
      val misses = spark.range(0, 1000).filter(col("id") % 3 === g)
        .selectExpr("xxhash64(cast(id AS string)) AS h").as[Long].collect()
        .count(h => !bf.mightContainLong(h))
      assert(misses == 0, s"group $g: a bloom may never false-negative a member")
    }
  }

  test("manifest blooms prune point lookups where min/max stats cannot (hash-clustered keys)") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      (0L until 200L).toDF("id").repartition(8, col("id")), dir,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val total = SnapshotTable.files(spark, dir, 1L).size
    assert(total >= 4, s"fixture needs several files, got $total")
    // hash clustering defeats range stats: a narrow range keeps ALL files
    assert(SnapshotTable.pruneFiles(spark, dir,
      Seq(SnapshotTable.StatFilter("id", lower = Some(50L), upper = Some(52L))))
      ._1.size == total, "every hash-clustered file spans the full range")
    // CONSERVATISM, exhaustively: for every committed key the pruned
    // read must still contain the key's row (a false negative would
    // silently drop it)
    (0L until 200L).foreach { k =>
      val got = SnapshotTable.readKeysFiltered(spark, dir, "id", Seq(k))
        .filter(col("id") === k).count()
      assert(got == 1L, s"bloom pruning lost key $k")
    }
    // EFFECTIVENESS: a present key keeps strictly fewer than all
    // files, and an absent key keeps (almost) none — both decided
    // from the manifest alone (blooms are deterministic on this
    // fixed data, so these are stable asserts, not flakes)
    val (kept, t) = SnapshotTable.pruneFilesByKeys(spark, dir, "id", Seq(7L))
    assert(kept.size < t, s"point lookup must prune: kept ${kept.size} of $t")
    val (keptAbsent, _) = SnapshotTable.pruneFilesByKeys(spark, dir, "id", Seq(987654L))
    assert(keptAbsent.size < t,
      "an absent key must be bloom-excluded from (nearly) every file")
    // the empty-prune path keeps the schema
    if (keptAbsent.isEmpty)
      assert(SnapshotTable.readKeysFiltered(spark, dir, "id", Seq(987654L)).count() == 0)
  }

  test("MERGE/DELETE candidate scans are bloom-bounded: a bloom-negative file is never opened") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v").repartition(6, col("id")),
      dir, statsCols = Seq("id"), bloomCols = Seq("id"))
    val before = SnapshotTable.files(spark, dir, 1L)
    assert(before.size >= 4)
    // pick a delta key and a file whose bloom EXCLUDES it, then make
    // that file unreadable: if the merge consults blooms, the file is
    // carried by reference and never opened; without them the
    // candidate scan (stats keep everything here) would crash on it
    val key = 42L
    val (cands, _) = SnapshotTable.pruneFilesByKeys(spark, dir, "id", Seq(key))
    val negative = before.filterNot(cands.contains)
    assert(negative.nonEmpty, "fixture needs a bloom-negative file")
    val victim = negative.head
    val victimPath = java.nio.file.Paths.get(dir, victim)
    val original = java.nio.file.Files.readAllBytes(victimPath)
    java.nio.file.Files.write(victimPath, "not parquet".getBytes)
    val v2 = SnapshotTable.commitMerge(
      Seq((key, "X"), (1000L, "new")).toDF("id", "v"), dir, Seq("id"))
    assert(SnapshotTable.files(spark, dir, v2).contains(victim),
      "the unopened file must carry forward by reference")
    // DELETE takes the same bloom-bounded path
    val v3 = SnapshotTable.commitDelete(Seq(1000L).toDF("id"), dir, Seq("id"))
    assert(SnapshotTable.files(spark, dir, v3).contains(victim))
    // restore the bytes and prove the merge applied exactly
    java.nio.file.Files.write(victimPath, original)
    val got = SnapshotTable.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val want = (0L until 100L).map(i => (i, if (i == key) "X" else s"v$i")).sortBy(_._1)
    assert(got == want, "bloom narrowing must not change merge/delete semantics")
  }

  test("bloom declaration is sticky; pre-declaration files stay conservatively unpruned") {
    val dir = freshDir()
    // v1 predates the declaration: its entries carry no blooms
    SnapshotTable.commitAppend((0L until 50L).toDF("id").coalesce(1), dir)
    SnapshotTable.commitAppend((50L until 100L).toDF("id").coalesce(1), dir,
      bloomCols = Seq("id"))
    val m = SnapshotTable.readManifest(spark, dir, 2L)
    assert(m.bloomCols == Seq("id"))
    val (old, fresh) = m.entries.partition(_.blooms.isEmpty)
    assert(old.size == 1 && fresh.size == 1,
      "v1's entry has no bloom; v2's batch must compute one without redeclaration...")
    // ...wait: v2's batch was committed WITH the declaration; v3's
    // must inherit it with no bloomCols argument at all
    SnapshotTable.commitAppend((100L until 150L).toDF("id").coalesce(1), dir)
    val m3 = SnapshotTable.readManifest(spark, dir, 3L)
    assert(m3.entries.count(_.blooms.contains("id")) == 2,
      "the sticky declaration must bloom every post-declaration batch")
    // a key in the pre-declaration file: that file always survives
    val (kept, _) = SnapshotTable.pruneFilesByKeys(spark, dir, "id", Seq(7L))
    assert(kept.contains(old.head.path),
      "a file without a bloom must never be pruned by a key probe")
    // a key in the newest file: the other bloomed file is excluded,
    // the no-bloom file still survives (conservative)
    val (kept2, _) = SnapshotTable.pruneFilesByKeys(spark, dir, "id", Seq(120L))
    assert(kept2.contains(old.head.path) && !kept2.contains(fresh.head.path))
  }

  test("big blooms spill to sidecar files; the manifest stays a metadata read") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      spark.range(0, 120000).toDF("id").repartition(2, col("id")), dir,
      bloomCols = Seq("id"))
    // a 60k-key bloom is ~72 KB > the 64 KB inline cap: the metadata
    // (manifest + its entry segments) must carry the marker, never
    // megabytes of base64
    val metaFiles = new java.io.File(s"$dir/_manifests").listFiles()
      .filter(f => f.getName == "v1.json" || f.getName.startsWith("seg-"))
    val meta = metaFiles.map(f => new String(
      java.nio.file.Files.readAllBytes(f.toPath))).mkString
    assert(meta.contains("@sidecar"), "big blooms must not inline")
    metaFiles.foreach(f => assert(f.length < 64 * 1024,
      s"${f.getName} bloated to ${f.length} bytes"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_blooms")))
    // probes resolve through the sidecar: members kept, absentees pruned
    val (kept, total) = SnapshotTable.pruneFilesByKeys(spark, dir, "id", Seq(7L))
    assert(total == 2 && kept.nonEmpty)
    val (keptAbs, _) = SnapshotTable.pruneFilesByKeys(spark, dir, "id", Seq(99999999L))
    assert(keptAbs.size < total, "an absent key must be bloom-excluded")
    assert(SnapshotTable.readKeysFiltered(spark, dir, "id", Seq(7L))
      .filter(col("id") === 7L).count() == 1)
    // a key-bounded MERGE carries the untouched file's sidecar BY
    // REFERENCE: same derived path, bytes untouched
    val before = SnapshotTable.files(spark, dir, 1L)
    val v2 = SnapshotTable.commitMerge(Seq(7L).toDF("id"), dir, Seq("id"))
    val after = SnapshotTable.files(spark, dir, v2)
    val untouched = before.filter(after.contains)
    assert(untouched.nonEmpty, "the 7-free file must carry forward")
    untouched.foreach { p =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_blooms", p.split('/')(0),
          p.split('/')(1) + ".id.bloom")))
    }
    assert(SnapshotTable.readKeysFiltered(spark, dir, "id", Seq(7L))
      .filter(col("id") === 7L).count() == 1)
    // vacuum kills the replaced file's sidecars with it
    val replaced = before.filterNot(after.contains)
    SnapshotTable.vacuum(spark, dir, keepVersions = 1)
    replaced.foreach { p =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_blooms", p.split('/')(0),
          p.split('/')(1) + ".id.bloom")),
        s"vacuum must drop dead sidecar for $p")
    }
    untouched.foreach { p =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_blooms", p.split('/')(0),
          p.split('/')(1) + ".id.bloom")),
        "vacuum must keep live sidecars")
    }
  }

  test("vacuumOlderThan: ages out old versions but never the head; epoch-0 is a no-op") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq(1L).toDF("id"), dir)
    SnapshotTable.commitAppend(Seq(2L).toDF("id"), dir)
    SnapshotTable.commitAppend(Seq(3L).toDF("id"), dir)
    assert(SnapshotTable.vacuumOlderThan(spark, dir, 0L) == 0,
      "nothing predates the epoch — retention must be a no-op")
    assert(SnapshotTable.versions(spark, dir) == Seq(1L, 2L, 3L))
    // everything is older than the far future, but the HEAD survives
    SnapshotTable.vacuumOlderThan(spark, dir, Long.MaxValue)
    assert(SnapshotTable.versions(spark, dir) == Seq(3L))
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(1L, 2L, 3L),
      "the head's contents must survive any retention policy")
  }

  test("readWhere: prunable conjuncts prune, the rest filter; answers always exact") {
    // range-clustered with stats: range conjuncts prune at file level
    val rdir = freshDir()
    SnapshotTable.commitAppend(
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(8, col("id")),
      rdir, statsCols = Seq("id"))
    val total = SnapshotTable.files(spark, rdir, 1L).size
    val r1 = SnapshotTable.readWhere(spark, rdir,
      col("id") >= 150L && col("id") < 160L && col("v").isNotNull)
    assert(r1.inputFiles.length < total, "range conjuncts must prune files")
    assert(r1.select("id").as[Long].collect().sorted.toSeq == (150L until 160L))
    // mirrored literal-first comparison decomposes too
    val r2 = SnapshotTable.readWhere(spark, rdir, lit(25L) > col("id"))
    assert(r2.inputFiles.length < total)
    assert(r2.count() == 25L)
    // strict bounds stay strict at ROW level even though the file
    // test is inclusive
    assert(SnapshotTable.readWhere(spark, rdir, col("id") > 199L).count() == 0L)
    // a non-decomposable predicate prunes nothing but answers exactly
    val r3 = SnapshotTable.readWhere(spark, rdir,
      col("id") % 7L === 3L || col("v") === "v0")
    assert(r3.inputFiles.length == total)
    assert(r3.count() == (0L until 200L).count(i => i % 7 == 3 || i == 0))
    // hash-clustered with blooms: equality prunes through the bloom
    val bdir = freshDir()
    SnapshotTable.commitAppend(
      (0L until 200L).toDF("id").repartition(8, col("id")), bdir,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val btotal = SnapshotTable.files(spark, bdir, 1L).size
    val b1 = SnapshotTable.readWhere(spark, bdir, col("id") === 42L)
    assert(b1.inputFiles.length < btotal, "equality must prune through the bloom")
    assert(b1.as[Long].collect().toSeq == Seq(42L))
    // DATE ranges canonicalize to the stored ISO form: a month filter
    // over date-clustered files prunes and answers exactly
    val ddir = freshDir()
    SnapshotTable.commitAppend(
      (1 to 120).map(i => (i.toLong,
          java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i - 1))))
        .toDF("id", "d").repartitionByRange(4, col("d")),
      ddir, statsCols = Seq("d"))
    val d1 = SnapshotTable.readWhere(spark, ddir,
      col("d") >= lit(java.sql.Date.valueOf("2024-03-01")) &&
        col("d") < lit(java.sql.Date.valueOf("2024-04-01")))
    assert(d1.inputFiles.length < 4, "the date range must prune files")
    assert(d1.count() == 31L)
  }

  test("snapshotJoinIvm: delta rules equal the direct join; rewriting history refused") {
    import graft.operators.Incremental
    val rDir = freshDir(); val sDir = freshDir()
    SnapshotTable.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "rv"), rDir,
      statsCols = Seq("k"))
    SnapshotTable.commitAppend(
      Seq((1L, 10L), (1L, 11L), (3L, 30L), (9L, 90L)).toDF("k", "sv"), sDir,
      statsCols = Seq("k"))
    val oldJoin = SnapshotTable.read(spark, rDir, Some(1L))
      .join(SnapshotTable.read(spark, sDir, Some(1L)), "k")
    // both sides move: new R key 9 matches OLD S rows; new S rows
    // match OLD R key 2 AND new R key 9 (the ΔR⋈ΔS term)
    SnapshotTable.commitAppend(Seq((9L, "i")).toDF("k", "rv"), rDir)
    SnapshotTable.commitAppend(Seq((2L, 20L), (9L, 91L)).toDF("k", "sv"), sDir)
    val got = Incremental.snapshotJoinIvm(oldJoin, rDir, sDir, "k", 1L, 1L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val want = SnapshotTable.read(spark, rDir)
      .join(SnapshotTable.read(spark, sDir), "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(got == want && want.size == 6)
    // cursors at head = pure no-op (the old join IS the answer)
    val noop = Incremental.snapshotJoinIvm(
      SnapshotTable.read(spark, rDir).join(SnapshotTable.read(spark, sDir), "k"),
      rDir, sDir, "k", 2L, 2L)
    assert(noop.count() == 6)
    // a rewriting commit breaks the append-only contract LOUDLY
    SnapshotTable.commitDelete(Seq(1L).toDF("k"), rDir, Seq("k"))
    val e = intercept[IllegalArgumentException] {
      Incremental.snapshotJoinIvm(oldJoin, rDir, sDir, "k", 1L, 1L).count()
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("multi-writer ledger: same batchId from distinct appIds both land, each replays once") {
    val dir = freshDir()
    def b(app: String, id: Long, lo: Long) =
      SnapshotTable.commitStreamBatch((lo until lo + 10L).toDF("id"), dir, id, appId = app)
    assert(b("w1", 0L, 0L).isDefined)
    assert(b("w2", 0L, 100L).isDefined, "another writer's batch 0 is NOT a replay")
    assert(b("w1", 0L, 999L).isEmpty, "w1's own batch 0 IS a replay")
    assert(b("w2", 0L, 999L).isEmpty)
    assert(b("w1", 1L, 10L).isDefined)
    // the legacy numeric ledger is an independent namespace
    assert(SnapshotTable.commitStreamBatch(
      (200L until 210L).toDF("id"), dir, 0L).isDefined)
    assert(SnapshotTable.commitStreamBatch(
      (999L until 1009L).toDF("id"), dir, 0L).isEmpty)
    val got = SnapshotTable.read(spark, dir).as[Long].collect().sorted.toSeq
    assert(got == ((0L until 20L) ++ (100L until 110L) ++ (200L until 210L)).sorted)
    // both ledgers ride compaction — still exactly-once after OPTIMIZE
    SnapshotTable.compactHead(spark, dir, targetBytes = 1L << 20)
    assert(b("w2", 0L, 999L).isEmpty)
    assert(SnapshotTable.commitStreamBatch(
      (999L until 1009L).toDF("id"), dir, 0L).isEmpty)
    // the key separator cannot be smuggled into an appId
    intercept[IllegalArgumentException] { b("a:b", 9L, 0L) }
  }

  test("countRowsWhere: covered files answer rows−nulls from metadata; only boundary scans") {
    val dir = freshDir()
    // four range-disjoint files, each with 25 keyed rows + 5 null-key
    // rows (stats min/max ignore nulls — the null count is what makes
    // the covered-file shortcut exact)
    for (i <- 0 until 4) {
      val keyed = (i * 25L until i * 25L + 25L).map(v => (Some(v), s"v$v"))
      val nulls = (1 to 5).map(n => (Option.empty[Long], s"n$i$n"))
      SnapshotTable.commitAppend(
        (keyed ++ nulls).toDF("k", "v").coalesce(1), dir, statsCols = Seq("k"))
    }
    // [10, 60]: file0 boundary (10..24), file1 covered whole (25..49),
    // file2 boundary (50..60), file3 excluded
    // prove the covered/excluded files are never OPENED: corrupt them
    val files = SnapshotTable.files(spark, dir, 4L)
    Seq(1, 3).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, files(i)), "gone".getBytes)
    }
    val (n, covered, scanned, total) = SnapshotTable.countRowsWhere(
      spark, dir, SnapshotTable.StatFilter("k",
        lower = Some(10L), upper = Some(60L)))
    assert((n, covered, scanned, total) == ((15L + 25L + 11L, 1, 2, 4)),
      s"got ($n, $covered, $scanned, $total)")
    // a fully-aligned range is zero-scan
    val (n2, c2, s2, _) = SnapshotTable.countRowsWhere(
      spark, dir, SnapshotTable.StatFilter("k",
        lower = Some(25L), upper = Some(49L)))
    assert((n2, c2, s2) == ((25L, 1, 0)))
    // unbounded = IS NOT NULL semantics, all from metadata
    val (n3, _, s3, _) = SnapshotTable.countRowsWhere(
      spark, dir, SnapshotTable.StatFilter("k"))
    assert(n3 == 100L && s3 == 0)
  }

  test("sumWhere: covered files sum from stored metadata; fractional columns fall back") {
    val dir = freshDir()
    for (i <- 0 until 3) {
      val rows = (i * 10L until i * 10L + 10L).map(v => (v, v * 0.5))
      SnapshotTable.commitAppend(rows.toDF("k", "x").coalesce(1), dir,
        statsCols = Seq("k", "x"))
    }
    // [10,19] aligns with file 1 exactly; corrupt it — its sum must
    // come from the manifest, never a scan
    val f1 = SnapshotTable.files(spark, dir, 3L)(1)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, f1), "gone".getBytes)
    val (sm, covered, scanned, _) = SnapshotTable.sumWhere(
      spark, dir, SnapshotTable.StatFilter("k",
        lower = Some(10L), upper = Some(19L)))
    assert(sm.longValueExact == (10L until 20L).sum && covered == 1 && scanned == 0)
    // a partially-covering range scans only the boundary file
    val (sm2, c2, s2, _) = SnapshotTable.sumWhere(
      spark, dir, SnapshotTable.StatFilter("k",
        lower = Some(10L), upper = Some(25L)))
    assert(sm2.longValueExact == (10L until 26L).sum && c2 == 1 && s2 == 1)
    // fractional columns record NO per-file sum (a distributed double
    // sum is order-dependent) — covered files fall back to the scan,
    // exactness preserved; the corrupt file makes the fallback LOUD
    intercept[Throwable] {
      SnapshotTable.sumWhere(spark, dir, SnapshotTable.StatFilter("x",
        lower = Some(5.0), upper = Some(9.5)))._1
    }
  }

  test("readWhere prunes IS NULL through the recorded null counts") {
    val dir = freshDir()
    // only file 1 holds null keys; files 0 and 2 record nulls == 0
    for (i <- 0 until 3) {
      val keyed = (i * 10L until i * 10L + 10L).map(v => (Some(v), s"v$v"))
      val rows = if (i == 1) keyed ++ Seq((Option.empty[Long], "missing1"),
        (Option.empty[Long], "missing2")) else keyed
      SnapshotTable.commitAppend(rows.toDF("k", "v").coalesce(1), dir,
        statsCols = Seq("k"))
    }
    val r = SnapshotTable.readWhere(spark, dir, col("k").isNull)
    assert(r.inputFiles.length == 1, "zero-null files must be pruned")
    assert(r.count() == 2L)
    // composes with a residual conjunct
    val r2 = SnapshotTable.readWhere(spark, dir,
      col("k").isNull && col("v") === "missing1")
    assert(r2.inputFiles.length == 1 && r2.count() == 1L)
  }

  test("countRows/statExtremes answer from the manifest alone — every data file corrupt") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4, col("id")),
      dir, statsCols = Seq("id"))
    SnapshotTable.commitAppend(
      (100L until 150L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      dir, statsCols = Seq("id"))
    // destroy the DATA; the metadata aggregates must not notice
    SnapshotTable.files(spark, dir, 2L).foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, p), "gone".getBytes)
    }
    assert(SnapshotTable.countRows(spark, dir) == 150L)
    assert(SnapshotTable.countRows(spark, dir, Some(1L)) == 100L)
    val (mn, mx) = SnapshotTable.statExtremes(spark, dir, "id")
    assert(mn.asInstanceOf[java.math.BigDecimal].longValueExact == 0L)
    assert(mx.asInstanceOf[java.math.BigDecimal].longValueExact == 149L)
    val (_, mx1) = SnapshotTable.statExtremes(spark, dir, "id", Some(1L))
    assert(mx1.asInstanceOf[java.math.BigDecimal].longValueExact == 99L)
    // a column without universal stats is a loud refusal
    intercept[IllegalArgumentException] {
      SnapshotTable.statExtremes(spark, dir, "v")
    }
    // the plain read DOES die on the corrupt files — the aggregates
    // really did come from metadata, not a lucky cache
    intercept[Throwable] { SnapshotTable.read(spark, dir).count() }
  }

  test("bloom keys: strings and dates canonicalize; fractional types are refused loudly") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      Seq(("alpha", "2024-01-05"), ("beta", "2024-02-20")).toDF("name", "d")
        .withColumn("d", col("d").cast("date")).repartition(2, col("name")),
      dir, bloomCols = Seq("name", "d"))
    val (k1, t1) = SnapshotTable.pruneFilesByKeys(spark, dir, "name", Seq("alpha"))
    assert(k1.nonEmpty && k1.size <= t1)
    assert(SnapshotTable.readKeysFiltered(spark, dir, "name", Seq("alpha"))
      .filter(col("name") === "alpha").count() == 1)
    // java.sql.Date probes hit through the ISO canonical form
    assert(SnapshotTable.readKeysFiltered(spark, dir, "d",
        Seq(java.sql.Date.valueOf("2024-02-20")))
      .filter(col("d") === "2024-02-20").count() == 1)
    // a fractional bloom column is a declaration error, not a silent
    // wrong-hash time bomb
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitAppend(Seq(1.5, 2.5).toDF("x"), freshDir(),
        bloomCols = Seq("x"))
    }
    assert(e.getMessage.contains("unsupported type"))
    // and an unsupported probe VALUE fails loudly too
    intercept[IllegalArgumentException] {
      SnapshotTable.pruneFilesByKeys(spark, dir, "name", Seq(1.5))
    }
  }

  test("readers compose as plain parquet scans: filters push down") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      (1L to 100L).toDF("id").withColumn("grp", col("id") % 4), dir)
    val q = SnapshotTable.read(spark, dir).filter(col("id") > 90)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)"),
      s"manifest reads must keep parquet pushdown:\n$plan")
    assert(q.count() == 10)
  }

  test("groupCounts: single-group files answer from metadata; mixed files scan; exact always") {
    val dir = freshDir()
    // file 1: one group, no nulls — pure metadata
    SnapshotTable.commitAppend(
      Seq.fill(5)("a").toDF("grp").coalesce(1), dir, statsCols = Seq("grp"))
    // file 2: one group PLUS nulls — metadata answers both the group
    // and the NULL group (rows − nulls / nulls)
    SnapshotTable.commitAppend(
      (Seq.fill(3)(Some("b")) ++ Seq.fill(2)(Option.empty[String]))
        .toDF("grp").coalesce(1), dir)
    // file 3: mixed groups — must scan
    SnapshotTable.commitAppend(
      Seq("a", "c", "c").toDF("grp").coalesce(1), dir)
    val (out, metaFiles, scannedFiles, total) =
      SnapshotTable.groupCounts(spark, dir, "grp")
    assert((metaFiles, scannedFiles, total) == (2, 1, 3))
    val got = out.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got == Map(Some("a") -> 6L, Some("b") -> 3L, Some("c") -> 2L, None -> 2L))
    // numeric group columns cast back through the canonical decimal form
    val nd = freshDir()
    SnapshotTable.commitAppend(Seq(7L, 7L).toDF("g").coalesce(1), nd,
      statsCols = Seq("g"))
    val (nout, nm, ns, _) = SnapshotTable.groupCounts(spark, nd, "g")
    assert((nm, ns) == (1, 0))
    assert(nout.as[(Long, Long)].collect().toSeq == Seq((7L, 2L)))
    // pending MoR deletes make per-file stats physical — refuse
    SnapshotTable.commitDeleteMoR(Seq("a").toDF("grp"), dir, Seq("grp"))
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.groupCounts(spark, dir, "grp")
    }.getMessage.contains("pending"))
  }

  test("merge-on-read DELETE: zero data files touched; applyDeletes folds file-granularly") {
    val dir = freshDir()
    // hash-clustered on id: a scattered key set touches every file,
    // so a COW delete would rewrite the whole table — exactly the
    // layout MoR deletes exist for
    SnapshotTable.commitAppend(
      (1L to 100L).toDF("id").repartition(4, col("id")),
      dir, statsCols = Seq("id"), bloomCols = Seq("id"))
    val before = SnapshotTable.files(spark, dir, 1L)
    val v2 = SnapshotTable.commitDeleteMoR(
      (1L to 100L by 10).toDF("id"), dir, Seq("id"))
    assert(v2 == 2L)
    assert(SnapshotTable.files(spark, dir, 2L) == before,
      "a MoR delete must touch ZERO data files")
    assert(SnapshotTable.pendingDeletes(spark, dir) ==
      Seq((Seq("id"), 2L, 10L)))
    val expect = (1L to 100L).filterNot(k => (k - 1) % 10 == 0)
    assert(ids(SnapshotTable.read(spark, dir)) == expect,
      "the head must read the logical rows (deletes anti-joined out)")
    assert(ids(SnapshotTable.read(spark, dir, Some(1L))) == (1L to 100L),
      "time travel to v1 must predate the delete")
    // filtered readers apply deletes too
    assert(!ids(SnapshotTable.readKeysFiltered(spark, dir, "id", Seq(11L, 12L)))
      .contains(11L))
    assert(ids(SnapshotTable.readWhere(spark, dir, col("id") <= 12L)) ==
      Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 12L))
    // metadata fast paths refuse rather than overcount
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.countRows(spark, dir)
    }.getMessage.contains("pending"))
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.statExtremes(spark, dir, "id")
    }.getMessage.contains("pending"))
    // applyDeletes: folds in, clears the list, restores the fast path
    val v3 = SnapshotTable.applyDeletes(spark, dir)
    assert(v3 == 3L)
    assert(SnapshotTable.pendingDeletes(spark, dir).isEmpty)
    assert(ids(SnapshotTable.read(spark, dir)) == expect)
    assert(SnapshotTable.countRows(spark, dir) == 90L)
    assert(SnapshotTable.applyDeletes(spark, dir) == 3L,
      "applyDeletes with nothing pending is a no-op, not an empty commit")
  }

  test("MoR delete is sequence-scoped: a later re-insert of a deleted key survives") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir,
      statsCols = Seq("id"))
    SnapshotTable.commitDeleteMoR(Seq(2L).toDF("id"), dir, Seq("id"))
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(1L, 3L))
    // a merge AFTER the delete re-inserts key 2: its file carries a
    // higher seq than the delete, so the pending delete must not
    // retro-apply — and the upsert target is the LOGICAL rows, so the
    // physically-present deleted row is not resurrected as an update
    SnapshotTable.commitMerge(Seq((2L, "revived")).toDF("id", "v"), dir, Seq("id"))
    val head = SnapshotTable.read(spark, dir)
    assert(head.filter(col("id") === 2L).select("v").as[String].collect()
      .toSeq == Seq("revived"))
    assert(ids(head) == Seq(1L, 2L, 3L))
    // folding keeps the revived row
    SnapshotTable.applyDeletes(spark, dir)
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(1L, 2L, 3L))
    assert(SnapshotTable.read(spark, dir)
      .filter(col("id") === 2L).select("v").as[String].collect()
      .toSeq == Seq("revived"))
  }

  test("commitRenameColumn: metadata-only; reads, pruning, aggregates, merges follow the new name") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      (1L to 100L).toDF("id").repartitionByRange(4, col("id")),
      dir, statsCols = Seq("id"), bloomCols = Seq("id"))
    val v1Files = SnapshotTable.files(spark, dir, 1L)
    assert(SnapshotTable.commitRenameColumn(spark, dir, "id", "record_id") == 2L)
    assert(SnapshotTable.files(spark, dir, 2L) == v1Files,
      "a rename must touch zero data files")
    // the head surfaces the new name with the old values
    val head = SnapshotTable.read(spark, dir)
    assert(head.columns.toSeq == Seq("record_id"))
    assert(head.select("record_id").as[Long].collect().sorted.toSeq == (1L to 100L))
    // time travel BEFORE the rename keeps the original name
    assert(SnapshotTable.read(spark, dir, Some(1L)).columns.toSeq == Seq("id"))
    // planning-time pruning on the NEW name over OLD files: stats,
    // blooms, and range classification all map through the history
    val (kept, total) = SnapshotTable.pruneFilesByKeys(spark, dir, "record_id", Seq(7L))
    assert(kept.size < total, s"pruning must keep working: ${kept.size} of $total")
    assert(SnapshotTable.readKeysFiltered(spark, dir, "record_id", Seq(7L))
      .filter(col("record_id") === 7L).count() == 1)
    assert(SnapshotTable.statExtremes(spark, dir, "record_id") ==
      (java.math.BigDecimal.valueOf(1), java.math.BigDecimal.valueOf(100)))
    val (n, covered, _, _) = SnapshotTable.countRowsWhere(
      spark, dir, SnapshotTable.StatFilter("record_id",
        lower = Some(1L), upper = Some(50L)))
    assert(n == 50 && covered > 0)
    // MERGE on the new name: only the touched file rewrites, and the
    // rewritten file carries the new name physically
    SnapshotTable.commitMerge(Seq(101L).toDF("record_id"), dir, Seq("record_id"))
    assert(SnapshotTable.read(spark, dir).count() == 101)
    // a rename CHAIN composes
    SnapshotTable.commitRenameColumn(spark, dir, "record_id", "rid")
    assert(SnapshotTable.read(spark, dir).columns.toSeq == Seq("rid"))
    assert(SnapshotTable.readKeysFiltered(spark, dir, "rid", Seq(7L))
      .filter(col("rid") === 7L).count() == 1)
    // guards: absent source, shadowing target
    intercept[IllegalArgumentException] {
      SnapshotTable.commitRenameColumn(spark, dir, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commitRenameColumn(spark, dir, "rid", "rid")
    }
  }

  test("renames and MoR deletes interleave: delete keys map through their commit-time names") {
    val dir = freshDir()
    SnapshotTable.commitAppend((1L to 10L).toDF("id"), dir, statsCols = Seq("id"))
    SnapshotTable.commitDeleteMoR(Seq(3L).toDF("id"), dir, Seq("id"))
    SnapshotTable.commitRenameColumn(spark, dir, "id", "rid")
    SnapshotTable.commitDeleteMoR(Seq(5L).toDF("rid"), dir, Seq("rid"))
    def got() = SnapshotTable.read(spark, dir)
      .select("rid").as[Long].collect().sorted.toSeq
    assert(got() == Seq(1L, 2L, 4L, 6L, 7L, 8L, 9L, 10L),
      "both deletes must apply, each under its own commit-time name")
    // the fold normalizes: rewritten files carry the current name
    SnapshotTable.applyDeletes(spark, dir)
    assert(got() == Seq(1L, 2L, 4L, 6L, 7L, 8L, 9L, 10L))
    assert(SnapshotTable.pendingDeletes(spark, dir).isEmpty)
    // CDC across the rename refuses loudly — schema, not rows — and
    // the path classifier names it without reading data
    assert(SnapshotTable.changesPath(spark, dir, 2L, 3L) == "schema-evolution")
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.changesBetween(spark, dir, 2L, 3L)
    }.getMessage.contains("rename"))
    // clone refuses while files are still subject to a rename...
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.cloneTable(spark, dir, freshDir())
    }.getMessage.contains("rename"))
    // ...and works after a rewrite normalizes them
    SnapshotTable.compactHead(spark, dir, targetBytes = 1L << 30)
    val dst = freshDir()
    SnapshotTable.cloneTable(spark, dir, dst)
    assert(SnapshotTable.read(spark, dst).columns.toSeq == Seq("rid"))
  }

  test("restore past a rename reverts the stat declarations with it; renamed read adds no exchange") {
    val dir = freshDir()
    SnapshotTable.commitAppend((1L to 20L).toDF("id"), dir, statsCols = Seq("id"))
    SnapshotTable.commitRenameColumn(spark, dir, "id", "rid")
    // declarations follow the rename forward...
    SnapshotTable.commitAppend(Seq(21L).toDF("rid"), dir, statsCols = Seq("rid"))
    // ...and revert with a restore past it (future commits must not
    // record stats under a name the restored schema lacks)
    SnapshotTable.restore(spark, dir, 1L)
    assert(SnapshotTable.read(spark, dir).columns.toSeq == Seq("id"))
    SnapshotTable.commitAppend(Seq(22L).toDF("id"), dir)
    assert(SnapshotTable.statExtremes(spark, dir, "id") ==
      (java.math.BigDecimal.valueOf(1), java.math.BigDecimal.valueOf(22)))
    // the renamed read is plan-level only: same exchange count as a
    // plain scan (withColumnRenamed + union never add a shuffle)
    val d2 = freshDir()
    SnapshotTable.commitAppend((1L to 20L).toDF("id"), d2)
    val before = SnapshotTable.read(spark, d2)
      .queryExecution.executedPlan.toString
    SnapshotTable.commitRenameColumn(spark, d2, "id", "rid")
    val after = SnapshotTable.read(spark, d2)
      .queryExecution.executedPlan.toString
    def exchanges(p: String) = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges(after) == exchanges(before),
      s"a renamed read must not add an exchange:\n$after")
  }

  test("commitDropColumn: metadata-only erasure; a re-added name never resurfaces old values") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), dir, statsCols = Seq("id", "v"))
    val v1Files = SnapshotTable.files(spark, dir, 1L)
    assert(SnapshotTable.commitDropColumn(spark, dir, "v") == 2L)
    assert(SnapshotTable.files(spark, dir, 2L) == v1Files,
      "a drop must touch zero data files")
    assert(SnapshotTable.read(spark, dir).columns.toSeq == Seq("id"))
    // time travel before the drop still sees the column
    assert(SnapshotTable.read(spark, dir, Some(1L)).columns.toSeq == Seq("id", "v"))
    // re-adding the name is a FRESH generation: old rows read null
    // under it, the erased values never resurface
    SnapshotTable.commitAppend(Seq((3L, 777L)).toDF("id", "v"), dir)
    val head = SnapshotTable.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
    assert(head.toSeq == Seq((1L, None), (2L, None), (3L, Some(777L))))
    // ...and the old generation's STATS never serve the new name
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.statExtremes(spark, dir, "v")
    }.getMessage.contains("missing"))
    // guards: absent column; a pending MoR delete keyed on the column
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDropColumn(spark, dir, "nope")
    }
    SnapshotTable.commitDeleteMoR(Seq(2L).toDF("id"), dir, Seq("id"))
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.commitDropColumn(spark, dir, "id")
    }.getMessage.contains("applyDeletes"))
    SnapshotTable.applyDeletes(spark, dir)
    // a rewrite (the fold) physically shed nothing here — but drop
    // after fold is now legal and the logical read follows
    SnapshotTable.commitDropColumn(spark, dir, "id")
    assert(SnapshotTable.read(spark, dir).columns.toSeq == Seq("v"))
  }

  test("groupSums: stored sums answer single-group files; group-col nulls force the scan") {
    val dir = freshDir()
    // file 1: one group, no group nulls, stored sum → metadata (5+7=12)
    SnapshotTable.commitAppend(
      Seq(("a", 5L), ("a", 7L)).toDF("grp", "v").coalesce(1), dir,
      statsCols = Seq("grp", "v"))
    // file 2: single-group BUT a group-col null — the file total
    // can't split between 'b' and the NULL group → must scan
    SnapshotTable.commitAppend(
      Seq((Some("b"), 10L), (None, 100L)).toDF("grp", "v").coalesce(1), dir)
    // file 3: mixed groups → scans
    SnapshotTable.commitAppend(
      Seq(("a", 1L), ("c", 2L)).toDF("grp", "v").coalesce(1), dir)
    val (out, meta, scanned, total) = SnapshotTable.groupSums(spark, dir, "grp", "v")
    assert((meta, scanned, total) == (1, 2, 3))
    val got = out.collect()
      .map(r => Option(r.getString(0)) -> r.getDecimal(1).longValueExact).toMap
    assert(got == Map(Some("a") -> 13L, Some("b") -> 10L, Some("c") -> 2L,
      None -> 100L))
    // null sum values count as zero contribution, never poison
    val nd = freshDir()
    SnapshotTable.commitAppend(
      Seq(("x", Some(4L)), ("x", Option.empty[Long])).toDF("grp", "v").coalesce(1),
      nd, statsCols = Seq("grp", "v"))
    val (nout, _, _, _) = SnapshotTable.groupSums(spark, nd, "grp", "v")
    assert(nout.collect().map(r =>
      r.getString(0) -> r.getDecimal(1).longValueExact).toMap == Map("x" -> 4L))
  }

  test("gcOrphans: sweeps unreferenced batch files, honors grace, leaves live + delete frames") {
    val dir = freshDir()
    SnapshotTable.commitAppend((1L to 10L).toDF("id"), dir,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    SnapshotTable.commitDeleteMoR(Seq(3L).toDF("id"), dir, Seq("id"))
    val live = SnapshotTable.files(spark, dir, 1L)
    // fabricate two orphans: a full batch dir and a stray file
    spark.range(5).toDF("id").coalesce(1).write.parquet(s"$dir/batch-dead")
    spark.range(5).toDF("id").coalesce(1).write.parquet(s"$dir/delete-dead")
    // an infinite grace protects everything (the in-flight-writer case)
    assert(SnapshotTable.gcOrphans(spark, dir, graceMs = Long.MaxValue) == 0)
    val n = SnapshotTable.gcOrphans(spark, dir, graceMs = 0L)
    assert(n >= 2, s"both orphans must die, got $n")
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).toSet
    assert(!names.contains("batch-dead") && !names.contains("delete-dead"))
    // live data AND the referenced MoR delete key frame survive
    assert(SnapshotTable.files(spark, dir, 1L) == live)
    assert(ids(SnapshotTable.read(spark, dir)) ==
      (1L to 10L).filterNot(_ == 3L))
    // idempotent: nothing left to sweep
    assert(SnapshotTable.gcOrphans(spark, dir, graceMs = 0L) == 0)
  }

  test("tags: atomic create, loud re-tag refusal, delete, vacuumed tag fails at resolve") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq(1L, 2L).toDF("id"), dir)
    SnapshotTable.commitOverwrite(Seq(3L).toDF("id"), dir)
    SnapshotTable.createTag(spark, dir, "baseline", 1L)
    assert(SnapshotTable.tagVersion(spark, dir, "baseline") == 1L)
    assert(ids(SnapshotTable.readTag(spark, dir, "baseline")) == Seq(1L, 2L))
    // a taken name never repoints silently
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.createTag(spark, dir, "baseline", 2L)
    }.getMessage.contains("already exists"))
    assert(SnapshotTable.tagVersion(spark, dir, "baseline") == 1L)
    // tagging an absent version refuses
    intercept[Exception] { SnapshotTable.createTag(spark, dir, "nope", 9L) }
    // bad names refuse
    intercept[IllegalArgumentException] {
      SnapshotTable.createTag(spark, dir, "bad name", 1L)
    }
    // tags are references, not retention: vacuum past the tag, then
    // the read fails loudly at resolve — never a silent wrong answer
    SnapshotTable.vacuum(spark, dir, keepVersions = 1)
    intercept[Exception] { SnapshotTable.readTag(spark, dir, "baseline") }
    SnapshotTable.deleteTag(spark, dir, "baseline")
    intercept[IllegalArgumentException] {
      SnapshotTable.tagVersion(spark, dir, "baseline")
    }
  }

  test("clusteringDepth: hand-computed overlap depths; touching bounds count as overlap") {
    val dir = freshDir()
    // three files with ranges [1,10], [5,20], [30,40] → max depth 2
    SnapshotTable.commitAppend(Seq(1L, 10L).toDF("id").coalesce(1), dir,
      statsCols = Seq("id"))
    SnapshotTable.commitAppend(Seq(5L, 20L).toDF("id").coalesce(1), dir)
    SnapshotTable.commitAppend(Seq(30L, 40L).toDF("id").coalesce(1), dir)
    assert(SnapshotTable.clusteringDepth(spark, dir, "id") == (2, 3, 0))
    // touching at a closed bound IS overlap: [30,40] + [40,50] → 2
    SnapshotTable.commitAppend(Seq(40L, 50L).toDF("id").coalesce(1), dir)
    val (d, t, u) = SnapshotTable.clusteringDepth(spark, dir, "id")
    assert((d, t, u) == (2, 4, 0))
    // a stats-free file counts as untracked, not silently pruned
    val nd = freshDir()
    SnapshotTable.commitAppend(Seq(1L).toDF("id").coalesce(1), nd) // no statsCols
    assert(SnapshotTable.clusteringDepth(spark, nd, "id") == (0, 1, 1))
  }

  test("cloneTable: zero-copy fork, COW divergence, vacuum never touches externals") {
    val src = freshDir()
    SnapshotTable.commitAppend(
      (1L to 100L).toDF("id").repartitionByRange(4, col("id")),
      src, statsCols = Seq("id"), bloomCols = Seq("id"))
    val dst = freshDir()
    assert(SnapshotTable.cloneTable(spark, src, dst) == 1L)
    // zero data copied: the clone dir holds only manifests (+ sidecars)
    val f = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = f.listStatus(new org.apache.hadoop.fs.Path(dst))
      .map(_.getPath.getName).toSet
    assert(!dirs.exists(_.startsWith("batch-")),
      s"a shallow clone must copy no data: $dirs")
    assert(ids(SnapshotTable.read(spark, dst)) == (1L to 100L))
    // stats pruning works through external references
    val (kept, total) = SnapshotTable.pruneFilesByKeys(spark, dst, "id", Seq(7L))
    assert(kept.size < total)
    // COW divergence: a merge on the clone rewrites only touched
    // entries locally; the source is untouched
    SnapshotTable.commitMerge(Seq(101L).toDF("id"), dst, Seq("id"))
    SnapshotTable.commitDelete(Seq(7L).toDF("id"), dst, Seq("id"))
    assert(ids(SnapshotTable.read(spark, dst)) ==
      ((1L to 100L).filterNot(_ == 7L) :+ 101L))
    assert(ids(SnapshotTable.read(spark, src)) == (1L to 100L),
      "the source must never see the clone's writes")
    assert(SnapshotTable.versions(spark, src) == Seq(1L))
    // clone's vacuum drops its own aged rewrites but never an external
    SnapshotTable.vacuum(spark, dst, keepVersions = 1)
    assert(ids(SnapshotTable.read(spark, dst)) ==
      ((1L to 100L).filterNot(_ == 7L) :+ 101L))
    assert(ids(SnapshotTable.read(spark, src)) == (1L to 100L))
    // pending MoR deletes refuse to transplant
    val src2 = freshDir()
    SnapshotTable.commitAppend((1L to 5L).toDF("id"), src2)
    SnapshotTable.commitDeleteMoR(Seq(2L).toDF("id"), src2, Seq("id"))
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.cloneTable(spark, src2, freshDir())
    }.getMessage.contains("applyDeletes"))
    // a MoR delete ON the clone applies to carried externals (seq 0)
    SnapshotTable.commitDeleteMoR(Seq(50L).toDF("id"), dst, Seq("id"))
    assert(!ids(SnapshotTable.read(spark, dst)).contains(50L))
  }

  test("publishClone: write-audit-publish — atomic fast-forward, optimistic abort, self-contained result") {
    // stage: clone → diverge (append + COW delete) → publish
    val src = freshDir()
    SnapshotTable.commitAppend(
      (1L to 100L).toDF("id").repartitionByRange(4, col("id")),
      src, statsCols = Seq("id"))
    val stage = freshDir()
    SnapshotTable.cloneTable(spark, src, stage)
    SnapshotTable.commitAppend(Seq(201L, 202L).toDF("id"), stage)
    SnapshotTable.commitDelete(Seq(7L).toDF("id"), stage, Seq("id"))
    val staged = ids(SnapshotTable.read(spark, stage))
    val pv = SnapshotTable.publishClone(spark, stage, src)
    assert(pv == 2L)
    assert(ids(SnapshotTable.read(spark, src)) == staged,
      "publish must land the exact audited census")
    // staging is consumed: tombstoned, and sweeping its carcass can
    // never break the published table (staged files were MOVED)
    assert(SnapshotTable.isDropped(spark, stage))
    val stageParent = new java.io.File(stage).getParent
    SnapshotTable.gcDroppedTables(spark, stageParent, graceMs = 0L)
    assert(!new java.io.File(stage).exists())
    assert(ids(SnapshotTable.read(spark, src)) == staged,
      "the published table must be self-contained after the carcass sweep")
    // stats pruning survives the publish (entries re-relativized/moved)
    val (kept, total) = SnapshotTable.pruneFiles(spark, src,
      Seq(SnapshotTable.StatFilter("id", upper = Some(10L))))
    assert(kept.size < total)

    // optimistic abort: a commit landing on the source after the clone
    // makes publish refuse loudly, and the staging table is untouched
    val src2 = freshDir()
    SnapshotTable.commitAppend((1L to 10L).toDF("id"), src2)
    val stage2 = freshDir()
    SnapshotTable.cloneTable(spark, src2, stage2)
    SnapshotTable.commitAppend(Seq(99L).toDF("id"), stage2)
    SnapshotTable.commitAppend(Seq(11L).toDF("id"), src2) // concurrent
    val before = ids(SnapshotTable.read(spark, stage2))
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.publishClone(spark, stage2, src2)
    }.getMessage.contains("re-clone"))
    assert(ids(SnapshotTable.read(spark, stage2)) == before,
      "a refused publish must leave staging intact")
    assert(ids(SnapshotTable.read(spark, src2)) == (1L to 11L))

    // a table with no clone provenance refuses
    val plain = freshDir()
    SnapshotTable.commitAppend(Seq(1L).toDF("id"), plain)
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.publishClone(spark, plain, src2)
    }.getMessage.contains("provenance"))

    // a clone of a CLONE references a third tree — not ours to move
    val a = freshDir(); val b = freshDir(); val c = freshDir()
    SnapshotTable.commitAppend(Seq(1L, 2L).toDF("id"), a)
    SnapshotTable.cloneTable(spark, a, b)
    SnapshotTable.cloneTable(spark, b, c)
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.publishClone(spark, c, b)
    }.getMessage.contains("localize"))
  }

  test("commitStreamDeleteMoR: ledger-keyed exactly-once; re-insert after retraction survives the fold") {
    val dir = freshDir()
    SnapshotTable.commitAppend((1L to 10L).toDF("id"), dir, statsCols = Seq("id"))
    assert(SnapshotTable.commitStreamDeleteMoR(
      Seq(3L).toDF("id"), dir, Seq("id"), batchId = 0).contains(2L))
    // replay of the same (appId, batchId) no-ops — and writes nothing
    // (no new delete-* dir appears)
    val before = SnapshotTable.pendingDeletes(spark, dir)
    assert(SnapshotTable.commitStreamDeleteMoR(
      Seq(3L).toDF("id"), dir, Seq("id"), batchId = 0).isEmpty)
    assert(SnapshotTable.pendingDeletes(spark, dir) == before)
    // a DIFFERENT writer's batch 0 is its own ledger scope
    assert(SnapshotTable.commitStreamDeleteMoR(
      Seq(5L).toDF("id"), dir, Seq("id"), batchId = 0, appId = "other").contains(3L))
    // a merge AFTER the retraction re-inserts key 3 at a higher seq —
    // pending deletes must not retro-apply, and folding keeps it
    SnapshotTable.commitMerge(Seq(3L).toDF("id"), dir, Seq("id"))
    SnapshotTable.applyDeletes(spark, dir)
    assert(SnapshotTable.pendingDeletes(spark, dir).isEmpty)
    assert(ids(SnapshotTable.read(spark, dir)) ==
      Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L, 10L))
  }

  test("changesBetween MoR fast path: delta-bounded deletes, double-retraction once, polarity") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      (1L to 100L).toDF("id").repartitionByRange(4, col("id")),
      dir, statsCols = Seq("id"), bloomCols = Seq("id"))
    SnapshotTable.commitDeleteMoR(Seq(3L, 7L).toDF("id"), dir, Seq("id"))
    SnapshotTable.commitDeleteMoR(Seq(7L, 11L, 999L).toDF("id"), dir, Seq("id"))
    assert(SnapshotTable.changesPath(spark, dir, 1L, 3L) == "mor-delete")
    assert(SnapshotTable.changesPath(spark, dir, 2L, 3L) == "mor-delete")
    // across both deletes: 7 reported ONCE (first retraction), 999
    // never (matched nothing)
    val ch = SnapshotTable.changesBetween(spark, dir, 1L, 3L)
    assert(ch.filter(col("_change") =!= "delete").isEmpty)
    assert(ids(ch) == Seq(3L, 7L, 11L))
    // from v2 (3,7 already gone): only 11 remains to retract
    assert(ids(SnapshotTable.changesBetween(spark, dir, 2L, 3L)) == Seq(11L))
    // a re-insert AFTER the deletes breaks the identical-file-set
    // precondition — falls back to the content diff and stays exact
    SnapshotTable.commitMerge(Seq(7L).toDF("id"), dir, Seq("id"))
    assert(SnapshotTable.changesPath(spark, dir, 3L, 4L) == "content-diff")
    assert(ids(SnapshotTable.changesBetween(spark, dir, 3L, 4L)
      .filter(col("_change") === "insert")) == Seq(7L))
  }

  test("applyDeletes is file-granular; CDC across a MoR delete never reads as no-changes") {
    val dir = freshDir()
    // range-clustered: the delete keys live entirely in one file
    SnapshotTable.commitAppend(
      (1L to 100L).toDF("id").repartitionByRange(4, col("id")),
      dir, statsCols = Seq("id"))
    val before = SnapshotTable.files(spark, dir, 1L)
    SnapshotTable.commitDeleteMoR(Seq(1L, 2L, 3L).toDF("id"), dir, Seq("id"))
    // ff ⊆ tf here (no data file changed) — the append fast path
    // would wrongly report "no changes"; the delete-list extension
    // routes to the delta-bounded MoR path instead
    assert(SnapshotTable.changesPath(spark, dir, 1L, 2L) == "mor-delete")
    val ch = SnapshotTable.changesBetween(spark, dir, 1L, 2L)
    assert(ch.filter(col("_change") === "delete").select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(ch.filter(col("_change") === "insert").isEmpty)
    val v3 = SnapshotTable.applyDeletes(spark, dir)
    val after = SnapshotTable.files(spark, dir, v3)
    assert(before.toSet.intersect(after.toSet).size == before.size - 1,
      "only the one file holding the doomed keys may be rewritten")
    assert(ids(SnapshotTable.read(spark, dir)) == (4L to 100L))
    // the delete key file stays readable for time travel until vacuum
    assert(ids(SnapshotTable.read(spark, dir, Some(2L))) == (4L to 100L))
    SnapshotTable.vacuum(spark, dir, keepVersions = 1)
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, dir, Some(2L))
    }
  }

  /** One-shot race injector: fires `body` on the FIRST publish attempt
    * only, restoring the no-op hook afterwards (ADVICE r12 closures —
    * deterministic lost races instead of thread timing). */
  private def withRace[T](body: => Unit)(run: => T): T = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    SnapshotTable.testRaceHook = () =>
      if (fired.compareAndSet(false, true)) body
    try run finally SnapshotTable.testRaceHook = () => ()
  }

  private def idRows(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
    ids.map(i => (i, i * 10)).toDF("id", "v").coalesce(1)

  /** Parquet files under `dir` (relative) that no manifest names. */
  private def unreferenced(dir: String): Set[String] = {
    val named = SnapshotTable.versions(spark, dir).flatMap { v =>
      val m = SnapshotTable.readManifest(spark, dir, v)
      m.entries.map(_.path) ++ m.deletes.flatMap(_.paths)
    }.toSet
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.map(p => root.relativize(p).toString)
      .filter(_.endsWith(".parquet")).toSet -- named
    finally walk.close()
  }

  /** Stage `ids` as executor-written parquet under `dir/name`. */
  private def stageFiles(dir: String, name: String, ids: Seq[Long]): Seq[String] = {
    idRows(ids).write.parquet(s"$dir/$name")
    new java.io.File(s"$dir/$name").listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(n => s"$name/$n").toSeq
  }

  /** The race matrix's default table: ids 0..4 and 5..9 in two
    * files, stats on id. */
  private def twoFiles(dir: String): Unit = {
    SnapshotTable.commitAppend(idRows(0L until 5L), dir, statsCols = Seq("id"))
    SnapshotTable.commitAppend(idRows(5L until 10L), dir)
  }

  /** One retrying op of the race matrix: `setup` builds the table, `op`
    * runs the op and returns its version, `expected` is the head's id
    * set once the racer's rows (100, 101) landed first. */
  private case class RaceCase(
      name: String, op: String => Long, expected: Set[Long],
      setup: String => Unit = twoFiles)

  private val base = (0L until 10L).toSet
  private val racer = Set(100L, 101L)

  private val raceCases = Seq(
    RaceCase("append", SnapshotTable.commitAppend(idRows(Seq(20L)), _), base ++ racer + 20L),
    RaceCase("overwrite", SnapshotTable.commitOverwrite(idRows(Seq(20L)), _), Set(20L)),
    RaceCase("stream batch", dir => SnapshotTable.commitStreamBatch(
      idRows(Seq(20L)), dir, batchId = 0L, appId = "w").get, base ++ racer + 20L),
    RaceCase("restore", SnapshotTable.restore(spark, _, 1L), (0L until 5L).toSet),
    RaceCase("rename", SnapshotTable.commitRenameColumn(spark, _, "v", "w"), base ++ racer),
    RaceCase("drop", SnapshotTable.commitDropColumn(spark, _, "v"), base ++ racer),
    RaceCase("add column", SnapshotTable.commitAddColumn(
      spark, _, "x", org.apache.spark.sql.types.LongType), base ++ racer),
    RaceCase("compactSmallFiles",
      SnapshotTable.compactSmallFiles(spark, _, 1L << 30, 1L << 30), base ++ racer),
    RaceCase("compactWhere",
      SnapshotTable.compactWhere(spark, _, col("id") <= 9L, 1L << 30, 1L << 30)._1,
      base ++ racer),
    RaceCase("compactBucketsSmallFiles",
      SnapshotTable.compactBucketsSmallFiles(spark, _, 1L << 30, 1L << 30, ("id", 2)),
      base ++ racer,
      setup = dir => Seq(0L until 5L, 5L until 10L).foreach(ids =>
        SnapshotTable.commitAppend(idRows(ids).repartition(2, col("id")), dir,
          bucket = Some(("id", 2))))),
    RaceCase("merge", SnapshotTable.commitMerge(idRows(Seq(3L, 30L)), _, Seq("id")),
      base ++ racer + 30L),
    RaceCase("copy-on-write delete",
      SnapshotTable.commitDelete(Seq(3L).toDF("id"), _, Seq("id")), base ++ racer - 3L),
    RaceCase("metadata-only delete", SnapshotTable.deleteFilesWhere(spark, _,
      SnapshotTable.PredRange("id", None, Some((4L, true)))), (5L until 10L).toSet ++ racer),
    RaceCase("replace where", SnapshotTable.commitReplaceWhere(idRows(Seq(40L)), _,
      Some(SnapshotTable.PredRange("id", None, Some((4L, true)))), col("id") <= 4L),
      (5L until 10L).toSet ++ racer + 40L),
    RaceCase("dynamic overwrite", dir => SnapshotTable.commitReplacePartitions(spark, dir,
      stageFiles(dir, "staged-dpo", Seq(41L)),
      Some(SnapshotTable.PredRange("id", None, Some((4L, true)))), col("id") <= 4L),
      (5L until 10L).toSet ++ racer + 41L),
    RaceCase("stream sink files", dir => SnapshotTable.commitStreamFiles(spark, dir,
      stageFiles(dir, "staged-sink", Seq(42L)), batchId = 1L, appId = "sink").get,
      base ++ racer + 42L),
    RaceCase("merge-on-read delete",
      SnapshotTable.commitDeleteMoR(Seq(3L).toDF("id"), _, Seq("id")), base ++ racer - 3L),
    RaceCase("stream upsert", dir => SnapshotTable.commitStreamUpsertMoR(
      idRows(Seq(3L, 43L)), dir, Seq("id"), batchId = 0L).get, base ++ racer + 43L),
    RaceCase("stream upsert files", dir => SnapshotTable.commitStreamUpsertFiles(spark, dir,
      stageFiles(dir, "staged-up", Seq(3L, 44L)), Seq("id"), batchId = 0L, appId = "up").get,
      base ++ racer + 44L),
    RaceCase("DV delete",
      SnapshotTable.commitDeleteVectorsWhere(spark, _, col("id") === 4L), base ++ racer - 4L),
    RaceCase("DV update", SnapshotTable.commitUpdateVectorsWhere(spark, _, col("id") === 4L,
      Map("v" -> lit(-4L))), base ++ racer),
    RaceCase("applyDeletes", SnapshotTable.applyDeletes(spark, _), base ++ racer - 3L,
      setup = dir => {
        twoFiles(dir)
        SnapshotTable.commitDeleteMoR(Seq(3L).toDF("id"), dir, Seq("id"))
      }))

  test("race matrix: every retrying op loses one race to an append and republishes cleanly") {
    raceCases.foreach { c =>
      val dir = freshDir()
      c.setup(dir)
      val head = SnapshotTable.versions(spark, dir).last
      val v = withRace(SnapshotTable.commitAppend(idRows(racer.toSeq.sorted), dir))(c.op(dir))
      assert(v == head + 2, s"${c.name}: committed v$v, expected v${head + 2}")
      assert(ids(SnapshotTable.read(spark, dir)).toSet == c.expected &&
        SnapshotTable.read(spark, dir).count() == c.expected.size,
        s"${c.name}: head rows ${ids(SnapshotTable.read(spark, dir))}")
      assert(unreferenced(dir).isEmpty,
        s"${c.name}: the lost attempt left files behind: ${unreferenced(dir)}")
    }
  }

  test("race matrix: stream commits racing a RENAME fail loudly, as declared") {
    Seq[(String, String => Any)](
      "stream upsert" -> (dir => SnapshotTable.commitStreamUpsertMoR(
        idRows(Seq(3L, 43L)), dir, Seq("id"), batchId = 0L)),
      "stream sink files" -> (dir => SnapshotTable.commitStreamFiles(spark, dir,
        stageFiles(dir, "staged-sink", Seq(42L)), batchId = 1L, appId = "sink"))
    ).foreach { case (name, op) =>
      val dir = freshDir()
      SnapshotTable.commitAppend(idRows(0L until 5L), dir)
      val boom = intercept[IllegalArgumentException] {
        withRace(SnapshotTable.commitRenameColumn(spark, dir, "v", "w"))(op(dir))
      }
      assert(boom.getMessage.contains("raced a"), s"$name: ${boom.getMessage}")
    }
  }

  test("a lost race to a commit that declares a new stats column republishes entries with its stat") {
    // the racer widens the table's declarations; every op's new entries
    // must carry the racer's column stat, not the stale first-head set
    Seq[(String, String => Long)](
      "append" -> (dir => SnapshotTable.commitAppend(idRows(Seq(20L)), dir)),
      "stream sink files" -> (dir => SnapshotTable.commitStreamFiles(spark, dir,
        stageFiles(dir, "staged-sink", Seq(42L)), batchId = 1L, appId = "sink").get),
      "stream upsert" -> (dir => SnapshotTable.commitStreamUpsertMoR(
        idRows(Seq(43L)), dir, Seq("id"), batchId = 0L).get),
      "DV update" -> (dir => SnapshotTable.commitUpdateVectorsWhere(spark, dir,
        col("id") === 4L, Map("v" -> lit(-4L))))
    ).foreach { case (name, op) =>
      val dir = freshDir()
      SnapshotTable.commitAppend(idRows(0L until 5L), dir, statsCols = Seq("id"))
      val v = withRace(SnapshotTable.commitAppend(
        idRows(racer.toSeq.sorted), dir, statsCols = Seq("v")))(op(dir))
      val m = SnapshotTable.readManifest(spark, dir, v)
      assert(m.statsCols.toSet == Set("id", "v"), s"$name: ${m.statsCols}")
      val fresh = m.entries.filter(_.seq == v)
      assert(fresh.nonEmpty && fresh.forall(_.stats.contains("v")),
        s"$name: new entries lack the racer's stat column: ${fresh.map(_.stats.keySet)}")
    }
  }

  test("an append that loses a race to a RENAME rewrites its batch under the current name (ADVICE r11)") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      Seq((1L, "a")).toDF("id", "v"), dir, statsCols = Seq("id"))
    // the racer commits v→val AFTER our batch files are written but
    // BEFORE our publish: published as-is our files would carry seq >
    // rename.seq under the OLD name and read back as a null-padded
    // extra column
    val v = withRace {
      SnapshotTable.commitRenameColumn(spark, dir, "v", "val")
    } {
      SnapshotTable.commitAppend(Seq((2L, "b")).toDF("id", "v"), dir)
    }
    assert(v == 3L, "the lost race must republish on the renamed head")
    val head = SnapshotTable.read(spark, dir)
    assert(head.columns.toSeq.sorted == Seq("id", "val"),
      s"no stale null-padded column may surface: ${head.columns.toSeq}")
    assert(head.select("id", "val").as[(Long, String)].collect().sortBy(_._1).toSeq
      == Seq((1L, "a"), (2L, "b")))
  }

  test("a MoR delete that loses a race to a RENAME of its key column remaps the key files (ADVICE r11)") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      Seq((1L, "x"), (2L, "y")).toDF("id", "v"), dir)
    val v = withRace {
      SnapshotTable.commitRenameColumn(spark, dir, "id", "key")
    } {
      SnapshotTable.commitDeleteMoR(Seq(2L).toDF("id"), dir, Seq("id"))
    }
    assert(v == 3L)
    // the delete must keep applying under the renamed schema — the
    // pre-fix bug recorded keyCols under the stale name with seq AFTER
    // the rename, so the anti join silently stopped (the GDPR path)
    assert(SnapshotTable.pendingDeletes(spark, dir).head._1 == Seq("key"),
      "the recorded key columns must be the CURRENT names")
    assert(SnapshotTable.read(spark, dir).select("key").as[Long].collect().toSeq
      == Seq(1L), "the retraction must apply after the racing rename")
    // and it still applies after the fold
    SnapshotTable.applyDeletes(spark, dir)
    assert(SnapshotTable.read(spark, dir).select("key").as[Long].collect().toSeq
      == Seq(1L))
  }

  test("a MoR delete that loses a race to a DROP of its key column fails loudly") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), dir)
    val boom = intercept[IllegalArgumentException] {
      withRace { SnapshotTable.commitDropColumn(spark, dir, "id") } {
        SnapshotTable.commitDeleteMoR(Seq(2L).toDF("id"), dir, Seq("id"))
      }
    }
    assert(boom.getMessage.contains("raced a DROP"), boom.getMessage)
  }

  test("two stream writers racing the SAME batch key: exactly one appends (ADVICE r11)") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq(0L).toDF("id"), dir)
    // the racer commits (appId=w, batchId=5) between our pre-check and
    // our publish — the in-loop ledger recheck must no-op our commit
    val out = withRace {
      assert(SnapshotTable.commitStreamBatch(
        Seq(1L).toDF("id"), dir, batchId = 5L, appId = "w").nonEmpty)
    } {
      SnapshotTable.commitStreamBatch(
        Seq(1L).toDF("id"), dir, batchId = 5L, appId = "w")
    }
    assert(out.isEmpty, "the loser must recognize the replay, not duplicate")
    assert(ids(SnapshotTable.read(spark, dir)) == Seq(0L, 1L),
      "the batch must land EXACTLY once")
  }

  test("sumWhere/groupSums refuse non-integral sum columns loudly (ADVICE r11)") {
    val dir = freshDir()
    SnapshotTable.commitAppend(
      Seq((1L, 0.4), (2L, 0.4), (3L, 0.4)).toDF("id", "x"), dir,
      statsCols = Seq("id", "x"))
    // boundary scan forced: the id range splits the single file
    val boom = intercept[IllegalArgumentException] {
      SnapshotTable.sumWhere(spark, dir,
        SnapshotTable.StatFilter("x", lower = Some(0.1), upper = Some(0.41)))
    }
    assert(boom.getMessage.contains("INTEGRAL"), boom.getMessage)
    val boom2 = intercept[IllegalArgumentException] {
      SnapshotTable.groupSums(spark, dir, "id", "x")
    }
    assert(boom2.getMessage.contains("INTEGRAL"), boom2.getMessage)
  }

  test("readWhere prunes (not just answers) on a shallow CLONE's absolute entries (ADVICE r11)") {
    val src = freshDir()
    // two range-disjoint files so pruning has something to drop
    SnapshotTable.commitAppend(
      (0L until 10L).toDF("id"), src, statsCols = Seq("id"))
    SnapshotTable.commitAppend((10L until 20L).toDF("id"), src)
    val dst = freshDir()
    SnapshotTable.cloneTable(spark, src, dst)
    val df = SnapshotTable.readWhere(spark, dst, col("id") < 5L)
    assert(df.as[Long].collect().sorted.toSeq == (0L until 5L))
    // the pre-fix schema probe threw on the absolute path inside its
    // Try and silently disabled ALL pruning — prove the pruned scan
    // reads strictly fewer files than the clone names
    val scanned = df.inputFiles.length
    val total = SnapshotTable.files(spark, dst, 1L).size
    assert(scanned < total,
      s"clone readWhere must PRUNE: scanned $scanned of $total files")
  }

  test("readWhere prune lattice: OR unions branch prunes, LIKE-prefix prunes as a range, unprunable branches fail open") {
    val dir = freshDir()
    // four range-disjoint id files; names clustered with the ids
    Seq(("apple", 0L), ("melon", 25L), ("peach", 50L), ("zebra", 75L))
      .foreach { case (n, base) =>
        SnapshotTable.commitAppend(
          (base until base + 25L).map(i => (i, s"$n$i")).toDF("id", "nm")
            .coalesce(1),
          dir, statsCols = Seq("id", "nm"))
      }
    def total = SnapshotTable.files(spark, dir, 4L).size
    // OR of two outer bands: union of the branch prunes = 2 of 4 files
    val or = SnapshotTable.readWhere(spark, dir,
      col("id") < 10L || col("id") >= 90L)
    assert(or.inputFiles.length == 2, s"OR must union branch prunes: ${or.inputFiles.length} of $total")
    assert(or.select("id").as[Long].collect().sorted.toSeq ==
      ((0L until 10L) ++ (90L until 100L)))
    // LIKE-prefix: [prefix, successor] range over the name stats
    val pre = SnapshotTable.readWhere(spark, dir, col("nm").startsWith("me"))
    assert(pre.inputFiles.length == 1, s"prefix must prune: ${pre.inputFiles.length} of $total")
    assert(pre.count() == 25L)
    // an OR with an UNPRUNABLE branch prunes nothing but answers right
    val open = SnapshotTable.readWhere(spark, dir,
      col("id") < 10L || col("nm").contains("5"))
    assert(open.inputFiles.length == total, "unprunable branch must fail open")
    assert(open.count() ==
      (0L until 100L).count(i => i < 10L || s"x$i".contains("5")).toLong)
    // AND nested under OR still prunes: each branch intersects
    val nested = SnapshotTable.readWhere(spark, dir,
      (col("id") >= 0L && col("id") < 10L) || (col("nm").startsWith("ze")))
    assert(nested.inputFiles.length == 2)
    assert(nested.count() == 35L)
    // != prunes SINGLE-VALUE files: commit one, exclude it by ≠
    SnapshotTable.commitAppend(
      Seq((100L, "same"), (101L, "same")).toDF("id", "nm").coalesce(1), dir)
    val ne = SnapshotTable.readWhere(spark, dir, col("nm") =!= "same")
    assert(ne.inputFiles.length == 4,
      s"the single-value file must prune under !=: ${ne.inputFiles.length}")
    assert(ne.count() == 100L)
    // null-safe equality prunes like equality for a non-null literal
    val nse = SnapshotTable.readWhere(spark, dir, col("id") <=> 5L)
    assert(nse.inputFiles.length == 1)
    assert(nse.count() == 1L)
  }

  test("segmented manifests: an append rewrites ZERO prior segment bytes and O(delta) manifest bytes") {
    val dir = freshDir()
    def segFiles(): Map[String, Array[Byte]] =
      new java.io.File(s"$dir/_manifests").listFiles()
        .filter(_.getName.startsWith("seg-"))
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath)).toMap
    def manifestBytes(v: Long): Long =
      new java.io.File(s"$dir/_manifests/v$v.json").length()
    SnapshotTable.commitAppend(
      (0L until 50L).toDF("id"), dir, statsCols = Seq("id"))
    val after1 = segFiles()
    SnapshotTable.commitAppend((50L until 51L).toDF("id"), dir)
    val after2 = segFiles()
    // every v1 segment file is carried BYTE-IDENTICAL; the append adds
    // exactly one new segment holding only the delta
    after1.foreach { case (n, bytes) =>
      assert(after2.contains(n), s"prior segment $n must be carried by name")
      assert(java.util.Arrays.equals(after2(n), bytes),
        s"prior segment $n must be carried byte-identical")
    }
    assert(after2.size == after1.size + 1,
      "one append = one new segment, prior segments untouched")
    // manifest bytes are O(delta): v2's manifest does not grow with
    // the 50-file v1 table (it names segments instead of inlining
    // entries); allow generous slack for the name list
    assert(manifestBytes(2L) < manifestBytes(1L) + 200,
      s"v2 manifest (${manifestBytes(2L)}B) must not re-inline v1's entries (${manifestBytes(1L)}B)")
    // reads see the union through the segments
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 51L))
    // a metadata-only commit (rename) carries EVERY segment by name
    SnapshotTable.commitRenameColumn(spark, dir, "id", "key")
    assert(segFiles().keySet == after2.keySet,
      "a metadata-only commit must write no segment at all")
    // vacuum drops segments only dropped manifests name
    SnapshotTable.commitOverwrite(Seq(99L).toDF("key"), dir)
    SnapshotTable.vacuum(spark, dir, keepVersions = 1)
    assert(segFiles().keySet.intersect(after2.keySet).isEmpty,
      "segments referenced only by vacuumed manifests must be deleted")
    assert(spark.read.parquet(s"$dir/${SnapshotTable.files(spark, dir,
      SnapshotTable.versions(spark, dir).last).head}").count() == 1L)
  }

  test("segmented manifests: a COW merge rewrites ONLY segments that lose an entry") {
    val dir = freshDir()
    // four appends = four segments over range-disjoint id files
    Seq(0L until 25L, 25L until 50L, 50L until 75L, 75L until 100L).foreach { r =>
      SnapshotTable.commitAppend(
        r.map(i => (i, s"v$i")).toDF("id", "pay").coalesce(1),
        dir, statsCols = Seq("id"))
    }
    // the segments a VERSION references (old segment files stay on
    // disk for time travel — liveness is the manifest's, not the
    // directory's)
    def segsOf(v: Long): Seq[String] =
      SnapshotTable.readManifest(spark, dir, v).segments.map(_.name)
    def bytes(n: String): Array[Byte] = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifests/$n"))
    val before = segsOf(4L).map(n => n -> bytes(n)).toMap
    assert(before.size == 4)
    // the delta touches ONLY segment 2's key range
    SnapshotTable.commitMerge(
      Seq((30L, "updated")).toDF("id", "pay"), dir, Seq("id"))
    val after = segsOf(5L)
    val carried = before.keySet.intersect(after.toSet)
    assert(carried.size == 3 && after.size == 4,
      s"three untouched segments must carry by name + one rewrite: $carried")
    carried.foreach(n => assert(
      java.util.Arrays.equals(bytes(n), before(n)),
      s"carried segment $n must be byte-identical"))
    // merged contents exact
    assert(SnapshotTable.read(spark, dir)
      .filter(col("id") === 30L).select("pay").head().getString(0) == "updated")
    assert(SnapshotTable.read(spark, dir).count() == 100L)
  }

  test("WriterLedger: contiguous ids fold into the watermark; out-of-order ids stay exact") {
    import graft.sources.SnapshotTable.WriterLedger
    var w = WriterLedger()
    (0L to 100L).foreach(id => w = w.add(id))
    assert(w.hwm == 100L && w.recent.isEmpty,
      s"contiguous commits must collapse to ONE watermark: $w")
    // out-of-order: a gap holds the watermark, recent carries the rest
    w = w.add(105L)
    assert(w.hwm == 100L && w.recent == Set(105L))
    assert(w.contains(105L) && !w.contains(103L))
    // the gap filling in advances the watermark through recent
    Seq(101L, 102L, 103L, 104L).foreach(id => w = w.add(id))
    assert(w.hwm == 105L && w.recent.isEmpty, s"gap fill must advance: $w")
    // replay detection
    assert(w.add(42L) == w, "a replayed id must not change the ledger")
    // beyond MaxRecentIds the oldest fold into the watermark (bounded
    // manifest bytes; monotone stream ids never revisit)
    var big = WriterLedger()
    (0L to 3000L by 2L).foreach(id => big = big.add(id)) // all gaps
    assert(big.recent.size <= SnapshotTable.MaxRecentIds,
      s"recent must stay bounded: ${big.recent.size}")
    assert(big.contains(3000L) && big.contains(0L))
  }

  test("the million-commit shape: ledger stays O(1) in the manifest, ids ≤ hwm read committed") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq(1L).toDF("id"), dir)
    // simulate a long-lived stream's head state directly: hwm beyond
    // the materialization guard
    val head = SnapshotTable.readManifest(spark, dir, 1L)
    assert(SnapshotTable.tryPublish(spark, dir, head.copy(version = 2L,
      ledger = SnapshotTable.Ledger(Map("" ->
        SnapshotTable.WriterLedger(hwm = 5000000L))))))
    assert(SnapshotTable.isBatchCommitted(spark, dir, 4999999L))
    assert(!SnapshotTable.isBatchCommitted(spark, dir, 5000001L))
    // the manifest carries ONE number, not five million ids
    assert(new java.io.File(s"$dir/_manifests/v2.json").length() < 4096)
    // the exact materialization refuses rather than allocating 5M ids
    val boom = intercept[IllegalArgumentException] {
      SnapshotTable.committedBatchIds(spark, dir)
    }
    assert(boom.getMessage.contains("materialize"), boom.getMessage)
  }

  test("CDC and the commit ledger are SQL TVFs: graft_table_changes / graft_table_history") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    SnapshotTable.commitAppend(Seq((3L, "c")).toDF("id", "v"), dir)
    val ch = spark.sql(s"SELECT * FROM graft_table_changes('$dir', 1, 2)")
    assert(ch.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("_change"))).toSet ==
      Set((3L, "insert")),
      "the TVF must ride the append fast path's file diff")
    val h = spark.sql(
      s"SELECT version, op_class FROM graft_table_history('$dir') ORDER BY version")
    assert(h.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "create"), (2L, "append")))
    // non-literal arguments refuse at analysis, not with a wrong plan
    val boom = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table_changes('$dir', 1, 2 + id)")
    }
    assert(boom.getMessage != null)
    // DETAIL: the one-row census from the head manifest alone
    val det = spark.sql(s"SELECT * FROM graft_table_detail('$dir')").head()
    assert(det.getAs[Long]("version") == 2L)
    assert(det.getAs[Int]("n_files") >= 2)
    assert(det.getAs[Long]("total_rows") == 3L)
    assert(det.getAs[Long]("total_bytes") > 0L,
      "entry byte recording must price the table")
  }

  test("two sinks racing the same (appId, epoch): the loser no-ops and sweeps its files, never duplicates") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq((0L, "base")).toDF("id", "v"), dir)
    def stage(name: String, rows: Seq[(Long, String)]): Seq[String] = {
      rows.toDF("id", "v").repartition(1).write.parquet(s"$dir/$name")
      new java.io.File(s"$dir/$name").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).map(n => s"$name/$n").toSeq
    }
    val winner = stage("sb-w", Seq((1L, "winner")))
    val loser = stage("sb-l", Seq((2L, "loser")))
    // the racer publishes the SAME (appId, epoch) between the loser's
    // head read and its publish — the loser must lose tryPublish,
    // re-read, find the key committed, sweep its own files, and no-op
    val res = withRace {
      assert(SnapshotTable.commitStreamFiles(
        spark, dir, winner, batchId = 5L, appId = "race").nonEmpty)
    } {
      SnapshotTable.commitStreamFiles(
        spark, dir, loser, batchId = 5L, appId = "race")
    }
    assert(res.isEmpty, "the loser must recognize the replay, not double-commit")
    val rows = SnapshotTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((0L, "base"), (1L, "winner")),
      s"exactly one of the racers' batches may land: $rows")
    assert(!new java.io.File(s"$dir/sb-l").exists(),
      "the loser's orphan batch must be swept on no-op")
  }

  test("epoch-OVERWRITE sink commits: census replaced atomically, ledger carries, racing replay no-ops") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq((0L, "old")).toDF("id", "v"), dir)
    def stage(name: String, rows: Seq[(Long, String)]): Seq[String] = {
      rows.toDF("id", "v").repartition(1).write.parquet(s"$dir/$name")
      new java.io.File(s"$dir/$name").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).map(n => s"$name/$n").toSeq
    }
    // epoch 1 (complete mode): the epoch's rows ARE the table
    assert(SnapshotTable.commitStreamFiles(spark, dir,
      stage("ow-e1", Seq((1L, "agg1"))), batchId = 1L, appId = "cw",
      overwrite = true).nonEmpty)
    assert(SnapshotTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "agg1")),
      "an overwrite epoch must replace the whole census")
    // epoch 2 replaces epoch 1
    assert(SnapshotTable.commitStreamFiles(spark, dir,
      stage("ow-e2", Seq((2L, "agg2"))), batchId = 2L, appId = "cw",
      overwrite = true).nonEmpty)
    assert(SnapshotTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((2L, "agg2")))
    // pre-overwrite versions stay time-travelable
    assert(SnapshotTable.read(spark, dir, Some(1L)).collect()
      .map(_.getString(1)).toSet == Set("old"))
    // RACE on the overwrite path: a replayed epoch 2 landing between
    // head-read and publish must lose, recognize its key, sweep, no-op
    // — never resurrect an older aggregate state over a newer one
    val replay = stage("ow-r", Seq((9L, "stale")))
    val res = withRace {
      assert(SnapshotTable.commitStreamFiles(spark, dir,
        stage("ow-e3", Seq((3L, "agg3"))), batchId = 3L, appId = "cw",
        overwrite = true).nonEmpty)
    } {
      SnapshotTable.commitStreamFiles(spark, dir, replay,
        batchId = 3L, appId = "cw", overwrite = true)
    }
    assert(res.isEmpty, "the replayed overwrite epoch must no-op")
    assert(SnapshotTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((3L, "agg3")),
      "the winner's census survives the race")
    assert(!new java.io.File(s"$dir/ow-r").exists(),
      "the loser's orphan batch must be swept on no-op")
  }

  test("streaming MoR delete replay-checks O(1): works past the materialization guard (ADVICE r12)") {
    val dir = freshDir()
    SnapshotTable.commitAppend((1L to 10L).toDF("id"), dir)
    // a long-lived retraction stream's head: watermark beyond the
    // committedStreamKeys guard — the old pre-check REFUSED here
    val head = SnapshotTable.readManifest(spark, dir, 1L)
    assert(SnapshotTable.tryPublish(spark, dir, head.copy(version = 2L,
      ledger = SnapshotTable.Ledger(Map("retract" ->
        SnapshotTable.WriterLedger(hwm = 5000000L))))))
    // a replayed batch id no-ops (point probe, no id-set allocation)
    assert(SnapshotTable.commitStreamDeleteMoR(
      Seq(3L).toDF("id"), dir, Seq("id"), batchId = 4999999L,
      appId = "retract").isEmpty)
    assert(SnapshotTable.read(spark, dir).count() == 10L,
      "a replayed retraction must not delete anything")
    // a genuinely new batch id commits the retraction
    assert(SnapshotTable.commitStreamDeleteMoR(
      Seq(3L).toDF("id"), dir, Seq("id"), batchId = 5000001L,
      appId = "retract").nonEmpty)
    assert(SnapshotTable.read(spark, dir).count() == 9L)
  }

  test("legacy streamKeys fold numerically, not lexicographically: a gap id never reads committed (ADVICE r12)") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq(1L).toDF("id"), dir)
    // hand-write a LEGACY-form v2 manifest: >MaxRecentIds stream keys,
    // contiguous except a planted gap at 1200. Lexicographic folding
    // ('app:10' < 'app:2') burned recent-set slots out of order,
    // tripped the MaxRecentIds fold mid-replay, and could advance hwm
    // PAST the gap — the never-committed id then silently no-ops.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val v1Path = new java.io.File(s"$dir/_manifests/v1.json")
    val root = mapper.readTree(v1Path)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("version", 2L)
    root.remove("ledger")
    val keys = root.putArray("streamKeys")
    (0L to 1499L).filter(_ != 1200L)
      .map(i => s"app:$i").sorted // lexicographic on disk, like legacy writers
      .foreach(keys.add)
    val out = new java.io.FileOutputStream(s"$dir/_manifests/v2.json")
    try out.write(mapper.writeValueAsBytes(root)) finally out.close()
    assert(SnapshotTable.isBatchCommitted(spark, dir, 1199L, "app"))
    assert(SnapshotTable.isBatchCommitted(spark, dir, 1499L, "app"))
    assert(!SnapshotTable.isBatchCommitted(spark, dir, 1200L, "app"),
      "the planted gap id must NOT read committed — a new batch with " +
        "this id would silently no-op as a replay")
  }

  test("string stat proofs compare in UTF-8 binary order, not UTF-16 (ADVICE r13)") {
    // U+1F600 (😀) is F0 9F 98 80 in UTF-8 but surrogate D83D DE00 in
    // UTF-16; U+E000 is EE 80 80 / E000. UTF-8 says E000 < 😀, UTF-16
    // says 😀 < E000 — a proof in the wrong order prunes a file that
    // HOLDS the matching row (or metadata-DELETEs it as none-matching).
    val dir = freshDir()
    val emoji = new String(Character.toChars(0x1F600))
    val pua = "\uE000"
    SnapshotTable.commitAppend(
      Seq((1L, pua), (2L, emoji)).toDF("id", "s").repartition(1), dir,
      statsCols = Seq("s"))
    // equality on the low end of the range: the file must survive
    val (kept, total) = SnapshotTable.pruneFiles(spark, dir,
      Seq(SnapshotTable.StatFilter("s", lower = Some(pua), upper = Some(pua))))
    assert(total == 1 && kept.size == 1,
      s"UTF-16 order would prove max('$emoji') < '$pua' and prune the file")
    // and the filtered read actually returns the row
    assert(SnapshotTable.readFiltered(spark, dir,
      Seq(SnapshotTable.StatFilter("s", lower = Some(pua), upper = Some(pua))))
      .filter(col("s") === pua).count() == 1L)
  }

  test("timestamp stat columns: epoch-micros stats prune, classify, and count from metadata") {
    val dir = freshDir()
    // four range-disjoint DAYS of hourly rows; ts is a real TIMESTAMP
    val day0 = 1700000000L // an arbitrary UTC anchor
    for (i <- 0 until 4) {
      SnapshotTable.commitAppend(
        (i * 24L until i * 24L + 24L).toDF("id")
          .withColumn("ts", timestamp_seconds(lit(day0) + col("id") * 3600L))
          .coalesce(1), dir, statsCols = Seq("ts"))
    }
    // a cutoff inside file1 (hour 30): files 2,3 provably out
    val cutoff = java.time.Instant.ofEpochSecond(day0 + 30L * 3600L)
    val (kept, total) = SnapshotTable.pruneFiles(spark, dir,
      Seq(SnapshotTable.StatFilter("ts", upper = Some(cutoff))))
    assert(total == 4 && kept.size == 2, s"kept $kept of $total")
    // java.sql.Timestamp filter values canonicalize to the same micros
    val (kept2, _) = SnapshotTable.pruneFiles(spark, dir,
      Seq(SnapshotTable.StatFilter("ts",
        upper = Some(java.sql.Timestamp.from(cutoff)))))
    assert(kept2.toSet == kept.toSet)
    // readWhere prunes through a Catalyst timestamp predicate (the
    // literal evals to micros, matching the stored canonical form):
    // strict bound -> hours 0..29
    assert(SnapshotTable.readWhere(spark, dir,
      col("ts") < lit(java.sql.Timestamp.from(cutoff))).count() == 30L)
    // classification: file0 covered (never opened), file1 boundary
    // (scanned with the ORIGINAL temporal literal, not the micros
    // canonical form), files 2,3 excluded (never opened) — prove the
    // unopened files stay unopened by corrupting them
    val files = SnapshotTable.files(spark, dir, 4L)
    Seq(0, 2, 3).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, files(i)), "gone".getBytes)
    }
    val (n, covered, scanned, tot) = SnapshotTable.countRowsWhere(
      spark, dir, SnapshotTable.StatFilter("ts", upper = Some(cutoff)))
    assert((n, covered, scanned, tot) == ((31L, 1, 1, 4)),
      s"got ($n, $covered, $scanned, $tot)") // hours 0..30 inclusive
  }
}
