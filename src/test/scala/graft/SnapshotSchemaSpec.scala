package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.sources.SnapshotTable
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Manifest-recorded file schemas: snapshot reads are planned from the
  * manifest alone (no schema-inference job), their schemas equal what
  * `mergeSchema` inference gives over the same files, and manifests
  * written before schemas were recorded still read — through a
  * driver-side footer read. */
class SnapshotSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("snap_schema").toString + "/tbl"

  private def abs(dir: String, p: String): String =
    if (p.startsWith("/")) p else s"$dir/$p"

  private def files(dir: String, v: Long): Seq[String] =
    SnapshotTable.files(spark, dir, v).map(abs(dir, _))

  private def head(dir: String): Long = SnapshotTable.versions(spark, dir).last

  /** The reference: a plain `mergeSchema` read of exactly `paths`. */
  private def plainRead(paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Same fields in the same order with the same types (and
    * nullability and metadata), and the same rows. */
  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema,
      s"$what: schema differs\n got: ${got.schema.simpleString}\nwant: ${want.schema.simpleString}")
    assert(rowsOf(got) == rowsOf(want), s"$what: rows differ")
  }

  /** Jobs submitted while `body` runs: a listener counts the jobs of a
    * job group set on this thread only, and the bus is drained before
    * the count is read. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"snapshot-schema-spec-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "plan-time job count")
    try {
      val a = body
      GraftTestBus.drain(sc)
      (a, seen.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def rows3(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, s"g${i % 3}", i * 1.5)).toDF("id", "grp", "v")

  /** v1–v2 two batches, v3 a rename, v4 a batch under the new name,
    * v5 a MoR delete, v6 a delete vector, v7 a MoR upsert — every
    * read-side complication pending at once. */
  private def pendingTable(indexed: Boolean): String = {
    val dir = freshDir()
    val idx = if (indexed) Seq("id") else Nil
    SnapshotTable.commitAppend(rows3(1L to 20L), dir, statsCols = idx, bloomCols = idx)
    SnapshotTable.commitAppend(rows3(21L to 40L), dir)
    SnapshotTable.commitRenameColumn(spark, dir, "v", "amount")
    SnapshotTable.commitAppend(rows3(41L to 50L).withColumnRenamed("v", "amount"), dir)
    SnapshotTable.commitDeleteMoR(Seq(3L, 25L, 44L).toDF("id"), dir, Seq("id"))
    SnapshotTable.commitDeleteVectorsWhere(spark, dir, col("id").between(30L, 32L))
    SnapshotTable.commitUpsertMoR(Seq((5L, "g9", -1.0), (45L, "g9", -2.0))
      .toDF("id", "grp", "amount"), dir, Seq("id"))
    assert(head(dir) == 7L)
    dir
  }

  for (indexed <- Seq(false, true))
    test(s"building reads plans zero Spark jobs with MoR deletes, DVs and a rename pending" +
        (if (indexed) " (stats + bloom on the key)" else "")) {
      val dir = pendingTable(indexed)
      val now = System.currentTimeMillis()
      val builders: Seq[(String, () => DataFrame)] = Seq(
        "read" -> (() => SnapshotTable.read(spark, dir)),
        "read v4" -> (() => SnapshotTable.read(spark, dir, Some(4L))),
        "readAsOf" -> (() => SnapshotTable.readAsOf(spark, dir, now)),
        "readWhere" -> (() => SnapshotTable.readWhere(spark, dir,
          col("id") > 10L && col("grp") === "g1")),
        "readKeysFiltered" -> (() =>
          SnapshotTable.readKeysFiltered(spark, dir, "id", Seq(5L, 26L, 45L))),
        "changesBetween append" -> (() => SnapshotTable.changesBetween(spark, dir, 1L, 2L)),
        "changesBetween DV" -> (() => SnapshotTable.changesBetween(spark, dir, 5L, 6L)),
        "changesBetween content diff" -> (() => SnapshotTable.changesBetween(spark, dir, 6L, 7L))) ++
        // the equality-delete CDC slice picks its candidate files
        // eagerly: with stats and blooms on the key that choice is a
        // key-range aggregate and a bloom probe — work, not planning
        (if (indexed) Nil else Seq("changesBetween MoR delete" ->
          (() => SnapshotTable.changesBetween(spark, dir, 4L, 5L))))
      val built = builders.map { case (name, b) =>
        val (df, jobs) = jobsDuring(b())
        assert(jobs == 0, s"building $name submitted $jobs Spark job(s)")
        name -> df
      }.toMap
      // the frames built without jobs are the right ones
      val gone = Set(3L, 25L, 44L, 30L, 31L, 32L)
      val want = (1L to 50L).filterNot(gone).map { i =>
        if (i == 5L) (i, "g9", -1.0) else if (i == 45L) (i, "g9", -2.0)
        else (i, s"g${i % 3}", i * 1.5)
      }.toDF("id", "grp", "amount")
      def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().sorted.toSeq
      assert(built("read").columns.toSeq == Seq("id", "grp", "amount"))
      assert(rowsOf(built("read")) == rowsOf(want))
      assert(rowsOf(built("readAsOf")) == rowsOf(want))
      assert(rowsOf(built("readWhere")) ==
        rowsOf(want.filter(col("id") > 10L && col("grp") === "g1")))
      assert(ids(built("readKeysFiltered").filter(col("id").isin(5L, 26L, 45L))) ==
        Seq(5L, 26L, 45L))
      assert(ids(built("changesBetween append")) == (21L to 40L))
      assert(ids(built("changesBetween DV")) == Seq(30L, 31L, 32L))
      built.get("changesBetween MoR delete").foreach(df => assert(ids(df) == Seq(3L, 25L, 44L)))
    }

  test("recorded schemas read as mergeSchema does: additive evolution across files") {
    // batch directories are random UUIDs, so the path order that fixes
    // the merged column order differs per table: check several
    (1 to 3).foreach(_ => additiveEvolution())
  }

  private def additiveEvolution(): Unit = {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "a"), dir)
    SnapshotTable.commitAppend(Seq((4L, "d", 1), (5L, "e", 2)).toDF("id", "a", "b"), dir)
    // a batch whose columns come in another order, and lacks some
    SnapshotTable.commitAppend(Seq((0.5, 6L), (1.5, 7L)).toDF("c", "id"), dir)
    SnapshotTable.commitAppend(Seq((8L, 3, true)).toDF("id", "b", "d"), dir)
    val v = head(dir)
    assertSame(SnapshotTable.read(spark, dir), plainRead(files(dir, v)), "head")
    assertSame(SnapshotTable.read(spark, dir, Some(2L)), plainRead(files(dir, 2L)), "v2")
    // a subset of the files mixing generations merges only their schemas
    val some = SnapshotTable.files(spark, dir, v).filterNot(files(dir, 2L).map(
      _.stripPrefix(dir + "/")).toSet)
    assertSame(SnapshotTable.readPaths(spark, dir, some), plainRead(some.map(abs(dir, _))),
      "files added after v2")
  }

  test("recorded schemas read as mergeSchema does: rename and drop generations") {
    val dir = freshDir()
    SnapshotTable.commitAppend((1L to 6L).map(i => (i, s"a$i", i.toInt)).toDF("id", "a", "b"), dir)
    SnapshotTable.commitRenameColumn(spark, dir, "a", "x")
    SnapshotTable.commitAppend((7L to 9L).map(i => (i, s"x$i", i.toInt)).toDF("id", "x", "b"), dir)
    SnapshotTable.commitDropColumn(spark, dir, "b")
    SnapshotTable.commitAppend((10L to 12L).map(i => (i, s"x$i", i * 10)).toDF("id", "x", "e"), dir)
    val gen0 = files(dir, 1L)
    val gen1 = files(dir, 3L).filterNot(gen0.toSet)
    val gen2 = files(dir, 5L).filterNot((gen0 ++ gen1).toSet)
    // each generation is its own mergeSchema read with the later
    // schema ops applied by hand, oldest generation first
    val want = Seq(
      plainRead(gen0).withColumnRenamed("a", "x").drop("b"),
      plainRead(gen1).drop("b"),
      plainRead(gen2)).reduce(_.unionByName(_, allowMissingColumns = true))
    assertSame(SnapshotTable.read(spark, dir), want, "rename + drop")
    assert(SnapshotTable.read(spark, dir).columns.toSeq == Seq("id", "x", "e"))
  }

  test("recorded schemas read as mergeSchema does: ADD COLUMN before and after a carrier") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "a"), dir)
    SnapshotTable.commitAddColumn(spark, dir, "n", LongType)
    assertSame(SnapshotTable.read(spark, dir),
      plainRead(files(dir, 1L)).withColumn("n", lit(null).cast(LongType)), "added, no carrier")
    SnapshotTable.commitAppend(Seq((3L, "c", 30L)).toDF("id", "a", "n"), dir)
    assertSame(SnapshotTable.read(spark, dir), plainRead(files(dir, head(dir))), "added + carrier")
  }

  /** A byte copy of a table under a new path: its segment files decode
    * from disk, not from the in-process segment cache. */
  private def coldCopy(dir: String): String = {
    val to = Paths.get(freshDir())
    val from = Paths.get(dir)
    Files.walk(from).iterator().asScala.toSeq.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    to.toString
  }

  test("recorded schemas read as mergeSchema does: shallow clone with external entries") {
    val src = freshDir()
    SnapshotTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "a"), src)
    SnapshotTable.commitAppend(Seq((3L, "c", 1.0)).toDF("id", "a", "b"), src)
    val dst = freshDir()
    SnapshotTable.cloneTable(spark, src, dst)
    SnapshotTable.commitAppend(Seq((4L, 2.0, true)).toDF("id", "b", "z"), dst)
    val v = head(dst)
    assert(SnapshotTable.files(spark, dst, v).exists(_.startsWith("/")),
      "the clone must still name the source's files externally")
    assertSame(SnapshotTable.read(spark, dst), plainRead(files(dst, v)), "clone head")
    // the clone's manifest carries every entry's schema index through
    // a cold decode
    val cold = coldCopy(dst)
    val m = SnapshotTable.readManifest(spark, cold, v)
    assert(m.entries.forall(_.schema.isDefined))
    assertSame(SnapshotTable.read(spark, cold), plainRead(files(dst, v)), "cold clone head")
  }

  /** Remove every recorded schema from a table's manifests, as a table
    * committed before schemas were recorded has none. */
  private def stripSchemas(dir: String): Unit = {
    val mapper = new ObjectMapper()
    Files.list(Paths.get(dir, "_manifests")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json")).foreach { (p: Path) =>
        val root = mapper.readTree(Files.readAllBytes(p)).asInstanceOf[ObjectNode]
        root.remove("schemas")
        Seq("entries", "deletes").flatMap(k => Option(root.get(k))).foreach { a =>
          a.asInstanceOf[ArrayNode].elements().asScala
            .foreach(_.asInstanceOf[ObjectNode].remove("schema"))
        }
        Files.write(p, mapper.writeValueAsBytes(root))
      }
  }

  test("a manifest without recorded schemas reads through footers; a missing file fails loudly") {
    val dir = freshDir()
    SnapshotTable.commitAppend(rows3(1L to 10L), dir)
    SnapshotTable.commitAppend(rows3(11L to 20L).withColumn("w", col("id") * 2), dir)
    SnapshotTable.commitDeleteMoR(Seq(2L, 12L).toDF("id"), dir, Seq("id"))
    SnapshotTable.commitUpsertMoR(rows3(Seq(3L, 13L)).withColumn("w", lit(0L)), dir, Seq("id"))
    val v = head(dir)
    val old = coldCopy(dir)
    stripSchemas(old)
    val m = SnapshotTable.readManifest(spark, old, v)
    assert(m.entries.forall(_.schema.isEmpty) && m.deletes.forall(_.schema.isEmpty),
      "the stripped manifest must decode without schemas")
    assert(SnapshotTable.read(spark, old).schema == plainRead(files(old, v)).schema)
    assertSame(SnapshotTable.read(spark, old), SnapshotTable.read(spark, dir), "stripped head")
    assertSame(SnapshotTable.changesBetween(spark, old, 2L, 3L),
      SnapshotTable.changesBetween(spark, dir, 2L, 3L), "stripped MoR-delete changes")
    // a commit on top records schemas for its own files only
    SnapshotTable.commitAppend(rows3(21L to 22L).withColumn("w", lit(1L)), old)
    val m2 = SnapshotTable.readManifest(spark, old, v + 1)
    assert(m2.entries.count(_.schema.isDefined) == m2.entries.count(_.seq == v + 1))
    assert(SnapshotTable.read(spark, old).schema == plainRead(files(old, v + 1)).schema)
    assert(SnapshotTable.read(spark, old).count() == 20L)
    // the error boundary: with no recorded schema, a missing data file
    // fails at the footer read, when the read is built
    Files.delete(Paths.get(old, m2.entries.find(_.schema.isEmpty).get.path))
    intercept[java.io.FileNotFoundException](SnapshotTable.read(spark, old))
  }

  test("a corrupt data file fails the read when it runs, not when it is built") {
    val dir = freshDir()
    SnapshotTable.commitAppend(rows3(1L to 10L), dir)
    SnapshotTable.files(spark, dir, 1L).foreach { p =>
      Files.write(Paths.get(dir, p), "gone".getBytes)
    }
    // the recorded schema builds the scan without opening a footer
    val df = SnapshotTable.read(spark, dir)
    assert(df.columns.toSeq == Seq("id", "grp", "v"))
    intercept[org.apache.spark.SparkException](df.count())
  }

  test("files whose schemas cannot merge fail the read when it is built") {
    val dir = freshDir()
    SnapshotTable.commitAppend(Seq((1L, "a")).toDF("id", "a"), dir)
    SnapshotTable.commitAppend(Seq(("2", "b")).toDF("id", "a"), dir)
    val e = intercept[org.apache.spark.SparkException](SnapshotTable.read(spark, dir))
    assert(e.getCondition == "CANNOT_MERGE_SCHEMAS", e.getMessage)
  }
}
