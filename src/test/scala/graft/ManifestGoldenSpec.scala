package graft

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.Manifest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import java.nio.charset.StandardCharsets.UTF_8

/** Pins the manifests a scripted sequence of table operations writes:
  * every commit kind, schema evolution, maintenance, restore, clone,
  * tag and vacuum. Each version's decoded manifest is rendered to text
  * and compared with `src/test/resources/snapshot_manifests.golden`.
  *
  * The rendering is normalized so it does not depend on the run:
  *  - data and delete file paths become first-seen ordinals (`f0`,
  *    `f1`, …; a clone's absolute references render as `ext:<ordinal>`);
  *  - `committedAtMs` is dropped;
  *  - a segment renders as `new` or `carried from vN`, N being the
  *    first version that named it.
  *
  * Every write lands one file per batch (inputs coalesced, one shuffle
  * partition), so entry order does not depend on directory listing
  * order. On a mismatch the actual rendering is written to
  * `target/snapshot_manifests.actual`. */
class ManifestGoldenSpec extends SparkSpec {
  import spark.implicits._

  private val GoldenResource = "/snapshot_manifests.golden"

  test("a scripted op sequence writes exactly the golden manifests") {
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val actual =
      try script()
      finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    val golden = {
      val in = getClass.getResourceAsStream(GoldenResource)
      assert(in != null, s"missing test resource $GoldenResource")
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    if (actual != golden) {
      val out = java.nio.file.Paths.get("target", "snapshot_manifests.actual")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, actual.getBytes(UTF_8))
      val (a, g) = (actual.split("\n", -1), golden.split("\n", -1))
      val i = a.indices.find(i => i >= g.length || a(i) != g(i)).getOrElse(a.length)
      fail(s"manifests differ from the golden file at line ${i + 1}:\n" +
        s"  golden: ${g.lift(i).getOrElse("<end>")}\n" +
        s"  actual: ${a.lift(i).getOrElse("<end>")}\n" +
        s"full rendering written to $out")
    }
  }

  private def rows(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, s"g${i % 3}", i * 10, s"n$i")).toDF("id", "grp", "v", "note")
      .coalesce(1)

  /** Runs the sequence; returns the rendering of every version seen. */
  private def script(): String = {
    val base = java.nio.file.Files.createTempDirectory("golden_spec").toString
    val dir = s"$base/tbl"
    val cloneDir = s"$base/clone"
    val ordinals = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val segFirst = scala.collection.mutable.HashMap.empty[String, Long]
    val out = new StringBuilder
    var rendered = Set.empty[(String, Long)]

    def path(tableDir: String, p: String): String = {
      val ext = p.startsWith("/") || p.contains("://")
      val rel = if (ext) p.substring(p.indexOf(s"$base/tbl/") + s"$base/tbl/".length) else p
      val o = ordinals.getOrElseUpdate(rel, ordinals.size)
      (if (ext) "ext:" else "") + s"f$o"
    }
    def render(label: String, tableDir: String): Unit =
      SnapshotTable.versions(spark, tableDir).filterNot(v => rendered((label, v))).foreach { v =>
        rendered += ((label, v))
        val m = SnapshotTable.readManifest(spark, tableDir, v)
        out ++= renderManifest(label, m, path(tableDir, _), segFirst)
      }
    def step(name: String)(op: => Any): Unit = {
      val r = op
      out ++= s"# $name -> $r\n"
      render("tbl", dir)
    }
    def stage(name: String, df: DataFrame): Seq[String] = {
      df.write.parquet(s"$dir/$name")
      new java.io.File(s"$dir/$name").listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).sorted.map(n => s"$name/$n").toSeq
    }

    step("append v1 with stats and blooms") {
      SnapshotTable.commitAppend(rows(0L until 20L), dir,
        statsCols = Seq("id"), bloomCols = Seq("grp"))
    }
    step("append") { SnapshotTable.commitAppend(rows(20L until 40L), dir) }
    step("merge") {
      SnapshotTable.commitMerge(rows(Seq(5L, 45L)).withColumn("v", lit(-5L)), dir, Seq("id"))
    }
    step("copy-on-write delete") {
      SnapshotTable.commitDelete(Seq(7L).toDF("id"), dir, Seq("id"))
    }
    step("merge-on-read delete") {
      SnapshotTable.commitDeleteMoR(Seq(25L).toDF("id"), dir, Seq("id"))
    }
    step("stream upsert") {
      SnapshotTable.commitStreamUpsertMoR(rows(Seq(30L, 50L)), dir, Seq("id"),
        batchId = 0L, appId = "up")
    }
    step("DV delete") {
      SnapshotTable.commitDeleteVectorsWhere(spark, dir, col("id") === 10L)
    }
    step("DV update") {
      SnapshotTable.commitUpdateVectorsWhere(spark, dir, col("id") === 12L,
        Map("v" -> lit(-12L)))
    }
    step("stream batch") {
      SnapshotTable.commitStreamBatch(rows(Seq(60L, 61L)), dir, batchId = 0L, appId = "s")
    }
    step("stream sink files") {
      SnapshotTable.commitStreamFiles(spark, dir, stage("sink-0", rows(Seq(70L))),
        batchId = 1L, appId = "sink")
    }
    step("rename column") { SnapshotTable.commitRenameColumn(spark, dir, "v", "val") }
    step("drop column") { SnapshotTable.commitDropColumn(spark, dir, "note") }
    step("add column") { SnapshotTable.commitAddColumn(spark, dir, "score", LongType) }
    step("metadata-only delete") {
      SnapshotTable.deleteFilesWhere(spark, dir, SnapshotTable.PredEq("id", 70L))
    }
    step("compactWhere") {
      SnapshotTable.compactWhere(spark, dir, col("id") <= 50L,
        smallBytes = 1L << 30, targetBytes = 1L << 30)
    }
    step("compactSmallFiles") {
      SnapshotTable.compactSmallFiles(spark, dir, smallBytes = 1L << 30, targetBytes = 1L << 30)
    }
    step("merge-on-read delete") {
      SnapshotTable.commitDeleteMoR(Seq(45L).toDF("id"), dir, Seq("id"))
    }
    step("applyDeletes") { SnapshotTable.applyDeletes(spark, dir) }
    step("replace where") {
      SnapshotTable.commitReplaceWhere(
        Seq((80L, "g2", 800L, 8L)).toDF("id", "grp", "val", "score").coalesce(1), dir,
        Some(SnapshotTable.PredRange("id", Some((60L, true)), None)), col("id") >= 60L,
        shape = _.coalesce(1))
    }
    step("restore v3") { SnapshotTable.restore(spark, dir, 3L) }
    out ++= s"# clone -> ${SnapshotTable.cloneTable(spark, dir, cloneDir)}\n"
    render("clone", cloneDir)
    SnapshotTable.createTag(spark, dir, "pinned", 5L)
    out ++= s"# tag pinned -> ${SnapshotTable.tagVersion(spark, dir, "pinned")}\n"
    out ++= s"# vacuum keep 3 -> ${SnapshotTable.vacuum(spark, dir, keepVersions = 3)} " +
      s"files; versions ${SnapshotTable.versions(spark, dir).mkString(",")}\n"
    out.result()
  }

  private def renderManifest(
      label: String, m: Manifest, path: String => String,
      segFirst: scala.collection.mutable.HashMap[String, Long]): String = {
    val b = new StringBuilder
    b ++= s"$label v${m.version}\n"
    val led = m.ledger.writers.toSeq.sortBy(_._1).map { case (a, w) =>
      s"'$a':hwm=${w.hwm}" + (if (w.recent.isEmpty) "" else w.recent.toSeq.sorted.mkString("+", ",", ""))
    }
    b ++= s"  ledger ${led.mkString(" ")}\n"
    b ++= s"  statsCols ${m.statsCols.mkString(",")} bloomCols ${m.bloomCols.mkString(",")} fpp ${m.bloomFpp}\n"
    m.renames.foreach(r => b ++= s"  rename ${r.from}->${r.to} seq ${r.seq}\n")
    m.drops.foreach(d => b ++= s"  drop ${d.name} seq ${d.seq}\n")
    m.adds.foreach(a => b ++= s"  add ${a.name} ${a.typeJson} seq ${a.seq}\n")
    m.deletes.foreach { d =>
      b ++= s"  delete seq ${d.seq} keys ${d.keyCols.mkString(",")} rows ${d.rows} " +
        s"paths ${d.paths.map(path).mkString(",")}" +
        (if (d.dvFiles.isEmpty) ""
         else d.dvFiles.map { case (p, n) => s"${path(p)}:$n" }.mkString(" dv ", ",", "")) +
        d.schema.map(s => s" schema ${s.catalogString}").getOrElse("") + "\n"
    }
    m.segments.foreach { s =>
      val origin = segFirst.get(s.name) match {
        case Some(v) => s"carried from v$v"
        case None => segFirst(s.name) = m.version; "new"
      }
      b ++= s"  segment $origin (${s.entries.size} entries)\n"
    }
    m.entries.foreach { e =>
      val stats = e.stats.toSeq.sortBy(_._1).map { case (c, st) =>
        s"$c=[${st.min},${st.max}] nulls ${st.nulls}" + Option(st.sum).map(s => s" sum $s").getOrElse("")
      }
      val blooms = (e.blooms.keySet ++ e.sidecarBloomCols).toSeq.sorted.map { c =>
        e.blooms.get(c).map(bs => s"$c:${bs.length}b#${java.util.Arrays.hashCode(bs)}")
          .getOrElse(s"$c:sidecar")
      }
      b ++= s"  entry ${path(e.path)} seq ${e.seq} rows ${e.rows} bytes ${e.bytes}" +
        s" schema ${e.schema.map(_.catalogString).getOrElse("-")}" +
        (if (stats.isEmpty) "" else stats.mkString(" stats ", "; ", "")) +
        (if (blooms.isEmpty) "" else blooms.mkString(" blooms ", ",", "")) + "\n"
    }
    b.result()
  }
}
