package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, pmod, shiftleft, shiftright}

/** File-side write path (SURVEY §2.1 S7/S9/S11-S13, §2.9 D3): the
  * reference's stage-upload / truncate-reload / CTAS-replace cycle
  * against a filesystem instead of a warehouse stage. The core
  * primitive is the atomic tmp-write-then-swap: Spark cannot lazily
  * read and overwrite the same path (the scan would see its own
  * half-written output), so every in-place rewrite materializes to a
  * sibling temp dir first and swaps via rename — the risk-register
  * item from SURVEY §7 ("What's hard" #1).
  *
  * Uses the Hadoop FileSystem API throughout, so the same code path
  * works on local fs in tests and on HDFS/object stores on a cluster
  * (object-store rename is a copy — a production deployment points
  * this at a format with commit semantics instead).
  */
object Sinks {

  private def fs(p: Path, df: DataFrame) =
    p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)

  def exists(dir: String): Boolean = {
    val p = new Path(dir)
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    p.getFileSystem(conf).exists(p)
  }

  /** Read a parquet target if it exists, else the (lazily-built) empty
    * stand-in — the first-run bootstrap every merge-into-target call
    * site needs (batch pipeline and streaming foreachBatch alike).
    */
  def readOr(spark: org.apache.spark.sql.SparkSession, path: String, empty: => DataFrame): DataFrame =
    if (exists(path)) spark.read.parquet(path) else empty

  /** Full-replace overwrite with tmp-swap (S13 CTAS, S11 truncate-
    * reload, D3 idempotent rebuild). Safe when `df` reads from `dir`
    * itself: the plan materializes into the tmp dir before the old
    * data disappears.
    *
    * Swap order is rename-aside, not delete-then-rename: the live
    * table is moved to a sibling .old dir BEFORE the tmp dir takes its
    * place, so a crash at any point leaves either the old table live
    * or a recoverable .old copy — never a window where the path is
    * missing and the only data is stranded in .tmp (VERDICT r3 /
    * ADVICE r3). The .old dir is deleted only after the new table is
    * in place. True single-syscall atomicity needs a format with
    * commit semantics; this is the strongest ordering a filesystem
    * rename gives.
    */
  def overwriteAtomic(df: DataFrame, dir: String): Unit = {
    val target = new Path(dir)
    val tmp = new Path(dir + ".tmp-" + UUID.randomUUID().toString)
    val old = new Path(dir + ".old-" + UUID.randomUUID().toString)
    val f = fs(target, df)
    df.write.mode("overwrite").parquet(tmp.toString)
    val hadOld = f.exists(target)
    if (hadOld && !f.rename(target, old))
      throw new java.io.IOException(s"atomic swap failed: $target -> $old")
    if (!f.rename(tmp, target)) {
      if (hadOld) f.rename(old, target) // restore the previous table
      throw new java.io.IOException(s"atomic swap failed: $tmp -> $target")
    }
    if (hadOld) f.delete(old, true)
  }

  /** S7: raw JSON batch sink with the reference's batch-numbered
    * naming scheme (all_contacts_<n>.json, qa_api_handler.py:93-95),
    * gzip'd like the stage upload (S9, stage_file.sql:1), in exactly
    * `shards` files.
    *
    * The write always REPARTITIONS, which cuts the lineage: the
    * upstream (a fetch fan-out of 1-4 tasks, or one task per window)
    * runs in its own tasks on the map side, and only the shard writes
    * sit behind the shuffle. A coalesce is a narrow dependency — under
    * coalesce(1) the single write task would run every upstream fetch
    * itself, one after the other — and can never raise the count.
    * Writing one shard per upstream task instead measured slower and
    * multiplied the target files the stage loads land in.
    *
    * `shards` is the LOAD parallelism, not just a layout knob: gzip is
    * not a splittable codec, so each shard is exactly one task on the
    * read side no matter that the content is JSON-lines (the lines
    * format buys shard-internal streaming, not sub-shard splits).
    * shards=1 mirrors the reference's one-file-per-batch layout and is
    * acceptable ONLY while batches stay window-bounded (the reference
    * caps every window request at limit=50000 — qa_api_handler.py:103).
    * At 100× the batch size, raise shards (CalabrioPipeline wires
    * Config.stageShards through every stage write): the "file" is a
    * directory either way and the stage loads glob it the same.
    */
  def writeJsonBatch(
      df: DataFrame,
      stageDir: String,
      prefix: String,
      batchId: Int,
      shards: Int = 1): Unit =
    df.repartition(shards)
      .write
      .mode("overwrite")
      .option("compression", "gzip")
      .json(s"$stageDir/${prefix}_$batchId.json")

  /** Partitioned overwrite: directory layout keyed by the given
    * columns so per-key queries prune whole partitions at the scan
    * (PartitionFilters — asserted in PlanSpec). The 100 TB layout for
    * any table queried by date/type: a day's rebuild rewrites one
    * directory, a day's query reads one directory. DYNAMIC overwrite
    * is what makes that true — the per-write option replaces only the
    * partitions present in `df`; Spark's default (static) would
    * truncate the whole table on a one-day rebuild.
    */
  def writePartitioned(df: DataFrame, dir: String, partitionCols: String*): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(dir)

  /** Bucketed overwrite for co-located joins: both sides of a
    * recurring large join written with the same bucket count on the
    * join key scan-join WITHOUT an exchange (the per-stage shuffle
    * disappears — the 100 TB answer for a join executed every batch;
    * asserted in PlanSpec). Requires a catalog table (bucket metadata
    * lives in the catalog, not the files).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      key: String,
      buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Morton/Z-order interleave of two non-negative integer columns —
    * the multi-dimensional clustering key behind Z-ordered layouts
    * (Morton 1966; the OPTIMIZE ZORDER of the lakehouse engines,
    * re-expressed as plain Spark). Bit i of each input lands at output
    * bits 2i / 2i+1, so sorting by the z-value makes file and
    * row-group min–max ranges narrow in BOTH dimensions at once —
    * a single-column sort only ever serves predicates on that column.
    * Pure codegen'd integer bit ops, no UDF. Inputs are taken mod
    * 2^bits: the caller picks `bits` to cover the real domain —
    * wraparound aliases distant values into one z-cell, which degrades
    * clustering (never correctness; the layout is physical, queries
    * still filter exactly).
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    val an = pmod(a.cast("long"), lit(1L << bits))
    val bn = pmod(b.cast("long"), lit(1L << bits))
    (0 until bits).map { i =>
      shiftleft(shiftright(an, i).bitwiseAND(1L), 2 * i)
        .bitwiseOR(shiftleft(shiftright(bn, i).bitwiseAND(1L), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-ordered rewrite: range-partition + sort by the interleaved key,
    * with deliberately small parquet row groups so min–max skipping
    * has granularity to work with. The layout pass every 100 TB table
    * with TWO hot filter dimensions needs (time × user, time × key):
    * a time-sorted ingest layout serves time predicates and nothing
    * else, full salting serves neither; the z-sort lets the SAME file
    * set serve both, paid for once at write time. The z column is
    * dropped before write — it is a sort key, not data — and the sort
    * survives the projection (order-preserving).
    */
  def writeZOrdered(
      df: DataFrame,
      dir: String,
      a: String,
      b: String,
      numFiles: Int,
      bits: Int = 16,
      rowGroupBytes: Long = 64 * 1024): Unit = {
    require(!df.columns.contains("_z"), "writeZOrdered reserves the column name _z")
    df.withColumn("_z", zValue(col(a), col(b), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.option("parquet.block.size", rowGroupBytes)
      .mode("overwrite").parquet(dir)
  }

  /** Small-files compaction — the table-hygiene pass every long-lived
    * ingest needs: micro-batch and per-window writers (writeJsonBatch,
    * streaming sinks) accrete files far below the scan-efficient size,
    * and at 100 TB the NameNode/listing and per-file open costs
    * dominate reads long before the bytes do. Rewrite the directory
    * into ceil(totalBytes / targetBytes) files and return that count
    * so callers can assert the layout they paid for. Content is
    * preserved exactly (one read → repartition → overwrite); the
    * repartition shuffle IS the cost, which is why compaction runs as
    * scheduled hygiene, not on the read path.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new Path(inDir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = f.listStatus(p)
    val subDirs = entries.filter(_.isDirectory)
      .filterNot(_.getPath.getName.startsWith("_")) // _SUCCESS-style metadata
    if (subDirs.nonEmpty) {
      // A writePartitioned-style tree: compacting the root flat would
      // size the tree as 0 bytes and flatten every dt= directory into
      // one unkeyed file set, silently destroying the layout. Recurse
      // per partition directory instead — each leaf compacts
      // independently and the key=value path (where the partition
      // column lives) is reproduced under outDir.
      require(subDirs.forall(_.getPath.getName.contains("=")),
        s"compact: $inDir contains non-partition subdirectories " +
          s"(${subDirs.map(_.getPath.getName).mkString(", ")}); " +
          "expected a flat file dir or a writePartitioned key=value tree")
      subDirs.map { d =>
        compact(spark, d.getPath.toString,
          s"$outDir/${d.getPath.getName}", targetBytes)
      }.sum
    } else {
      val bytes = entries.filter(_.isFile)
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      require(bytes > 0, s"compact: no parquet files under $inDir")
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      spark.read.parquet(inDir)
        .repartition(nOut)
        .write.mode("overwrite").parquet(outDir)
      nOut
    }
  }

  /** Retention purge — the delete half of the partitioned-layout
    * story (writePartitioned writes it, partition pruning reads it,
    * THIS ages it out): drop every `col=value` partition directory
    * whose value sorts strictly below `cutoff`. String comparison is
    * the contract — ISO dates (the dt= convention) sort
    * lexicographically in time order, which is exactly why the layout
    * uses them. A whole-directory delete per expired day: no scan, no
    * rewrite, no row-level tombstones — at 100 TB retention must be
    * an O(|partitions|) metadata operation, never a data pass.
    * Returns the purged partition names so schedulers can log them.
    */
  def retentionPurge(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      partitionCol: String,
      cutoff: String): Seq[String] = {
    val p = new Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$partitionCol="
    val parts = f.listStatus(p).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith(prefix))
    require(parts.nonEmpty,
      s"retentionPurge: no $prefix partitions under $dir — " +
        "expected a writePartitioned layout")
    val expired = parts.filter(_.getName.stripPrefix(prefix) < cutoff)
    expired.foreach(f.delete(_, true))
    expired.map(_.getName).toSeq.sorted
  }

  /** S12: stage purge — remove everything under the stage dir. */
  def purgeStage(spark: org.apache.spark.sql.SparkSession, stageDir: String): Unit = {
    val p = new Path(stageDir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.delete(p, true)
  }
}
