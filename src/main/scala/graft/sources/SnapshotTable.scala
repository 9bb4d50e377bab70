package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

/** A minimal snapshot-manifest table format — the commit-semantics
  * half the plain-directory sinks deliberately lack (Sinks scaladoc:
  * "a production deployment points this at a format with commit
  * semantics instead"; the in-box transactional formats aren't on the
  * classpath, so this builds the essential mechanism from the same
  * Hadoop FS primitives). The design is the Iceberg/Delta core
  * reduced to its load-bearing minimum:
  *
  *  - Data files are immutable: every commit writes its rows under a
  *    fresh `batch-<uuid>/` subdir — never into a live one.
  *  - A version is a MANIFEST, `_manifests/v<n>.json`: the explicit
  *    file list that IS the table at that version, each entry
  *    optionally carrying per-file min/max statistics for the table's
  *    declared `statsCols` and per-file bloom fingerprints for its
  *    declared `bloomCols`. Readers list one small JSON and scan
  *    exactly those files — no directory listing of the data tree,
  *    which at 100 TB is the difference between a metadata read and a
  *    million-file LIST — and a stats- or key-filtered read drops
  *    whole files at PLANNING time, before Spark ever opens a footer:
  *    range predicates prune on min/max, point/IN lookups prune on
  *    the blooms (decisive on hash-clustered id columns, where every
  *    file's min/max spans the whole domain), and MERGE/DELETE use
  *    both to bound their rewrite set.
  *  - Commits are optimistic concurrency via an atomic no-overwrite
  *    publish: the manifest is staged fully-written as a tmp file and
  *    moved into the next version slot with
  *    `FileContext.rename(…, Options.Rename.NONE)`, which REFUSES an
  *    existing destination (unlike `FileSystem.rename`, which on
  *    LocalFileSystem silently overwrites). On HDFS the no-overwrite
  *    rename is enforced atomically by the NameNode; on a local FS it
  *    is an existence check + rename at the FileContext layer — a far
  *    smaller window than silent overwrite, and the loser of any
  *    detected race re-reads the new head and retries on top of it
  *    (snapshot isolation: readers of version n are never affected).
  *    Readers never observe a partial manifest: the slot is populated
  *    by rename of a fully-written file, never by in-place writes.
  *  - Append = head manifest's entries + the new batch; overwrite =
  *    the new batch alone; MERGE/DELETE are FILE-GRANULAR
  *    copy-on-write — only data files that actually contain an
  *    affected key are rewritten, every untouched file is carried
  *    forward BY REFERENCE (path and stats verbatim) into the new
  *    manifest, so a 0.1% upsert into a 100 TB table rewrites ~0.1%
  *    of the files, not the table. Old versions stay readable (time
  *    travel) until `vacuum` drops the files only unreferenced
  *    manifests name.
  *  - Each manifest carries the FULL set of committed streaming batch
  *    ids (the head's set plus this commit's), so the exactly-once
  *    ledger is answered by ONE head-manifest read — O(1) per
  *    micro-batch, not O(versions) — and survives both overwrites and
  *    vacuum (the head always carries the union).
  *
  * Readers get plain parquet scans (pushdown, pruning, codegen — the
  * manifest only chooses the file set), so every downstream operator
  * composes unchanged.
  */
object SnapshotTable {

  private val ManifestDir = "_manifests"
  private val mapper = new ObjectMapper()

  /** Per-file min/max for one column. Values are normalized to
    * `java.math.BigDecimal` (all numerics) or `String` (strings, and
    * dates canonicalized to ISO `yyyy-MM-dd`, whose lexicographic
    * order is chronological). */
  /** `nulls` = the column's null count in the file (−1 when the file
    * predates null-count recording) — what lets a range-covered
    * file's match count be answered as `rows − nulls` from metadata
    * alone (stats min/max ignore nulls, so containment proves only
    * the NON-null values match). */
  private[graft] final case class FileStat(
      min: Any, max: Any, nulls: Long = -1L, sum: Any = null)

  /** One data file of a version: its dir-relative path, its stats
    * (possibly empty — e.g. a file committed before a stat column was
    * declared, or an all-null column; absent stats always mean "keep
    * this file" to the pruner), and its per-column bloom fingerprints
    * (same absence discipline: no bloom ⇒ the file always survives
    * key pruning).
    *
    * `schema` is the file's Spark schema as parquet schema inference
    * reads it from the footer, recorded at commit from the footer the
    * row census already opens. Reads pass the merge of their entries'
    * schemas to the scan, so building a read plans no Spark job. In a
    * segment file the distinct schemas are stored once, as a
    * `schemas` list of Spark type JSON, and each entry names its own
    * by index (`"schema": i`). None = an entry decoded from a manifest
    * written before schemas were recorded; reads fall back to a
    * driver-side footer read of that file. */
  private[graft] final case class Entry(
      path: String,
      stats: Map[String, FileStat],
      blooms: Map[String, Array[Byte]] = Map.empty,
      sidecarBloomCols: Set[String] = Set.empty,
      rows: Long = -1L,
      seq: Long = 0L,
      bytes: Long = -1L,
      schema: Option[StructType] = None)

  /** One merge-on-read EQUALITY DELETE: `paths` name delta-sized
    * parquet files holding the doomed keys, `seq` is the version that
    * committed it. The files are either key-only (`commitDeleteMoR`
    * writes them) or full-width data files with ONE image per key,
    * checked at commit (an upsert epoch names its own data files).
    * `keyCols` is the projection contract: every reader column-prunes
    * the files to those columns. A delete
    * applies to data entries with `entry.seq < seq` ONLY — a row
    * re-inserted AFTER the delete (a later merge/append, whose entry
    * carries a higher seq) is never retro-deleted, the real formats'
    * sequence-number scoping. Rows are materialized out at read time
    * by an anti join; `applyDeletes` folds them into the data
    * file-granularly and clears the list.
    *
    * The same record doubles as a POSITIONAL DELETE VECTOR when
    * `keyCols == Seq(DvPosCol)` (the sentinel no equality delete can
    * record — commitDeleteMoR refuses the reserved prefix): `paths`
    * then name parquet files of (DvNameCol: data-file NAME, DvPosCol:
    * row ordinal) pairs, and `dvFiles` records (data-file PATH →
    * marked-position count) for every file the vector touches. A DV
    * applies by FILE IDENTITY, not sequence: data files are immutable
    * and never reuse names, so a row re-inserted after the DV lands in
    * a file the vector never names. That also makes DVs schema-op
    * IMMUNE (no column names to remap through renames/drops) and their
    * cardinality EXACT — countRows stays metadata-only under pending
    * DVs by subtracting `rows`, the fast path equality deletes must
    * refuse. `tryPublish` trims a DV against the surviving entry list,
    * so a rewriting commit (compaction) that folds some of its files
    * can never leave the count double-subtracting.
    *
    * `schema` is the Spark schema of an equality delete's files,
    * recorded when they are written and stored in the manifest as
    * Spark type JSON (`"schema"`), so reading the keys plans no Spark
    * job. A delete vector records none: its files always hold
    * [[DvSchema]]. None on an equality delete = one decoded from a
    * manifest written before schemas were recorded; its files'
    * footers are read on the driver instead. */
  private[graft] final case class DeleteFile(
      paths: Seq[String], keyCols: Seq[String], seq: Long, rows: Long = -1L,
      dvFiles: Seq[(String, Long)] = Nil, schema: Option[StructType] = None)

  /** Reserved column names of the delete-vector position frames (and
    * the read-time helper columns that apply them). The prefix is
    * refused in user-facing key columns and at DV commit time if the
    * table schema collides. */
  private[graft] val DvPosCol = "__graft_dv_pos"
  private[graft] val DvNameCol = "__graft_dv_name"
  private[graft] def isDv(d: DeleteFile): Boolean = d.keyCols == Seq(DvPosCol)
  /** The schema of every delete-vector file (as read back: nullable). */
  private val DvSchema = StructType(Seq(
    StructField(DvNameCol, StringType), StructField(DvPosCol, LongType)))
  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** One COLUMN RENAME, seq-scoped like the deletes: it applies to
    * data entries with `entry.seq < seq` only — files written AFTER
    * the rename already carry the new name, and a rewriting commit
    * (merge/compact/OPTIMIZE) normalizes the files it touches, so the
    * rename list self-drains as the table churns. Reads apply the
    * applicable renames per entry group; per-file STATS stay keyed by
    * the write-time name and every metadata consumer maps a current
    * name back through the rename history before the lookup. */
  private[graft] final case class Rename(from: String, to: String, seq: Long)

  /** One COLUMN DROP, seq-scoped the same way: files written before
    * it hide the column at read time (their values are logically
    * erased — and stay erased even if a later append RE-ADDS the
    * name: the old generation never resurfaces), files written after
    * simply don't carry it. Refused while a pending merge-on-read
    * delete keys on the column — the delete would silently stop
    * applying. */
  private[graft] final case class Drop(name: String, seq: Long)

  /** One COLUMN ADD (`ALTER TABLE ADD COLUMN`), seq-scoped: from this
    * commit on, the logical schema carries the column; files written
    * before it read NULL under it (they don't carry the field), files
    * written after carry it physically. `typeJson` is the Spark
    * DataType JSON — the declared type the injected nulls cast to
    * when NO read file carries the column yet. Time travel to a
    * pre-add version shows the pre-widening schema (that manifest has
    * no add op). A later RENAME follows the added name; a later DROP
    * kills it (the add stops injecting). */
  private[graft] final case class AddCol(name: String, typeJson: String, seq: Long)

  /** The exactly-once ledger of ONE writer, in O(1)-per-manifest form:
    * `hwm` is a high-watermark (every id ≤ hwm is committed), `recent`
    * the committed ids above it. A contiguously-committing stream
    * (micro-batch ids 0,1,2,…) keeps `recent` EMPTY — the watermark
    * advances through it — so a million-commit stream carries ONE
    * number in every manifest instead of a million-element set (the
    * r11 manifest-monolith fix, ledger half). `recent` is exact up to
    * [[MaxRecentIds]] out-of-order ids; beyond that the oldest fold
    * into the watermark (ids at or below it read as committed — safe
    * under the structured-streaming contract: micro-batch ids are
    * monotone per writer and never revisit). */
  private[graft] final case class WriterLedger(
      hwm: Long = -1L, recent: Set[Long] = Set.empty) {
    def contains(id: Long): Boolean = id <= hwm || recent.contains(id)
    def add(id: Long): WriterLedger =
      if (contains(id)) this
      else {
        var h = hwm
        var r = recent + id
        while (r.contains(h + 1)) { h += 1; r -= h }
        while (r.size > MaxRecentIds) {
          val m = r.min
          if (m > h) h = m
          r -= m
          while (r.contains(h + 1)) { h += 1; r -= h }
        }
        WriterLedger(h, r)
      }
    def maxId: Option[Long] =
      (recent + hwm).filter(_ >= 0L).maxOption
    /** Exact materialization — caller guards the watermark size. */
    def ids: Iterator[Long] =
      (0L to hwm).iterator ++ recent.iterator.filter(_ > hwm)
  }

  private[graft] val MaxRecentIds = 1024

  /** All writers' ledgers: key "" is the single-writer numeric ledger
    * (legacy `batchIds`), any other key is an appId (legacy
    * `streamKeys` "app:batch" entries decompose into it). */
  private[graft] final case class Ledger(
      writers: Map[String, WriterLedger] = Map.empty) {
    def contains(appId: String, id: Long): Boolean =
      writers.get(appId).exists(_.contains(id))
    def containsKey(key: String): Boolean = {
      val (a, i) = Ledger.splitKey(key)
      contains(a, i)
    }
    def add(appId: String, id: Long): Ledger =
      Ledger(writers.updated(appId,
        writers.getOrElse(appId, WriterLedger()).add(id)))
    def addKey(key: String): Ledger = {
      val (a, i) = Ledger.splitKey(key)
      add(a, i)
    }
  }
  private[graft] object Ledger {
    def splitKey(key: String): (String, Long) = {
      val i = key.indexOf(':')
      require(i > 0, s"stream key must be app:batchId — got '$key'")
      (key.substring(0, i), key.substring(i + 1).toLong)
    }
  }

  /** One immutable ENTRY-SEGMENT file: `_manifests/<name>` holds a
    * JSON array of entries; a manifest names segments instead of
    * inlining entries, and a commit carries prior segments BY NAME
    * (byte-identical files) while writing ONE new segment for its
    * delta — so commit manifest-bytes are O(delta), not O(table) (the
    * r11 manifest-monolith fix, entries half; the bloom-sidecar
    * spill pattern applied to the entries array). */
  private[graft] final case class Segment(name: String, entries: Seq[Entry])

  private[graft] final case class Manifest(
      version: Long,
      ledger: Ledger,
      statsCols: Seq[String],
      entries: Seq[Entry],
      committedAtMs: Long = 0L,
      bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01,
      deletes: Seq[DeleteFile] = Nil,
      renames: Seq[Rename] = Nil,
      drops: Seq[Drop] = Nil,
      segments: Seq[Segment] = Nil,
      adds: Seq[AddCol] = Nil)

  /** Renames and drops interleaved in commit order — the one
    * schema-op stream every read and metadata lookup walks. */
  private def schemaOps(m: Manifest): Seq[Either[Rename, Drop]] =
    (m.renames.map(Left(_): Either[Rename, Drop]) ++
      m.drops.map(Right(_): Either[Rename, Drop]))
      .sortBy(_.fold(_.seq, _.seq))

  private def opSeq(op: Either[Rename, Drop]): Long = op.fold(_.seq, _.seq)

  /** The CURRENT name of a column recorded as `name` at `fromSeq`:
    * fold the renames committed after it, oldest first. */
  private def currentName(m: Manifest, name: String, fromSeq: Long): String =
    m.renames.filter(_.seq > fromSeq).sortBy(_.seq)
      .foldLeft(name)((n, r) => if (r.from == n) r.to else n)

  /** The WRITE-TIME name an entry recorded for today's `current`
    * column — None when the lineage crosses a DROP (today's column is
    * a re-added generation; the entry's values for that name are
    * erased, so its stats must never serve today's queries). Walks
    * the schema ops newer than the entry, newest first. */
  private[graft] def writeTimeName(
      m: Manifest, current: String, entrySeq: Long): Option[String] =
    schemaOps(m).filter(opSeq(_) > entrySeq).reverse
      .foldLeft(Option(current)) {
        case (None, _) => None
        case (Some(n), Left(r)) => Some(if (r.to == n) r.from else n)
        case (Some(n), Right(d)) => if (d.name == n) None else Some(n)
      }

  /** An entry's stat for TODAY'S `current` column name. */
  private def entryStat(m: Manifest, e: Entry, current: String): Option[FileStat] =
    writeTimeName(m, current, e.seq).flatMap(e.stats.get)

  /** The LIVE added columns of `m` under TODAY'S names: each add
    * followed forward through later renames, killed by a later drop
    * of its then-current name. */
  private[graft] def liveAdds(m: Manifest): Seq[(String, DataType)] =
    m.adds.flatMap { a =>
      schemaOps(m).filter(opSeq(_) > a.seq).foldLeft(Option(a.name)) {
        case (None, _) => None
        case (Some(n), Left(r)) => Some(if (r.from == n) r.to else n)
        case (Some(n), Right(d)) => if (d.name == n) None else Some(n)
      }.map(n => n -> DataType.fromJson(a.typeJson))
    }

  /** Inject every live added column the scanned files don't carry as
    * a typed NULL — the read-side face of ALTER TABLE ADD COLUMN.
    * Once any post-add file carries the column physically, the merged
    * read schema surfaces it and this is a no-op. */
  private def withLiveAdds(df: DataFrame, m: Manifest): DataFrame =
    liveAdds(m).foldLeft(df) { case (d, (n, dt)) =>
      if (d.columns.contains(n)) d else d.withColumn(n, lit(null).cast(dt))
    }

  /** An inclusive-bounds range predicate over one stat column, used
    * for planning-time file pruning. `lower`/`upper` accept any
    * numeric or String; a `None` bound is unbounded. Pruning is
    * conservative: a file survives unless its stats PROVE the range
    * excludes it, so the pruned scan is always a superset of the
    * matching rows — callers still apply the row-level filter. */
  final case class StatFilter(colName: String, lower: Option[Any] = None, upper: Option[Any] = None)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(dir: String, v: Long): Path =
    new Path(s"$dir/$ManifestDir/v$v.json")

  /** All committed versions, ascending. Empty for a fresh/absent dir. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val md = new Path(s"$dir/$ManifestDir")
    val f = fs(spark, dir)
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
  }

  // ---------------------------------------------------------------
  // Manifest serialization (Jackson — already the repo's JSON layer)
  // ---------------------------------------------------------------

  private def statToNode(node: ObjectNode, field: String, v: Any): Unit = v match {
    case d: java.math.BigDecimal => node.put(field, d): Unit
    case s: String => node.put(field, s): Unit
    case other => throw new IllegalStateException(s"unsupported stat value $other")
  }

  private def nodeToStat(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isNumber) n.decimalValue() else n.asText()

  private def renderManifest(m: Manifest, segNames: Seq[String]): String = {
    val root = mapper.createObjectNode()
    root.put("version", m.version)
    root.put("committedAtMs", m.committedAtMs)
    if (m.ledger.writers.nonEmpty) {
      val led = root.putObject("ledger")
      m.ledger.writers.toSeq.sortBy(_._1).foreach { case (app, w) =>
        val wn = led.putObject(app)
        wn.put("hwm", w.hwm)
        if (w.recent.nonEmpty) {
          val rs = wn.putArray("recent")
          w.recent.toSeq.sorted.foreach(rs.add)
        }
      }
    }
    val scols = root.putArray("statsCols")
    m.statsCols.foreach(scols.add)
    if (m.bloomCols.nonEmpty) {
      val bcols = root.putArray("bloomCols")
      m.bloomCols.foreach(bcols.add)
      root.put("bloomFpp", m.bloomFpp): Unit
    }
    if (m.deletes.nonEmpty) {
      val ds = root.putArray("deletes")
      m.deletes.foreach { d =>
        val dn = ds.addObject()
        val ps = dn.putArray("paths")
        d.paths.foreach(ps.add)
        val ks = dn.putArray("keyCols")
        d.keyCols.foreach(ks.add)
        dn.put("seq", d.seq)
        if (d.rows >= 0L) dn.put("rows", d.rows): Unit
        d.schema.foreach(st => dn.put("schema", st.json))
        if (d.dvFiles.nonEmpty) {
          val fsArr = dn.putArray("dvFiles")
          d.dvFiles.foreach { case (p, n) =>
            val fn = fsArr.addObject()
            fn.put("path", p)
            fn.put("rows", n): Unit
          }
        }
      }
    }
    if (m.renames.nonEmpty) {
      val rs = root.putArray("renames")
      m.renames.foreach { r =>
        val rn = rs.addObject()
        rn.put("from", r.from)
        rn.put("to", r.to)
        rn.put("seq", r.seq): Unit
      }
    }
    if (m.drops.nonEmpty) {
      val ds2 = root.putArray("drops")
      m.drops.foreach { d =>
        val dn = ds2.addObject()
        dn.put("name", d.name)
        dn.put("seq", d.seq): Unit
      }
    }
    if (m.adds.nonEmpty) {
      val as = root.putArray("adds")
      m.adds.foreach { a =>
        val an = as.addObject()
        an.put("name", a.name)
        an.put("type", a.typeJson)
        an.put("seq", a.seq): Unit
      }
    }
    val segs = root.putArray("segments")
    segNames.foreach(segs.add)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private def entryToNode(
      es: com.fasterxml.jackson.databind.node.ArrayNode, e: Entry,
      schemaIndex: StructType => Int): Unit = {
    val en = es.addObject()
    en.put("path", e.path)
    e.schema.foreach(st => en.put("schema", schemaIndex(st)))
    if (e.rows >= 0L) en.put("rows", e.rows): Unit
    if (e.seq > 0L) en.put("seq", e.seq): Unit
    if (e.bytes >= 0L) en.put("bytes", e.bytes): Unit
    if (e.stats.nonEmpty) {
      val st = en.putObject("stats")
      e.stats.toSeq.sortBy(_._1).foreach { case (c, fsr) =>
        val cn = st.putObject(c)
        statToNode(cn, "min", fsr.min)
        statToNode(cn, "max", fsr.max)
        if (fsr.nulls >= 0L) cn.put("nulls", fsr.nulls): Unit
        if (fsr.sum != null)
          cn.put("sum", fsr.sum.asInstanceOf[java.math.BigDecimal]): Unit
      }
    }
    if (e.blooms.nonEmpty || e.sidecarBloomCols.nonEmpty) {
      val bl = en.putObject("blooms")
      (e.blooms.keySet ++ e.sidecarBloomCols).toSeq.sorted.foreach { c =>
        e.blooms.get(c) match {
          case Some(bytes) =>
            bl.put(c, java.util.Base64.getEncoder.encodeToString(bytes)): Unit
          case None => bl.put(c, SidecarMarker): Unit
        }
      }
    }
  }

  private def structFromJson(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  private def nodeToEntry(
      en: com.fasterxml.jackson.databind.JsonNode,
      schemas: IndexedSeq[StructType]): Entry = {
    val stats = Option(en.get("stats")).map { st =>
      val it = st.fields()
      val b = Map.newBuilder[String, FileStat]
      while (it.hasNext) {
        val kv = it.next()
        b += kv.getKey -> FileStat(nodeToStat(kv.getValue.get("min")),
          nodeToStat(kv.getValue.get("max")),
          Option(kv.getValue.get("nulls")).map(_.asLong).getOrElse(-1L),
          Option(kv.getValue.get("sum")).map(_.decimalValue()).orNull)
      }
      b.result()
    }.getOrElse(Map.empty[String, FileStat])
    var sidecars = Set.empty[String]
    val blooms = Option(en.get("blooms")).map { bl =>
      val it = bl.fields()
      val b = Map.newBuilder[String, Array[Byte]]
      while (it.hasNext) {
        val kv = it.next()
        val s = kv.getValue.asText
        if (s == SidecarMarker) sidecars += kv.getKey
        else b += kv.getKey -> java.util.Base64.getDecoder.decode(s)
      }
      b.result()
    }.getOrElse(Map.empty[String, Array[Byte]])
    Entry(en.get("path").asText, stats, blooms, sidecars,
      Option(en.get("rows")).map(_.asLong).getOrElse(-1L),
      Option(en.get("seq")).map(_.asLong).getOrElse(0L),
      Option(en.get("bytes")).map(_.asLong).getOrElse(-1L),
      Option(en.get("schema")).map(i => schemas(i.asInt)))
  }

  /** A segment file: `entries`, plus `schemas`, each distinct entry
    * schema once (entries refer to theirs by index). */
  private def renderSegment(entries: Seq[Entry]): String = {
    val root = mapper.createObjectNode()
    val index = scala.collection.mutable.LinkedHashMap.empty[StructType, Int]
    val es = root.putArray("entries")
    entries.foreach(entryToNode(es, _, st => index.getOrElseUpdate(st, index.size)))
    if (index.nonEmpty) {
      val ss = root.putArray("schemas")
      index.keys.foreach(st => ss.add(st.json))
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Segments are IMMUTABLE (written once, carried by name, deleted
    * only by vacuum/gc), so a small process-wide LRU makes re-reading
    * the head across commits/queries a memory hit instead of a file
    * read. Keyed by absolute path; UUID names never recur. */
  private val segmentCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[Entry]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[Entry]]): Boolean = size > 256
    })

  private def readSegment(
      spark: SparkSession, dir: String, name: String): Seq[Entry] = {
    val key = s"$dir/$ManifestDir/$name"
    val cached = segmentCache.get(key)
    if (cached != null) cached
    else {
      val f = fs(spark, dir)
      val p = new Path(key)
      require(f.exists(p), s"manifest names entry segment $p but it is missing")
      val in = f.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val root = mapper.readTree(body)
      val schemas = Option(root.get("schemas")).map { ss =>
        (0 until ss.size).map(i => structFromJson(ss.get(i).asText))
      }.getOrElse(IndexedSeq.empty)
      val a = root.get("entries")
      val entries = (0 until a.size).map(a.get(_)).map(nodeToEntry(_, schemas))
      segmentCache.put(key, entries)
      entries
    }
  }

  private[graft] def readManifest(spark: SparkSession, dir: String, v: Long): Manifest = {
    val f = fs(spark, dir)
    val p = manifestPath(dir, v)
    if (!f.exists(p))
      throw new IllegalArgumentException(s"snapshot table $dir has no version $v")
    val in = f.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val root = mapper.readTree(body)
    // ledger: new per-writer watermark form, with the legacy
    // batchIds/streamKeys arrays folded in when present (ascending so
    // contiguous ids advance the watermark)
    var ledger = Option(root.get("ledger")).map { ln =>
      val it = ln.fields()
      val b = Map.newBuilder[String, WriterLedger]
      while (it.hasNext) {
        val kv = it.next()
        val recent = Option(kv.getValue.get("recent")).map { a =>
          (0 until a.size).map(a.get(_).asLong).toSet
        }.getOrElse(Set.empty[Long])
        b += kv.getKey -> WriterLedger(kv.getValue.get("hwm").asLong, recent)
      }
      Ledger(b.result())
    }.getOrElse(Ledger())
    Option(root.get("batchIds")).foreach { a =>
      (0 until a.size).map(a.get(_).asLong).sorted
        .foreach(id => ledger = ledger.add("", id))
    }
    Option(root.get("streamKeys")).foreach { a =>
      // sort by (appId, NUMERIC id), not lexicographically — 'app:10'
      // sorts before 'app:2' as a string, and an out-of-numeric-order
      // fold burns recent-set slots (or trips the MaxRecentIds fold on
      // >1024 keys per app) and can advance hwm past a never-committed
      // gap id, silently no-opping that genuinely new batch (ADVICE r12)
      (0 until a.size).map(a.get(_).asText)
        .map(Ledger.splitKey).sorted
        .foreach { case (app, id) => ledger = ledger.add(app, id) }
    }
    val statsCols = Option(root.get("statsCols")).map { a =>
      (0 until a.size).map(a.get(_).asText)
    }.getOrElse(Seq.empty)
    val bloomCols = Option(root.get("bloomCols")).map { a =>
      (0 until a.size).map(a.get(_).asText)
    }.getOrElse(Seq.empty)
    val bloomFpp = Option(root.get("bloomFpp")).map(_.asDouble).getOrElse(0.01)
    // entries: named segments (the segmented form), with legacy inline
    // arrays still readable
    val segments: Seq[Segment] = Option(root.get("segments")).map { a =>
      (0 until a.size).map(a.get(_).asText)
        .map(n => Segment(n, readSegment(spark, dir, n)))
    }.getOrElse(Seq.empty)
    val entries: Seq[Entry] =
      if (segments.nonEmpty) segments.flatMap(_.entries)
      else Option(root.get("entries")).map { a =>
        (0 until a.size).map(a.get(_)).map(nodeToEntry(_, IndexedSeq.empty))
      }.getOrElse(Seq.empty)
    val deletes = Option(root.get("deletes")).map { a =>
      (0 until a.size).map { i =>
        val dn = a.get(i)
        val paths = (0 until dn.get("paths").size).map(dn.get("paths").get(_).asText)
        val keyCols = (0 until dn.get("keyCols").size).map(dn.get("keyCols").get(_).asText)
        val dvFiles = Option(dn.get("dvFiles")).map { fa =>
          (0 until fa.size).map { j =>
            val fn = fa.get(j)
            fn.get("path").asText -> fn.get("rows").asLong
          }
        }.getOrElse(Seq.empty)
        DeleteFile(paths, keyCols, dn.get("seq").asLong,
          Option(dn.get("rows")).map(_.asLong).getOrElse(-1L), dvFiles,
          Option(dn.get("schema")).map(n => structFromJson(n.asText)))
      }
    }.getOrElse(Seq.empty)
    val renames = Option(root.get("renames")).map { a =>
      (0 until a.size).map { i =>
        val rn = a.get(i)
        Rename(rn.get("from").asText, rn.get("to").asText, rn.get("seq").asLong)
      }
    }.getOrElse(Seq.empty)
    val drops = Option(root.get("drops")).map { a =>
      (0 until a.size).map { i =>
        val dn = a.get(i)
        Drop(dn.get("name").asText, dn.get("seq").asLong)
      }
    }.getOrElse(Seq.empty)
    val adds = Option(root.get("adds")).map { a =>
      (0 until a.size).map { i =>
        val an = a.get(i)
        AddCol(an.get("name").asText, an.get("type").asText, an.get("seq").asLong)
      }
    }.getOrElse(Seq.empty)
    // the slot NAME is authoritative for the version — a manifest can
    // land in a slot other than the one its writer targeted only via
    // out-of-band copies (the race spec does exactly that), and the
    // ledger must follow the slot, not the stale body field
    Manifest(v, ledger, statsCols, entries,
      Option(root.get("committedAtMs")).map(_.asLong).getOrElse(0L),
      bloomCols, bloomFpp, deletes, renames, drops, segments, adds)
  }

  /** The manifest of `version`, or of the head — the one head
    * resolution every read and commit shares. Fails loudly on a table
    * with no committed version. */
  private[graft] def manifestAt(
      spark: SparkSession, dir: String, version: Option[Long] = None): Manifest = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"snapshot table $dir has no committed version")
    readManifest(spark, dir, version.getOrElse(vs.last))
  }

  /** The file list version `v` names (paths relative to `dir`) — the
    * public face of the manifest, for compaction accounting and
    * layout asserts. */
  def files(spark: SparkSession, dir: String, v: Long): Seq[String] =
    readManifest(spark, dir, v).entries.map(_.path)

  /** Total on-disk bytes of `paths` in version `v`, answered from the
    * manifest alone — the planner STATISTICS read (auto-broadcast of
    * small snapshot tables through the SQL face). None when any entry
    * predates byte recording: the caller then reports the
    * no-broadcast default rather than guessing small. */
  private[graft] def pathBytes(
      spark: SparkSession, dir: String, v: Long,
      paths: Seq[String]): Option[Long] = {
    val byPath = readManifest(spark, dir, v).entries
      .map(e => e.path -> e.bytes).toMap
    val bs = paths.map(p => byPath.getOrElse(p, -1L))
    if (bs.exists(_ < 0L)) None else Some(bs.sum)
  }

  /** Publish `m` into its version slot atomically-if-absent: stage
    * the fully-rendered manifest as a tmp file, then
    * `FileContext.rename(tmp, slot, Rename.NONE)` — an existing slot
    * raises FileAlreadyExistsException instead of being overwritten
    * (the LocalFileSystem `FileSystem.rename` behavior that would
    * silently lose a racing commit). Returns false on a lost race. */
  /** Hard cap on segments per manifest: a commit whose carried +
    * delta layout would exceed it coalesces everything into ONE fresh
    * segment — one O(entries) rewrite every ~MaxSegments commits, so
    * the amortized per-commit metadata write stays O(delta +
    * entries/MaxSegments) while reads never open more than MaxSegments
    * small files (the manifest-merge discipline of the production
    * formats). */
  private[graft] val MaxSegments = 64

  /** The new manifest's segment layout: every `carry` segment whose
    * entries ALL survive unchanged in `entries` is carried BY NAME
    * (zero bytes rewritten); everything else lands in one fresh
    * residue segment. Entry identity is the dir-unique path; "unchanged"
    * is object/structural equality — carried entries come from the
    * same head read that supplied `carry`, so reference equality makes
    * this an O(entries) hash pass. */
  private def layoutSegments(
      entries: Seq[Entry], carry: Seq[Segment]): (Seq[Segment], Seq[Entry]) = {
    val byPath = scala.collection.mutable.HashMap.from(entries.map(e => e.path -> e))
    val kept = carry.filter { s =>
      val ok = s.entries.nonEmpty && s.entries.forall(e =>
        byPath.get(e.path).exists(x => (x.asInstanceOf[AnyRef] eq e) || x == e))
      if (ok) s.entries.foreach(e => byPath.remove(e.path))
      ok
    }
    (kept, entries.filter(e => byPath.contains(e.path)))
  }

  /** Publish `m` into its version slot atomically-if-absent. Entries
    * are written as SEGMENTS: the segments `m` names (the head's, for
    * a manifest carried forward from it) whose entries survive
    * unchanged are carried by name; the delta goes to one fresh
    * immutable segment file staged BEFORE the manifest rename, so
    * readers never see a manifest naming a missing segment. Returns
    * false on a lost race (staged segment cleaned). */
  private[graft] def tryPublish(
      spark: SparkSession, dir: String, m0: Manifest): Boolean = {
    // DV invariant, enforced at the single publish choke point: a
    // delete vector names only LIVE files. When a rewriting commit
    // (compaction) folds some of a DV's files into fresh entries, the
    // vanished files' marked positions leave the record — and its
    // exact count with them — so countRows never double-subtracts
    // rows that are already physically gone. Equality deletes pass
    // through untouched (their seq scoping self-limits).
    val m = if (m0.deletes.forall(!isDv(_))) m0 else {
      val live = m0.entries.map(_.path).toSet
      m0.copy(deletes = m0.deletes.flatMap { d =>
        if (!isDv(d)) Some(d)
        else {
          val kept = d.dvFiles.filter { case (p, _) => live.contains(p) }
          if (kept.isEmpty) None
          else if (kept.size == d.dvFiles.size) Some(d)
          else Some(d.copy(dvFiles = kept, rows = kept.map(_._2).sum))
        }
      })
    }
    val f = fs(spark, dir)
    f.mkdirs(new Path(s"$dir/$ManifestDir"))
    val (kept0, residue0) = layoutSegments(m.entries, m.segments)
    // coalesce when the layout would exceed the cap — the amortized
    // manifest-merge pass
    val (kept, residue) =
      if (kept0.size + (if (residue0.nonEmpty) 1 else 0) > MaxSegments)
        (Nil, m.entries)
      else (kept0, residue0)
    var newSeg: Option[String] = None
    if (residue.nonEmpty) {
      val name = s"seg-${UUID.randomUUID()}.json"
      val sp = new Path(s"$dir/$ManifestDir/$name")
      val out = f.create(sp, false)
      try out.write(renderSegment(residue).getBytes(UTF_8)) finally out.close()
      segmentCache.put(s"$dir/$ManifestDir/$name", residue)
      newSeg = Some(name)
    }
    val segNames = kept.map(_.name) ++ newSeg
    val tmp = new Path(s"$dir/$ManifestDir/.tmp-${UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    // the commit instant is stamped HERE — publish time, one writer,
    // one clock — so timestamp travel resolves against the same
    // ordering the version numbers express
    val stamped = m.copy(committedAtMs = System.currentTimeMillis())
    try out.write(renderManifest(stamped, segNames).getBytes(UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(f.getUri, spark.sparkContext.hadoopConfiguration)
    try {
      fc.rename(tmp, manifestPath(dir, m.version), Options.Rename.NONE)
      true
    } catch {
      case _: FileAlreadyExistsException =>
        f.delete(tmp, false)
        // the loser's residue segment is named by NO manifest — sweep it
        newSeg.foreach { n =>
          f.delete(new Path(s"$dir/$ManifestDir/$n"), false)
          segmentCache.remove(s"$dir/$ManifestDir/$n"): Unit
        }
        false
    }
  }

  // ---------------------------------------------------------------
  // The commit transaction
  // ---------------------------------------------------------------

  /** The manifest of a table with no committed version — what a
    * creating commit (a first append or stream epoch, a clone)
    * carries forward from. */
  private val Empty = Manifest(0L, Ledger(), Nil, Nil)

  /** What one attempt of a [[transact]] body decides. */
  private sealed trait Attempt

  /** Publish nothing: the op has nothing to commit, or its ledger key
    * is already committed. `orphans` are staged files the op no longer
    * needs (a recognized replay's batch); transact drops them. */
  private final case class NoCommit(orphans: Seq[String] = Nil) extends Attempt

  /** Publish `next`: the head copied with only what the op changes —
    * entries, deletes, ledger, declarations, schema ops. Everything it
    * does not name is the head's, including the segments carried by
    * name; transact stamps the version. `staged` are the files this
    * attempt wrote, dropped when the attempt loses the race. Files an
    * op stages once for every attempt are not listed: they survive a
    * lost race. */
  private final case class Publish(next: Manifest, staged: Seq[String] = Nil) extends Attempt

  private val MaxAttempts = 20

  /** Test-only race injector: invoked once per commit attempt right
    * before the manifest publish, AFTER the head read and the
    * attempt's writes — exactly the window a real racing writer
    * exploits. Specs assign a one-shot closure that commits a
    * rename/drop/append here, so every op's lost-race path runs
    * DETERMINISTICALLY instead of by thread timing. Production cost:
    * one no-op call. */
  private[graft] var testRaceHook: () => Unit = () => ()

  /** The optimistic commit protocol of every retrying op (the
    * conflict-retry loop the production formats keep in one place).
    * Per attempt: read the head — the [[Empty]] manifest when `create`
    * and the table has none — run `attempt` on it, fire the race hook,
    * and publish its manifest at head + 1. A lost race drops the
    * attempt's staged files and retries on the new head;
    * [[MaxAttempts]] straight losses fail loudly. Returns
    * Right(committed version), or Left(the head's version) when the
    * attempt chose not to commit. */
  private def transact(
      spark: SparkSession, dir: String, what: String, create: Boolean = false)(
      attempt: Manifest => Attempt): Either[Long, Long] = {
    @annotation.tailrec
    def go(n: Int): Either[Long, Long] = {
      require(n <= MaxAttempts,
        s"$what on $dir lost $MaxAttempts straight races; giving up")
      val head =
        if (create) versions(spark, dir).lastOption
          .fold(Empty)(readManifest(spark, dir, _))
        else manifestAt(spark, dir)
      attempt(head) match {
        case NoCommit(orphans) =>
          dropOrphanBatch(spark, dir, orphans)
          Left(head.version)
        case Publish(next, staged) =>
          testRaceHook()
          val v = head.version + 1
          if (tryPublish(spark, dir, next.copy(version = v))) Right(v)
          else {
            dropOrphanBatch(spark, dir, staged)
            go(n + 1)
          }
      }
    }
    go(1)
  }

  /** `m` with `statsCols`/`bloomCols` unioned into its sticky
    * declarations. */
  private def declare(m: Manifest, statsCols: Seq[String], bloomCols: Seq[String]): Manifest =
    m.copy(statsCols = (m.statsCols ++ statsCols).distinct,
      bloomCols = (m.bloomCols ++ bloomCols).distinct)

  /** `m` with `fresh` appended — or, for an overwrite, `fresh` as the
    * whole census, with pending deletes and schema ops reset (the
    * caller's names are final there). */
  private def landed(m: Manifest, fresh: Seq[Entry], overwrite: Boolean): Manifest =
    if (overwrite) m.copy(entries = fresh, deletes = Nil,
      renames = Nil, drops = Nil, adds = Nil, segments = Nil)
    else m.copy(entries = m.entries ++ fresh)

  /** Entries of files an op stages once and publishes on every
    * attempt, keyed by the declarations (stats/bloom columns, fpp) of
    * the manifest they publish into: recomputed only when a raced
    * commit changed those, so a lost race never publishes stats and
    * blooms computed for an older head's declarations. */
  private def stagedEntries(
      spark: SparkSession, dir: String, files: Seq[String],
      bucket: Option[(String, Int)] = None): Manifest => Seq[Entry] = {
    var memo: Option[((Seq[String], Seq[String], Double), Seq[Entry])] = None
    m => {
      val decl = (m.statsCols, m.bloomCols, m.bloomFpp)
      memo.collect { case (d, es) if d == decl => es }.getOrElse {
        val es = batchEntries(spark, dir, files, decl._1, decl._2, decl._3, bucket)
        memo = Some(decl -> es)
        es
      }
    }
  }

  /** `m` with its entries replaced by `kept` plus just-written `files`,
    * whose entries are recorded under `m`'s declarations at the next
    * seq. */
  private def withFiles(
      spark: SparkSession, dir: String, m: Manifest, kept: Seq[Entry],
      files: Seq[String], bucket: Option[(String, Int)] = None): Manifest =
    m.copy(entries = kept ++ batchEntries(spark, dir, files, m.statsCols,
      m.bloomCols, m.bloomFpp, bucket).map(_.copy(seq = m.version + 1)))

  /** The copy-on-write shape merge, delete, the compactions and
    * applyDeletes share: land `rows` as a fresh batch and publish
    * `kept` plus its entries. The batch is the attempt's own — a lost
    * race drops it. */
  private def rewrite(
      dir: String, m: Manifest, kept: Seq[Entry], rows: DataFrame,
      bucket: Option[(String, Int)] = None): Publish = {
    val files = writeBatch(rows, dir)
    Publish(withFiles(rows.sparkSession, dir, m, kept, files, bucket), files)
  }

  /** The schema ops `m` carries beyond `seen` (the state a staged
    * file's column names reflect), in commit order. Fails loudly when
    * `m`'s history no longer extends `seen`: a raced RESTORE rewound
    * it. */
  private def opsSince(
      dir: String, what: String, seen: (Seq[Rename], Seq[Drop]),
      m: Manifest): Seq[Either[Rename, Drop]] = {
    require(m.renames.startsWith(seen._1) && m.drops.startsWith(seen._2),
      s"$what on $dir raced a RESTORE that rewound schema history — " +
        "retry against the restored head")
    (m.renames.drop(seen._1.size).map(Left(_): Either[Rename, Drop]) ++
      m.drops.drop(seen._2.size).map(Right(_): Either[Rename, Drop])).sortBy(opSeq)
  }

  // ---------------------------------------------------------------
  // Reads
  // ---------------------------------------------------------------

  /** Read the table at `version` (default: the head). The scan is a
    * plain multi-file parquet read over exactly the manifest's files.
    */
  def read(spark: SparkSession, dir: String, version: Option[Long] = None): DataFrame = {
    val m = manifestAt(spark, dir, version)
    require(m.entries.nonEmpty, s"version ${m.version} of $dir is empty")
    entriesFrame(spark, dir, m, m.entries)
  }

  /** Resolve a manifest-recorded path against the table dir. Paths
    * are dir-relative, except EXTERNAL absolute references — the
    * shallow clone's zero-copy sharing: a cloned manifest names the
    * source's data files verbatim, and every rewriting commit on the
    * clone replaces the entries it touches with ordinary relative
    * ones. */
  private def resolve(dir: String, p: String): String =
    if (p.startsWith("/") || p.contains("://")) p else s"$dir/$p"

  /** resolve(), for the in-repo DSv2 faces (the streaming source's
    * partitions carry absolute paths to the executors). */
  private[graft] def resolvePath(dir: String, p: String): String =
    resolve(dir, p)

  /** The schema `mergeSchema` inference would give a scan of
    * `entries`: their per-file schemas merged in path order — the
    * union of compatible schemas, each field where it first appears.
    * Built from the manifest, with no Spark job; an entry from a
    * manifest written before schemas were recorded costs a
    * driver-side read of its footer. */
  private def entriesSchema(
      spark: SparkSession, dir: String, entries: Seq[Entry]): StructType = {
    val schemas = entries.map(e => e ->
      e.schema.getOrElse(readFooter(spark, new Path(resolve(dir, e.path)))._2))
    if (schemas.map(_._2).distinct.size == 1) schemas.head._2
    else GraftParquetSchema.merge(spark, schemas
      .sortBy { case (e, _) => qualifiedPath(spark, resolve(dir, e.path)) }
      .map(_._2).distinct)
  }

  /** The schema of parquet files no manifest records yet (a batch
    * just landed): their footers, merged like [[entriesSchema]]. */
  private def filesSchema(spark: SparkSession, dir: String, paths: Seq[String]): StructType =
    entriesSchema(spark, dir, paths.map(Entry(_, Map.empty)))

  /** A plain multi-file parquet scan over `entries` under their merged
    * recorded schema — additive evolution for free (a version whose
    * batches carry different compatible schemas reads as their union,
    * old rows null in the new columns) and no Spark job to plan it.
    * No delete application — the PHYSICAL rows. */
  private def rawRead(spark: SparkSession, dir: String, entries: Seq[Entry]): DataFrame =
    spark.read.schema(entriesSchema(spark, dir, entries))
      .parquet(entries.map(e => resolve(dir, e.path)): _*)

  /** The position pairs of delete vector `d`. */
  private def dvFrame(spark: SparkSession, dir: String, d: DeleteFile): DataFrame =
    spark.read.schema(DvSchema).parquet(d.paths.map(p => resolve(dir, p)): _*)

  /** The key tuples of equality delete `d`, under the names its
    * commit recorded. Not de-duplicated: the key files are written
    * distinct, and every consumer (anti/semi joins, the touched-file
    * join) is duplicate-insensitive. */
  private def deleteKeys(spark: SparkSession, dir: String, d: DeleteFile): DataFrame =
    spark.read.schema(d.schema.getOrElse(filesSchema(spark, dir, d.paths)))
      .parquet(d.paths.map(p => resolve(dir, p)): _*)
      .select(d.keyCols.map(col): _*)

  private def applySchemaOps(
      df: DataFrame, ops: Seq[Either[Rename, Drop]]): DataFrame =
    ops.foldLeft(df) {
      case (d, Left(r)) =>
        if (d.columns.contains(r.from)) d.withColumnRenamed(r.from, r.to) else d
      case (d, Right(dr)) =>
        if (d.columns.contains(dr.name)) d.drop(dr.name) else d
    }

  /** The PHYSICAL rows of `entries` surfaced under TODAY'S column
    * names (renames applied per entry group, merge-on-read deletes
    * NOT applied) — what the touched-file selection joins against:
    * physically-present rows are the right superset there, and key
    * columns arrive in current names. */
  private def renamedRawRead(
      spark: SparkSession, dir: String, m: Manifest, entries: Seq[Entry]): DataFrame = {
    val ops = schemaOps(m)
    val base =
      if (ops.isEmpty) rawRead(spark, dir, entries)
      else entries.groupBy { e =>
        val i = ops.indexWhere(opSeq(_) > e.seq)
        if (i < 0) ops.length else i
      }.toSeq.sortBy(_._1).map { case (oi, es) =>
        applySchemaOps(rawRead(spark, dir, es), ops.drop(oi))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    withLiveAdds(base, m)
  }

  /** The LOGICAL rows of `entries` under `m`: the physical scan with
    * every applicable merge-on-read delete anti-joined out. A delete
    * of seq d applies only to entries with seq < d (rows re-inserted
    * after the delete survive), so entries are grouped by their first
    * applicable delete in the seq-ascending list — the applicable set
    * is always a suffix, giving ≤ |deletes|+1 groups, each one scan +
    * a chain of delta-sized anti joins (AQE broadcasts the key
    * frames). The common no-pending-deletes case is exactly the old
    * single scan. */
  private[graft] def entriesFrame(
      spark: SparkSession, dir: String, m: Manifest, entries: Seq[Entry]): DataFrame =
    entriesFrameMeta(spark, dir, m, entries, keepMeta = false)

  /** entriesFrame with an option to RETAIN the per-row file-identity
    * helpers (DvNameCol = `_metadata.file_name`, DvPosCol =
    * `_metadata.row_index`) — the position source for delete-vector
    * commits and the position-scoped CDC slice. The helpers are
    * READER-GENERATED constants of the scan (no shuffle, no extra
    * data-column read); they are added only when a pending DV needs
    * them or the caller asks, and dropped before the frame surfaces
    * unless asked for. Every scan under the frame — data files, delete
    * keys, delete vectors — reads with its manifest-recorded schema,
    * so building the frame submits no Spark job. */
  private[graft] def entriesFrameMeta(
      spark: SparkSession, dir: String, m: Manifest, entries: Seq[Entry],
      keepMeta: Boolean): DataFrame = {
    require(entries.nonEmpty, "entriesFrame needs at least one entry")
    val dels = m.deletes.sortBy(_.seq)
    val ops = schemaOps(m)
    val needMeta = keepMeta || dels.exists(isDv)
    def raw(es: Seq[Entry]): DataFrame = {
      val base = rawRead(spark, dir, es)
      if (!needMeta) base
      else base
        .withColumn(DvNameCol, col("_metadata.file_name"))
        .withColumn(DvPosCol, col("_metadata.row_index"))
    }
    def dropMeta(df: DataFrame): DataFrame =
      if (needMeta && !keepMeta) df.drop(DvNameCol, DvPosCol) else df
    if (dels.isEmpty && ops.isEmpty)
      dropMeta(withLiveAdds(raw(entries), m))
    else {
      // both lists are seq-scoped, so an entry's applicable set is
      // always a SUFFIX of each — group by the two suffix starts
      def suffix[A](xs: Seq[A], seqOf: A => Long, e: Entry): Int = {
        val i = xs.indexWhere(seqOf(_) > e.seq)
        if (i < 0) xs.length else i
      }
      val groups = entries.groupBy(e =>
        (suffix[Either[Rename, Drop]](ops, opSeq, e),
          suffix[DeleteFile](dels, _.seq, e)))
      val groupsJoined = groups.toSeq.sortBy(_._1).map { case ((oi, di), es) =>
        // schema ops first: the group's frame surfaces under TODAY'S
        // names (dropped generations hidden), so delete keys (mapped
        // to today's names too) and the cross-group unionByName line
        // up
        val renamed = applySchemaOps(raw(es), ops.drop(oi))
        dels.drop(di).foldLeft(renamed) { (df, d) =>
          if (isDv(d)) {
            // positional: applies by FILE IDENTITY — a group holding
            // none of the vector's files skips the join outright, and
            // no column-name mapping exists to go wrong (DVs are
            // schema-op immune by construction)
            val names = d.dvFiles.map(p => fileName(p._1)).toSet
            if (!es.exists(e => names.contains(fileName(e.path)))) df
            else {
              df.join(dvFrame(spark, dir, d), Seq(DvNameCol, DvPosCol), "left_anti")
            }
          } else {
            // the delete recorded its key columns under the names
            // CURRENT AT ITS COMMIT — map both sides to today's
            val cur = d.keyCols.map(k => currentName(m, k, d.seq))
            // a group whose files all predate a delete's key column
            // reads null there under the merged schema — null never
            // equals a key, every row survives; skip the join
            if (!cur.forall(df.columns.contains)) df
            else {
              val keyFrame = d.keyCols.zip(cur)
                .foldLeft(deleteKeys(spark, dir, d)) { case (kf, (o, n)) =>
                  if (o == n) kf else kf.withColumnRenamed(o, n)
                }
              df.join(keyFrame, cur, "left_anti")
            }
          }
        }
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      dropMeta(withLiveAdds(groupsJoined, m))
    }
  }

  /** The latest version committed at or before `tsMs` — timestamp
    * time travel's resolver ("the table as of last night 02:00").
    * Commit instants are stamped at publish; ties (same-millisecond
    * commits) resolve to the LATER version, matching "as of" reading.
    * Errors if the table has no version that old. */
  def versionAt(spark: SparkSession, dir: String, tsMs: Long): Long = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"snapshot table $dir has no committed version")
    val at = vs.filter(v => readManifest(spark, dir, v).committedAtMs <= tsMs)
    require(at.nonEmpty,
      s"snapshot table $dir has no version committed at or before $tsMs")
    at.max
  }

  /** Read the table as of a commit TIMESTAMP (versionAt + read). */
  def readAsOf(spark: SparkSession, dir: String, tsMs: Long): DataFrame =
    read(spark, dir, Some(versionAt(spark, dir, tsMs)))

  /** Order-preserving comparison of two normalized stat values;
    * None when the pair is incomparable (mixed types — the pruner
    * then keeps the file). Strings compare in UTF-8 BINARY order —
    * the order Spark's min/max aggregates computed the stats in —
    * never in java.lang.String's UTF-16 code-unit order: the two
    * disagree for supplementary characters (U+10000+) mixed with
    * [U+E000,U+FFFF], and a prune/classify proof in the wrong order
    * silently drops files that hold matching rows. */
  private def cmpStat(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => Some(x.compareTo(y))
    case (x: String, y: String) =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
    case _ => None
  }

  private def toStatVal(v: Any): Any = v match {
    case d: java.math.BigDecimal => d
    case d: BigDecimal => d.bigDecimal
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) =>
      new java.math.BigDecimal(n.toString)
    case b: BigInt => new java.math.BigDecimal(b.bigInteger)
    case s: String => s
    case d: java.sql.Date => d.toString // ISO yyyy-MM-dd, matches the stored canonical form
    // timestamps canonicalize to EPOCH MICROS as a number — the same
    // value `unix_micros` records at stats time, so tz-free and exact
    case t: java.sql.Timestamp =>
      new java.math.BigDecimal(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      new java.math.BigDecimal(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case other => throw new IllegalArgumentException(
      s"unsupported stat filter value $other (${other.getClass.getName})")
  }

  /** The subset of version `v`'s files that MAY satisfy `filters`,
    * decided from manifest stats alone (no data or footer I/O),
    * plus the version's total file count. A file without stats for a
    * filtered column always survives (conservative). */
  def pruneFiles(
      spark: SparkSession, dir: String,
      filters: Seq[StatFilter], version: Option[Long] = None): (Seq[String], Int) = {
    val (m, kept) = pruneEntries(spark, dir, filters, version)
    (kept.map(_.path), m.entries.size)
  }

  private def pruneEntries(
      spark: SparkSession, dir: String,
      filters: Seq[StatFilter], version: Option[Long]): (Manifest, Seq[Entry]) = {
    val m = manifestAt(spark, dir, version)
    val norm = filters.map(f =>
      (f.colName, f.lower.map(toStatVal), f.upper.map(toStatVal)))
    val kept = m.entries.filter { e =>
      // a proven-empty file (the CREATE TABLE seed, a fully-deleted
      // rewrite) matches NO predicate — prune it unconditionally
      e.rows != 0L && norm.forall { case (c, lo, hi) =>
        entryStat(m, e, c) match {
          case None => true
          case Some(st) =>
            val aboveLo = lo.forall(l => cmpStat(st.max, l).forall(_ >= 0))
            val belowHi = hi.forall(h => cmpStat(st.min, h).forall(_ <= 0))
            aboveLo && belowHi
        }
      }
    }
    (m, kept)
  }

  /** Read only the files whose manifest stats admit `filters` — the
    * planning-time half of predicate pushdown, at FILE granularity
    * and with zero data I/O for the decision. The result is a
    * SUPERSET of the matching rows (file stats are ranges); callers
    * compose the row-level filter on top, which the parquet scan then
    * pushes to row groups as usual. Empty prune → empty frame with
    * the table's head schema. */
  def readFiltered(
      spark: SparkSession, dir: String,
      filters: Seq[StatFilter], version: Option[Long] = None): DataFrame = {
    val (m, kept) = pruneEntries(spark, dir, filters, version)
    if (kept.isEmpty) read(spark, dir, version).limit(0)
    else entriesFrame(spark, dir, m, kept)
  }

  /** The subset of version `v`'s files that MAY contain any of
    * `values` in `colName`, decided from the manifest alone — bloom
    * fingerprints where the file carries them (the decisive test on
    * hash-clustered id columns, where every file's min/max spans the
    * whole domain and range pruning proves nothing), min/max stats
    * where it carries those, both per value (a file survives when
    * SOME value passes both tests). Conservative by construction: a
    * file without a bloom/stat for the column always survives, a
    * bloom negative is a proven absence (same canonical hash on both
    * sides), so the kept set is always a superset of the files
    * holding matches. Returns (kept paths, total file count).
    * `values` must be the column's type (integral/string/date — the
    * bloom-eligible set). */
  def pruneFilesByKeys(
      spark: SparkSession, dir: String, colName: String, values: Seq[Any],
      version: Option[Long] = None): (Seq[String], Int) = {
    val (m, kept) = pruneEntriesByKeys(spark, dir, colName, values, version)
    (kept.map(_.path), m.entries.size)
  }

  private def pruneEntriesByKeys(
      spark: SparkSession, dir: String, colName: String, values: Seq[Any],
      version: Option[Long]): (Manifest, Seq[Entry]) = {
    require(values.nonEmpty, "pruneFilesByKeys needs at least one key value")
    val m = manifestAt(spark, dir, version)
    val canon = values.map(bloomKeyString)
    val hashes = hashKeyStrings(spark, canon)
    val statVals = values.map(v => scala.util.Try(toStatVal(v)).toOption)
    val kept = m.entries.filter { e =>
      e.rows != 0L && { // a proven-empty file admits no key
      val bloom = writeTimeName(m, colName, e.seq)
        .flatMap(wt => entryBloom(spark, dir, e, wt)).map(b =>
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(b)))
      values.indices.exists { i =>
        val bloomOk = bloom.forall(_.mightContainLong(hashes(i)))
        val statOk = (entryStat(m, e, colName), statVals(i)) match {
          case (Some(st), Some(v)) =>
            cmpStat(st.min, v).forall(_ <= 0) && cmpStat(st.max, v).forall(_ >= 0)
          case _ => true
        }
        bloomOk && statOk
      }
    }}
    (m, kept)
  }

  /** Read only the files whose manifest blooms/stats admit any of
    * `values` in `colName` — the point-lookup / IN-list half of
    * planning-time pruning. SUPERSET semantics like readFiltered:
    * blooms admit false positives, so callers compose the row-level
    * `isin` filter on top. Empty prune → empty frame with the head
    * schema. */
  def readKeysFiltered(
      spark: SparkSession, dir: String, colName: String, values: Seq[Any],
      version: Option[Long] = None): DataFrame = {
    val (m, kept) = pruneEntriesByKeys(spark, dir, colName, values, version)
    if (kept.isEmpty) read(spark, dir, version).limit(0)
    else entriesFrame(spark, dir, m, kept)
  }

  /** Read with Catalyst-predicate-driven pruning: the caller hands ONE
    * arbitrary `Column` predicate — the way they'd write a `.filter` —
    * and the prunable conjuncts are extracted automatically: equality
    * and IN-lists prune through blooms AND stats, range comparisons
    * (`>`, `>=`, `<`, `<=`) prune through stats, everything else
    * (ORs, expressions over columns, UDF-ish conjuncts) prunes nothing
    * but still filters rows — the FULL predicate is re-applied on the
    * pruned scan, so the answer is always exactly the filter's rows.
    * This is the pushdown UX of a planner-integrated source without
    * the caller decomposing predicates into StatFilters/key lists by
    * hand. Strict bounds are relaxed to inclusive for the file test
    * (conservative superset; the row filter restores strictness). */
  def readWhere(
      spark: SparkSession, dir: String, predicate: Column,
      version: Option[Long] = None): DataFrame = {
    val (v, mf, ordered) = pruneWhere(spark, dir, predicate, version)
    (if (ordered.isEmpty) read(spark, dir, Some(v)).limit(0)
     else entriesFrame(spark, dir, mf, ordered))
      .filter(predicate)
  }

  /** The planning-time half of [[readWhere]] — (version, manifest,
    * pruned entry SUPERSET) for an arbitrary Catalyst predicate, so
    * other predicate-scoped operations (delete-vector commits) share
    * the same prune lattice without scanning the table. */
  private[graft] def pruneWhere(
      spark: SparkSession, dir: String, predicate: Column,
      version: Option[Long] = None): (Long, Manifest, Seq[Entry]) = {
    import org.apache.spark.sql.catalyst.expressions.{
      And, AttributeReference, EqualTo, Expression, GreaterThan,
      GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def attr(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // foldable covers bare literals AND the implicit Casts analysis
    // wraps them in (int literal vs bigint column, etc.)
    def litOf(e: Expression): Option[Any] =
      if (!e.foldable) None
      else Option(e.eval()).map {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case days: Int if e.dataType.isInstanceOf[DateType] =>
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        case other => other
      }
    val mf = manifestAt(spark, dir, version)
    val v = mf.version
    val allEntries = mf.entries
    val all = allEntries.map(_.path)
    var kept: Set[String] = all.toSet
    // resolve the predicate against the version's READ schema — every
    // entry's recorded schema merged, renames applied, drops hidden,
    // live ADD COLUMNs surfaced, so no Spark job — to get a catalyst
    // condition via the PUBLIC api; analysis failure = no pruning,
    // never a wrong answer. Any one file's physical schema can lack a
    // renamed or later-added column, and a predicate on it would then
    // fail analysis and prune nothing.
    val resolved: Seq[Expression] = scala.util.Try {
      val schema = renamedRawRead(spark, dir, mf, allEntries).schema
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      empty.filter(predicate).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.toSeq.flatMap(conjuncts)
    }.getOrElse(Seq.empty)
    // The prune lattice, recursive so DISJUNCTIONS compose: AND
    // intersects (either side alone is a valid upper bound), OR
    // UNIONS — a file survives when EITHER branch might match, so the
    // union of the branch prunes is exact-conservative, but only when
    // BOTH branches decompose (an unprunable branch makes the whole
    // OR unprunable). LIKE 'abc%' (StartsWith) prunes as the string
    // range [prefix, prefixSuccessor] — every prefixed string sorts
    // inside it, strict boundaries only over-keep. None = "prunes
    // nothing", the fail-open default.
    def pruneFor(e: Expression): Option[Set[String]] = e match {
      case And(l, r) => (pruneFor(l), pruneFor(r)) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (a, b) => a.orElse(b)
      }
      case org.apache.spark.sql.catalyst.expressions.Or(l, r) =>
        for (a <- pruneFor(l); b <- pruneFor(r)) yield a.union(b)
      case EqualTo(l, r) =>
        (for (c <- attr(l).orElse(attr(r)); value <- litOf(r).orElse(litOf(l)))
          yield scala.util.Try(
            pruneFilesByKeys(spark, dir, c, Seq(value), Some(v))._1.toSet)
            .toOption).flatten
      case In(l, list) =>
        attr(l).flatMap { c =>
          val values = list.flatMap(litOf)
          if (values.nonEmpty && values.size == list.size)
            scala.util.Try(
              pruneFilesByKeys(spark, dir, c, values, Some(v))._1.toSet).toOption
          else None
        }
      case GreaterThan(l, r) => rangeHalf(spark, dir, v, attr(l), litOf(r),
        attr(r), litOf(l), lowerOnAttrLeft = true)
      case GreaterThanOrEqual(l, r) => rangeHalf(spark, dir, v, attr(l), litOf(r),
        attr(r), litOf(l), lowerOnAttrLeft = true)
      case LessThan(l, r) => rangeHalf(spark, dir, v, attr(l), litOf(r),
        attr(r), litOf(l), lowerOnAttrLeft = false)
      case LessThanOrEqual(l, r) => rangeHalf(spark, dir, v, attr(l), litOf(r),
        attr(r), litOf(l), lowerOnAttrLeft = false)
      case org.apache.spark.sql.catalyst.expressions.StartsWith(l, r) =>
        (for (c <- attr(l); prefix <- litOf(r).collect {
          case s: String if s.nonEmpty => s
        }) yield scala.util.Try(pruneFiles(spark, dir,
          Seq(StatFilter(c, lower = Some(prefix), upper = prefixRange(prefix))),
          Some(v))._1.toSet).toOption).flatten
      case org.apache.spark.sql.catalyst.expressions.EqualNullSafe(l, r)
          if litOf(r).orElse(litOf(l)).isDefined =>
        // <=> with a NON-NULL literal matches exactly what = matches
        // (the null-safe half only differs when the literal is null)
        (for (c <- attr(l).orElse(attr(r)); value <- litOf(r).orElse(litOf(l)))
          yield scala.util.Try(
            pruneFilesByKeys(spark, dir, c, Seq(value), Some(v))._1.toSet)
            .toOption).flatten
      case org.apache.spark.sql.catalyst.expressions.Not(EqualTo(l, r)) =>
        // a SINGLE-VALUE file (min == max == the literal, zero nulls
        // immaterial — NULL != v is NULL under 3VL and filters out)
        // provably yields no `!= v` rows; every other file survives
        (for (c <- attr(l).orElse(attr(r)); value <- litOf(r).orElse(litOf(l));
              sv <- scala.util.Try(toStatVal(value)).toOption)
          yield allEntries.filterNot(e => entryStat(mf, e, c).exists(st =>
            cmpStat(st.min, sv).contains(0) && cmpStat(st.max, sv).contains(0)))
            .map(_.path).toSet)
      case org.apache.spark.sql.catalyst.expressions.IsNull(a1) =>
        // a file whose recorded null count is ZERO provably holds no
        // IS NULL matches; unknown counts (or absent stats — an
        // all-null file never records min/max) conservatively survive
        attr(a1).map(c => allEntries
          .filter(e => entryStat(mf, e, c).forall(_.nulls != 0L))
          .map(_.path).toSet)
      case _ => None // not decomposable: prunes nothing, row filter handles it
    }
    resolved.foreach(e => pruneFor(e).foreach(k => kept = kept.intersect(k)))
    (v, mf, allEntries.filter(e => kept.contains(e.path)))
  }

  /** The INCLUSIVE upper bound covering every string with `prefix`:
    * the prefix with its last char incremented (every prefixed string
    * sorts strictly below it; the bound itself only over-keeps). None
    * at the ￿ edge — no safe successor, the caller prunes on the
    * lower bound alone (fail-open on the upper side, never a wrongly
    * dropped file). */
  private[graft] def prefixRange(prefix: String): Option[String] =
    if (prefix.last == '￿') None
    else Some(prefix.init + (prefix.last + 1).toChar)

  /** One half-bounded StatFilter prune for `attr ⋛ lit` (or the
    * mirrored `lit ⋛ attr`); None when neither side decomposes. */
  private def rangeHalf(
      spark: SparkSession, dir: String, v: Long,
      attrL: Option[String], litR: Option[Any],
      attrR: Option[String], litL: Option[Any],
      lowerOnAttrLeft: Boolean): Option[Set[String]] = {
    val f = (attrL, litR) match {
      case (Some(c), Some(value)) =>
        Some(if (lowerOnAttrLeft) StatFilter(c, lower = Some(value))
        else StatFilter(c, upper = Some(value)))
      case _ => (attrR, litL) match {
        case (Some(c), Some(value)) =>
          // lit > attr  ⇔  attr < lit (mirror the bound)
          Some(if (lowerOnAttrLeft) StatFilter(c, upper = Some(value))
          else StatFilter(c, lower = Some(value)))
        case _ => None
      }
    }
    f.flatMap(sf => scala.util.Try(
      pruneFiles(spark, dir, Seq(sf), Some(v))._1.toSet).toOption)
  }

  /** COUNT(*) answered from the MANIFEST ALONE — zero data I/O at any
    * table size (the real formats' metadata-aggregate fast path;
    * every commit records per-file row counts, so the head count is a
    * sum over the entry list). Refuses loudly when any entry predates
    * row-count recording (an unknown file could hide any number of
    * rows — guessing would be a silent wrong answer; OPTIMIZE or a
    * rewriting commit refreshes its entries). */
  /** The metadata fast paths answer from per-file stats, which are
    * PHYSICAL — a pending merge-on-read delete makes them overcount
    * (the deleted rows still sit in the files). Refuse loudly rather
    * than answer wrong; `applyDeletes` restores the fast path. */
  private def requireNoPendingDeletes(m: Manifest, dir: String, what: String): Unit =
    require(m.deletes.isEmpty,
      s"$what on $dir cannot answer from metadata while ${m.deletes.size} " +
        "merge-on-read delete(s) are pending — run applyDeletes (or read the data)")

  def countRows(spark: SparkSession, dir: String, version: Option[Long] = None): Long = {
    val m = manifestAt(spark, dir, version)
    // positional delete vectors carry EXACT cardinality (their rows
    // field counts marked positions, disjoint across pending DVs by
    // commit-time construction and trimmed with the entry list at
    // every publish), so COUNT stays metadata-only under pending DVs
    // by subtraction — the fast path pending EQUALITY deletes must
    // still refuse (a key file's row count says nothing about how
    // many data rows match it).
    val (dvs, eqs) = m.deletes.partition(isDv)
    requireNoPendingDeletes(m.copy(deletes = eqs), dir, "countRows")
    require(dvs.forall(_.rows >= 0L),
      s"countRows on $dir: a pending delete vector lacks its exact count")
    val unknown = m.entries.filter(_.rows < 0L)
    require(unknown.isEmpty,
      s"countRows needs per-file row counts on every entry; missing on " +
        s"${unknown.map(_.path).mkString(", ")} — rewrite those files " +
        "(OPTIMIZE) or count the data directly")
    m.entries.map(_.rows).sum - dvs.map(_.rows).sum
  }

  /** COUNT(*) under an inclusive range predicate with METADATA
    * acceleration — the engine-grade filtered count: every file whose
    * stats prove FULL containment ([min,max] inside the bounds)
    * answers `rows − nulls` from the manifest (stats ignore nulls, so
    * containment proves exactly the non-null values match), files the
    * range provably excludes contribute zero, and only the BOUNDARY
    * files — those the stats can neither include nor exclude whole —
    * are scanned with the row filter. Exact always; zero data I/O
    * when the range aligns with the file layout (range-clustered
    * tables make that the common case). Returns
    * (count, coveredFiles, scannedFiles, totalFiles) so callers can
    * see how much the metadata answered. Files without the stat, a
    * row count, or a null count are conservatively scanned. */
  def countRowsWhere(
      spark: SparkSession, dir: String, filter: StatFilter,
      version: Option[Long] = None): (Long, Int, Int, Int) = {
    val (m, covered, boundary, total) = classifyByRange(spark, dir, filter, version)
    val metaCount = covered.map(e =>
      e.rows - entryStat(m, e, filter.colName).get.nulls).sum
    val scanned =
      if (boundary.isEmpty) 0L
      else boundaryFrame(spark, dir, m, boundary, filter).count()
    (metaCount + scanned, covered.size, boundary.size, total)
  }

  /** SUM(col) under the same inclusive range predicate, metadata-
    * accelerated the same way: a range-COVERED file contributes its
    * per-file stored sum (exactly the sum of its non-null values —
    * which containment proves are exactly the matches), only BOUNDARY
    * files scan. Per-file sums are recorded for INTEGRAL stat columns
    * only (exact in any order as BigDecimal; a distributed double sum
    * is order-dependent, so fractional columns never record one) — a
    * covered file without a stored sum falls back to the boundary
    * scan, keeping the answer exact, never approximate. Returns
    * (sum, coveredFromMetadata, scannedFiles, totalFiles). */
  def sumWhere(
      spark: SparkSession, dir: String, filter: StatFilter,
      version: Option[Long] = None): (java.math.BigDecimal, Int, Int, Int) = {
    val (m, covered, boundary0, total) = classifyByRange(spark, dir, filter, version)
    val (summed, unsummed) =
      covered.partition(e => entryStat(m, e, filter.colName).get.sum != null)
    val boundary = boundary0 ++ unsummed
    val metaSum = summed.foldLeft(java.math.BigDecimal.ZERO)((acc, e) =>
      acc.add(entryStat(m, e, filter.colName).get.sum
        .asInstanceOf[java.math.BigDecimal]))
    val scanned =
      if (boundary.isEmpty) java.math.BigDecimal.ZERO
      else {
        val bf = boundaryFrame(spark, dir, m, boundary, filter)
        requireIntegralSum(bf, filter.colName, "sumWhere", dir)
        val v = bf
          .agg(sum(col(filter.colName).cast(DecimalType(38, 0)))).head().get(0)
        if (v == null) java.math.BigDecimal.ZERO
        else v.asInstanceOf[java.math.BigDecimal].setScale(0)
      }
    (metaSum.add(scanned), summed.size, boundary.size, total)
  }

  /** The metadata-accelerated SUMs are exact-integer by contract:
    * per-file sums are recorded for integral columns only, and the
    * boundary scan's decimal(38,0) cast ROUNDS anything fractional —
    * 0.4+0.4+0.4 would "sum" to 0, a silently wrong answer dressed as
    * an exact one (ADVICE r11). Refuse non-integral sum columns
    * loudly (the requireNoPendingDeletes discipline): callers with a
    * fractional column aggregate the data directly, where Spark's own
    * sum semantics apply undisguised. */
  private def requireIntegralSum(
      df: DataFrame, colName: String, what: String, dir: String): Unit =
    df.schema(colName).dataType match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => ()
      case dt => throw new IllegalArgumentException(
        s"$what($colName) on $dir supports INTEGRAL sum columns only (got " +
          s"$dt) — the exact decimal fold would silently round fractional " +
          "values; aggregate the data directly for fractional sums")
    }

  /** GROUP BY `groupCol` COUNT(*) with METADATA acceleration — the
    * grouped companion of `countRows`: a file whose recorded min and
    * max for the column are EQUAL provably holds one group, so it
    * contributes `rows − nulls` to that group and `nulls` to the NULL
    * group straight from the manifest; only MIXED files (min < max,
    * or missing stats/rows/null counts) are scanned and grouped.
    * Exact always; zero data I/O when the layout clusters by the
    * group column (partitioned/range-clustered tables make that the
    * common case — the same discipline `countRowsWhere` applies to
    * ranges). Returns (grouped frame with columns (`groupCol`,
    * `n_rows`), metadataFiles, scannedFiles, totalFiles). Stat values
    * come back in the stored canonical forms (BigDecimal / String),
    * cast to the column's actual type through the scan schema. */
  def groupCounts(
      spark: SparkSession, dir: String, groupCol: String,
      version: Option[Long] = None): (DataFrame, Int, Int, Int) = {
    import spark.implicits._
    val m = manifestAt(spark, dir, version)
    // the countRowsWhere demotion discipline: equality deletes refuse,
    // delete VECTORS demote exactly the files they name to the scan
    // (which applies them) — the untouched bulk keeps the fast path
    val (dvsG, eqsG) = m.deletes.partition(isDv)
    requireNoPendingDeletes(m.copy(deletes = eqsG), dir, s"groupCounts($groupCol)")
    val dvTouchedG: Set[String] = dvsG.flatMap(_.dvFiles.map(_._1)).toSet
    require(m.entries.nonEmpty, s"version of $dir has no files — nothing to group")
    val (covered, mixed) = m.entries.partition { e =>
      e.rows >= 0L && !dvTouchedG.contains(e.path) &&
        entryStat(m, e, groupCol).exists(st =>
          st.nulls >= 0L && cmpStat(st.min, st.max).contains(0))
    }
    // metadata side: one tiny local frame of (canonical group string
    // or null, count) — group values ride as strings and are cast to
    // the column's type below, the stored canonical forms' contract
    val metaRows: Seq[(Option[String], Long)] = covered.flatMap { e =>
      val st = entryStat(m, e, groupCol).get
      val g = st.min match {
        case d: java.math.BigDecimal => d.toPlainString
        case s: String => s
        case other => throw new IllegalStateException(s"unexpected stat $other")
      }
      Seq(Some(g) -> (e.rows - st.nulls)) ++
        (if (st.nulls > 0L) Seq(Option.empty[String] -> st.nulls) else Nil)
    }
    val head = entriesFrame(spark, dir, m, m.entries)
    val dt = head.schema(groupCol).dataType
    val meta = metaRows.toDF("__g", "__n")
      .select(col("__g").cast(StringType).cast(dt).as(groupCol), col("__n"))
    val scanned =
      if (mixed.isEmpty) meta.limit(0)
      else entriesFrame(spark, dir, m, mixed)
        .groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val out = meta.unionByName(scanned)
      .groupBy(col(groupCol)).agg(sum("__n").as("n_rows"))
    (out, covered.size, mixed.size, m.entries.size)
  }

  /** GROUP BY `groupCol` SUM(`sumCol`) with METADATA acceleration —
    * groupCounts composed with the per-file stored sums: a file is
    * metadata-answerable when it provably holds ONE group (min = max)
    * with ZERO group-column nulls (a null would smear its sum between
    * the value group and the NULL group — unsplittable from file
    * totals) AND carries a stored sum for `sumCol` (recorded for
    * integral stat columns; exact BigDecimal, order-independent).
    * Everything else scans. Exact always; SUM is over non-null
    * `sumCol` values, the SQL convention. Returns (grouped frame
    * (`groupCol`, sum_val: decimal(38,0)), metadataFiles,
    * scannedFiles, totalFiles). */
  def groupSums(
      spark: SparkSession, dir: String, groupCol: String, sumCol: String,
      version: Option[Long] = None): (DataFrame, Int, Int, Int) = {
    import spark.implicits._
    val m = manifestAt(spark, dir, version)
    // same demotion as groupCounts: vectors demote their named files
    val (dvsS, eqsS) = m.deletes.partition(isDv)
    requireNoPendingDeletes(m.copy(deletes = eqsS), dir,
      s"groupSums($groupCol, $sumCol)")
    val dvTouchedS: Set[String] = dvsS.flatMap(_.dvFiles.map(_._1)).toSet
    require(m.entries.nonEmpty, s"version of $dir has no files — nothing to group")
    val (covered, mixed) = m.entries.partition { e =>
      !dvTouchedS.contains(e.path) &&
        entryStat(m, e, groupCol).exists(st =>
          st.nulls == 0L && cmpStat(st.min, st.max).contains(0)) &&
        entryStat(m, e, sumCol).exists(_.sum != null)
    }
    val metaRows: Seq[(String, java.math.BigDecimal)] = covered.map { e =>
      val g = entryStat(m, e, groupCol).get.min match {
        case d: java.math.BigDecimal => d.toPlainString
        case s: String => s
        case other => throw new IllegalStateException(s"unexpected stat $other")
      }
      g -> entryStat(m, e, sumCol).get.sum.asInstanceOf[java.math.BigDecimal]
    }
    val head = entriesFrame(spark, dir, m, m.entries)
    val dt = head.schema(groupCol).dataType
    val meta = metaRows.toDF("__g", "__s")
      .select(col("__g").cast(StringType).cast(dt).as(groupCol),
        col("__s").cast(DecimalType(38, 0)).as("__s"))
    val scanned =
      if (mixed.isEmpty) meta.limit(0)
      else {
        val mf = entriesFrame(spark, dir, m, mixed)
        requireIntegralSum(mf, sumCol, s"groupSums($groupCol, ·)", dir)
        mf.groupBy(col(groupCol))
          .agg(sum(col(sumCol).cast(DecimalType(38, 0))).as("__s"))
      }
    val out = meta.unionByName(scanned)
      .groupBy(col(groupCol))
      .agg(sum("__s").cast(DecimalType(38, 0)).as("sum_val"))
    (out, covered.size, mixed.size, m.entries.size)
  }

  /** Range classification shared by the metadata-accelerated
    * aggregates: (fully-covered entries, boundary entries, total).
    * Files the range provably excludes appear in neither list. */
  private def classifyByRange(
      spark: SparkSession, dir: String, filter: StatFilter,
      version: Option[Long]): (Manifest, Seq[Entry], Seq[Entry], Int) = {
    val m = manifestAt(spark, dir, version)
    // pending EQUALITY deletes make every file's stats unusable (a key
    // file says nothing about which data rows it dooms) — refuse as
    // ever. Pending delete VECTORS name exactly the files they touch:
    // only THOSE files lose their metadata answer and demote to the
    // boundary scan (which applies the vectors), while the table's
    // untouched bulk keeps the fast path — the delta-sized-DV-at-scale
    // posture: almost every file still answers from the manifest.
    val (dvs, eqs) = m.deletes.partition(isDv)
    requireNoPendingDeletes(m.copy(deletes = eqs), dir, "countRowsWhere/sumWhere")
    val dvTouched: Set[String] = dvs.flatMap(_.dvFiles.map(_._1)).toSet
    val lo = filter.lower.map(toStatVal)
    val hi = filter.upper.map(toStatVal)
    var covered = Vector.empty[Entry]
    var boundary = Vector.empty[Entry]
    m.entries.foreach { e =>
      entryStat(m, e, filter.colName) match {
        case Some(st) if e.rows >= 0L && st.nulls >= 0L =>
          val overlaps =
            lo.forall(l => cmpStat(st.max, l).forall(_ >= 0)) &&
              hi.forall(h => cmpStat(st.min, h).forall(_ <= 0))
          val contained =
            lo.forall(l => cmpStat(st.min, l).exists(_ >= 0)) &&
              hi.forall(h => cmpStat(st.max, h).exists(_ <= 0))
          val provablyOut = !overlaps &&
            lo.forall(l => cmpStat(st.max, l).isDefined) &&
            hi.forall(h => cmpStat(st.min, h).isDefined)
          // a provably-out file stays out whatever a vector deleted
          // (deletion only removes rows); a contained file a vector
          // touches can no longer answer rows-from-metadata — scan it
          if (provablyOut) ()
          else if (contained && !dvTouched.contains(e.path)) covered :+= e
          else boundary :+= e
        case _ => boundary :+= e
      }
    }
    (m, covered, boundary, m.entries.size)
  }

  private def boundaryFrame(
      spark: SparkSession, dir: String, m: Manifest, boundary: Seq[Entry],
      filter: StatFilter): DataFrame = {
    val df = entriesFrame(spark, dir, m, boundary)
    val c = col(filter.colName)
    // row-level literals keep the caller's ORIGINAL temporal values —
    // the micros canonical form is for STAT compares only (a decimal
    // literal against a timestamp column would compare in seconds)
    def rowLit(v: Any): Any = v match {
      case t: java.sql.Timestamp => t
      case i: java.time.Instant => i
      case other => statLit(toStatVal(other))
    }
    val preds = filter.lower.map(v => c >= lit(rowLit(v))).toSeq ++
      filter.upper.map(v => c <= lit(rowLit(v)))
    preds.reduceOption(_ && _).map(df.filter).getOrElse(df)
  }

  /** A stored stat value as a literal-friendly external value. */
  private def statLit(v: Any): Any = v match {
    case d: java.math.BigDecimal => d
    case other => other
  }

  /** (min, max) of a declared stat column from the manifest alone —
    * the metadata-only extreme: fold the per-file mins/maxes. Every
    * entry must carry the stat (a file without it could hide the true
    * extreme) and the values must be mutually comparable; both
    * violations are loud errors, never silent wrong answers. Values
    * come back in the stored canonical forms: `java.math.BigDecimal`
    * for numerics, `String` for strings and ISO dates. */
  def statExtremes(
      spark: SparkSession, dir: String, colName: String,
      version: Option[Long] = None): (Any, Any) = {
    val m = manifestAt(spark, dir, version)
    requireNoPendingDeletes(m, dir, s"statExtremes($colName)")
    require(m.entries.nonEmpty, s"version has no files — no extremes to report")
    val missing = m.entries.filter(e => entryStat(m, e, colName).isEmpty)
    require(missing.isEmpty,
      s"statExtremes($colName) needs the stat on every entry; missing on " +
        s"${missing.map(_.path).mkString(", ")}")
    val stats = m.entries.map(e => entryStat(m, e, colName).get)
    def pick(a: Any, b: Any, wantMin: Boolean): Any = cmpStat(a, b) match {
      case Some(c) => if ((c <= 0) == wantMin) a else b
      case None => throw new IllegalArgumentException(
        s"incomparable $colName stats ($a vs $b) — mixed types across files")
    }
    (stats.map(_.min).reduce(pick(_, _, wantMin = true)),
      stats.map(_.max).reduce(pick(_, _, wantMin = false)))
  }

  // ---------------------------------------------------------------
  // Commits
  // ---------------------------------------------------------------

  /** Commit-time expectations — the constraints gate of the
    * production formats: each (name, boolean SQL predicate) must hold
    * on EVERY batch row; any violation REFUSES the commit loudly with
    * per-expectation violation counts and publishes nothing. All
    * expectations are counted in ONE aggregate pass over the batch
    * (delta-sized, never the table). A null predicate result counts
    * as a violation (three-valued logic never sneaks a row past a
    * constraint). */
  private def checkExpectations(
      df: DataFrame, expectations: Seq[(String, String)], dir: String): Unit = {
    if (expectations.isEmpty) return
    val aggs = expectations.map { case (name, pred) =>
      sum(when(coalesce(expr(pred), lit(false)), 0L).otherwise(1L)).as(name)
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val bad = expectations.map(_._1).zipWithIndex
      .map { case (n, i) => n -> (if (r.isNullAt(i)) 0L else r.getLong(i)) }
      .filter(_._2 > 0)
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"commit to $dir refused: expectation violations " +
          bad.map { case (n, c) => s"$n=$c" }.mkString("[", ", ", "]"))
  }

  /** Expectations gate for ALREADY-LANDED batch files (the v2 write
    * paths — DML rewrites, streaming epochs, dynamic overwrite — land
    * files before the driver-side commit): one scan of the delta-sized
    * batch, refusing the WHOLE commit on any violation. The landed
    * files are swept by the write's abort / the orphan GC. */
  private[graft] def checkExpectationsFiles(
      spark: SparkSession, dir: String, relPaths: Seq[String],
      expectations: Seq[(String, String)]): Unit =
    if (expectations.nonEmpty && relPaths.nonEmpty)
      checkExpectations(
        rawRead(spark, dir, relPaths.map(Entry(_, Map.empty))),
        expectations, dir)

  /** Declare-time validation: SETTING an expectation on a table with
    * standing rows scans them ONCE and refuses if any violate — the
    * Delta ADD CONSTRAINT posture. Without this, the first write
    * touching a legacy file would refuse on rows the write never
    * changed, turning maintenance into a minefield. */
  private[graft] def validateNewExpectations(
      spark: SparkSession, dir: String,
      expectations: Seq[(String, String)]): Unit = {
    if (expectations.isEmpty || versions(spark, dir).isEmpty) return
    try checkExpectations(read(spark, dir), expectations, dir)
    catch {
      case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"cannot declare expectation(s) on $dir: standing rows " +
            s"already violate them — ${e.getMessage}", e)
    }
  }

  /** Append `df` as a new version; returns the committed version.
    * `statsCols` declares columns to record per-file min/max for —
    * the declaration is sticky (unioned into the table's existing
    * stat columns and recomputed for every future batch). Supported
    * stat types: integral, fractional, string, date. `bloomCols`
    * declares columns to record per-file BLOOM fingerprints for (same
    * sticky discipline; integral/string/date only) — the
    * data-skipping shape for point/IN lookups and key-bounded
    * MERGE/DELETE on id-like columns whose per-file min/max ranges
    * all overlap (hash-clustered layouts), where range stats prove
    * nothing. `expectations` are (name, boolean SQL) constraints
    * checked on the batch BEFORE anything is written — a violation
    * refuses the whole commit. */
  def commitAppend(
      df: DataFrame, dir: String, statsCols: Seq[String] = Nil,
      expectations: Seq[(String, String)] = Nil,
      bloomCols: Seq[String] = Nil,
      bucket: Option[(String, Int)] = None): Long = {
    checkExpectations(df, expectations, dir)
    commitBatch(df, dir, append = true, statsCols = statsCols,
      bloomCols = bloomCols, bucket = bucket).get // no ledger key ⇒ never a replay
  }

  /** Replace the table contents with `df` as a new version (old
    * versions stay readable until vacuum). */
  def commitOverwrite(
      df: DataFrame, dir: String, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bucket: Option[(String, Int)] = None,
      expectations: Seq[(String, String)] = Nil): Long = {
    checkExpectations(df, expectations, dir)
    commitBatch(df, dir, append = false, statsCols = statsCols,
      bloomCols = bloomCols, bucket = bucket).get // no ledger key ⇒ never a replay
  }

  private def headLedger(spark: SparkSession, dir: String): Ledger =
    versions(spark, dir).lastOption
      .map(readManifest(spark, dir, _).ledger)
      .getOrElse(Ledger())

  /** Is `batchId` already committed by writer `appId`? ONE head-
    * manifest read + an O(1) watermark/recent-set probe — the check a
    * micro-batch sink makes, at any commit count (the head carries a
    * per-writer watermark, not the full id set; survives overwrite,
    * compaction, vacuum). */
  def isBatchCommitted(
      spark: SparkSession, dir: String, batchId: Long, appId: String = ""): Boolean =
    headLedger(spark, dir).contains(appId, batchId)

  /** The HIGHEST committed batch id of writer `appId` — the O(1)
    * cursor read for monotone-id writers (the join-IVM sync keys on
    * it). None when the writer never committed. */
  def maxCommittedStreamId(
      spark: SparkSession, dir: String, appId: String): Option[Long] =
    headLedger(spark, dir).writers.get(appId).flatMap(_.maxId)

  /** Guard for the EXACT materializations below: reconstructing
    * {0..hwm} ∪ recent is test/observability surface, not the
    * per-batch path — a long-lived stream's watermark would make the
    * set huge, so refuse instead of allocating it. */
  private def boundedIds(w: WriterLedger, what: String): Iterator[Long] = {
    require(w.hwm < 1000000L,
      s"$what would materialize ${w.hwm + 1}+ ledger ids — use " +
        "isBatchCommitted/maxCommittedStreamId for point reads")
    w.ids
  }

  /** Stream-batch ids already committed (single-writer ledger),
    * MATERIALIZED — observability/test surface; bounded-watermark
    * tables only. Point checks go through `isBatchCommitted`. */
  def committedBatchIds(spark: SparkSession, dir: String): Set[Long] =
    headLedger(spark, dir).writers.get("")
      .map(w => boundedIds(w, "committedBatchIds").toSet)
      .getOrElse(Set.empty)

  /** Stream keys `appId:batchId` already committed, MATERIALIZED —
    * same observability contract as `committedBatchIds`. */
  def committedStreamKeys(spark: SparkSession, dir: String): Set[String] =
    headLedger(spark, dir).writers.toSeq.collect {
      case (app, w) if app.nonEmpty =>
        boundedIds(w, "committedStreamKeys").map(id => s"$app:$id")
    }.flatten.toSet

  /** Idempotent streaming append: the committed manifest carries the
    * micro-batch id, so a REPLAYED batch (foreachBatch is
    * at-least-once on failure/restart) finds its id in the ledger and
    * no-ops — the version ledger turns the sink's at-least-once
    * contract into exactly-once appends, the same ledger trick the
    * transactional formats use. Returns the committed version, or
    * None for a recognized replay.
    *
    * `appId` scopes the ledger per WRITER (the transactional formats'
    * (appId, batchId) key): two streaming queries ingesting into the
    * same table can both emit batch 0 — with distinct appIds each
    * replays exactly-once independently, because the manifest records
    * `appId:batchId` keys and only a writer's OWN key no-ops it. The
    * empty appId keeps the original single-writer contract (and its
    * numeric ledger) for existing tables and checkpoints. */
  def commitStreamBatch(
      df: DataFrame, dir: String, batchId: Long, statsCols: Seq[String] = Nil,
      expectations: Seq[(String, String)] = Nil,
      bloomCols: Seq[String] = Nil, appId: String = ""): Option[Long] = {
    require(!appId.contains(":"), s"appId must not contain ':' — got $appId")
    if (isBatchCommitted(df.sparkSession, dir, batchId, appId)) None
    else {
      checkExpectations(df, expectations, dir)
      // commitBatch re-checks the ledger INSIDE its retry loop — two
      // writers sharing an (appId, batchId) that both pass the
      // pre-check above race each other, and the loser must no-op,
      // not append a duplicate (ADVICE r11)
      commitBatch(df, dir, append = true,
        batchId = if (appId.isEmpty) Some(batchId) else None,
        statsCols = statsCols, bloomCols = bloomCols,
        streamKey = if (appId.isEmpty) None else Some(s"$appId:$batchId"))
    }
  }

  /** Write `df` under a fresh batch dir; returns dir-relative paths. */
  private def writeBatch(df: DataFrame, dir: String): Seq[String] = {
    val f = fs(df.sparkSession, dir)
    val batch = s"batch-${UUID.randomUUID().toString}"
    df.write.parquet(s"$dir/$batch")
    f.listStatus(new Path(s"$dir/$batch")).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(n => s"$batch/$n")
  }

  /** Drop a lost-race orphan batch: the data dir AND its `_blooms`
    * sidecar mirror (no manifest names either). */
  private[graft] def dropOrphanBatch(
      spark: SparkSession, dir: String, batchFiles: Seq[String]): Unit = {
    // sweep EVERY batch dir named by the list — a multi-group commit
    // (bucket-aware compaction writes one batch per bucket) loses its
    // race as a whole, so all of its batch dirs are orphans
    val f = fs(spark, dir)
    batchFiles.map(_.split('/').head).distinct.foreach { batch =>
      f.delete(new Path(s"$dir/$batch"), true)
      f.delete(new Path(s"$dir/_blooms/$batch"), true): Unit
    }
  }

  /** The canonical bigint key a bloom records and a probe hashes: the
    * value's STRING form (dates as ISO) through xxhash64. Both sides
    * of every probe — the commit-time build, the delta-frame probe in
    * `touchedFiles`, and the literal-value probe in
    * `pruneFilesByKeys` — derive the key through THIS expression, so
    * a bloom negative is a proven absence (false negatives would
    * silently skip a file; false positives only cost a scan).
    * Bloom columns are restricted to integral / string / date types:
    * their string forms are canonical (no scale or float-rendering
    * ambiguity between a column value and a caller's literal), and
    * they are the id-shaped columns blooms exist for — range stats
    * already serve columns with numeric locality. */
  /** Manifest JSON value marking a bloom stored OUT of line. Blooms
    * above [[InlineBloomMaxBytes]] live as sidecar files at a path
    * derived from the data file's own relative path
    * (`_blooms/<relpath>.<col>.bloom`), so the manifest stays a
    * kilobytes-scale metadata read no matter how many keys the files
    * hold — a 1M-key bloom is ~1.2 MB; inlining it per file per
    * column would turn a 1000-file manifest into gigabytes. The
    * deterministic mapping keeps lifecycle management free: a
    * carried-forward entry carries its sidecar untouched (same data
    * path ⇒ same sidecar path, and a data file's bloom never changes
    * after commit), and vacuum deletes a dead file's sidecars by the
    * same name derivation. Probe sites read a sidecar only for files
    * that survive to the probe — bounded by the candidate file count,
    * never table-scaled. */
  private val SidecarMarker = "@sidecar"
  private[graft] val InlineBloomMaxBytes = 64 << 10

  private def sidecarBloomPath(dir: String, relPath: String, c: String): Path =
    new Path(s"$dir/_blooms/$relPath.$c.bloom")

  private def entryHasBloom(e: Entry, c: String): Boolean =
    e.blooms.contains(c) || e.sidecarBloomCols.contains(c)

  /** The entry's bloom bytes for column `c`: inline from the manifest,
    * or one sidecar read. A missing sidecar file is a loud error —
    * the manifest names it, so absence means the table dir was
    * corrupted, and treating it as "no bloom" would silently degrade
    * pruning forever. */
  private def entryBloom(
      spark: SparkSession, dir: String, e: Entry, c: String): Option[Array[Byte]] =
    e.blooms.get(c).orElse {
      if (!e.sidecarBloomCols.contains(c)) None
      else {
        val f = fs(spark, dir)
        val p = sidecarBloomPath(dir, e.path, c)
        require(f.exists(p), s"manifest names bloom sidecar $p but it is missing")
        val in = f.open(p)
        try {
          val bos = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 64 << 10, false)
          Some(bos.toByteArray)
        } finally in.close()
      }
    }

  private def bloomKeyHash(c: Column, dt: DataType, name: String): Column = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: StringType => xxhash64(c.cast(StringType))
    case _: DateType => xxhash64(date_format(c, "yyyy-MM-dd"))
    case other => throw new IllegalArgumentException(
      s"bloom column $name has unsupported type $other " +
        "(supported: integral, string, date)")
  }

  /** Driver-side canonical string of a caller-supplied key literal —
    * must render exactly as the column's Spark `cast(... as string)`
    * does, which the restricted bloom type set guarantees. */
  private def bloomKeyString(v: Any): String = v match {
    case s: String => s
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case b: BigInt => b.toString
    case d: java.sql.Date => d.toString // ISO yyyy-MM-dd
    case other => throw new IllegalArgumentException(
      s"unsupported bloom key value $other (${other.getClass.getName}; " +
        "supported: integral, string, date)")
  }

  /** xxhash64 of canonical key strings, computed by Spark itself so
    * the hash family matches the build side bit-for-bit. One tiny
    * local job over |values| rows — bounded by the caller's IN-list,
    * never data-scaled. */
  private def hashKeyStrings(spark: SparkSession, values: Seq[String]): Seq[Long] = {
    import spark.implicits._
    values.toDF("__k").select(xxhash64(col("__k"))).collect().map(_.getLong(0)).toSeq
  }

  /** Entries (per-file min/max over `statsCols`, per-file bloom
    * fingerprints over `bloomCols`) for just-written batch files. Two
    * delta-sized passes, never table-scaled: ONE aggregate grouped by
    * `input_file_name` yields all stats plus per-file ROW COUNTS
    * (always recorded — they make COUNT(*) and, with stats, MIN/MAX a
    * manifest-only read via `countRows`/`statExtremes`; on a plain
    * no-stats commit this pass projects zero data columns, so it is a
    * metadata-speed count scan of the delta); a second (only when
    * blooms are declared) builds every file's bloom sized to the
    * batch's largest file at `bloomFpp`. Dates are canonicalized to
    * ISO strings (lexicographic order == chronological); unsupported
    * column types fail loudly rather than record stats/blooms that
    * can't be compared. Blooms over [[InlineBloomMaxBytes]] spill to
    * sidecar files; the build buffer cap below bounds executor
    * aggregation memory. */
  /** Reserved stat key recording a data file's HASH BUCKET — written
    * by bucketed commits (`bucket = Some((col, n))`), consumed by the
    * storage-partitioned-join scan. min == max is REQUIRED at commit
    * (every file holds exactly one bucket). The key is PARAMETERIZED
    * by the spec that produced it: a file bucketed under (id, 8) must
    * never satisfy a scan asking about (id, 16) — an ALTERed bucket_n
    * with stale per-file stats would otherwise be a FALSE co-location
    * claim (silent wrong join results). A file without the current
    * spec's key (a pre-bucketing commit, a cross-bucket compaction, a
    * spec change) disqualifies the table from the SPJ fast path —
    * graceful fallback, never a wrong claim; CALL rebucket restores. */
  private[graft] def bucketStatKey(c: String, n: Int): String =
    s"__bucket:$c:$n"

  /** Exact row count and Spark schema of one parquet file from its
    * FOOTER — a driver-side metadata read (what the production formats
    * record at write time), so the per-commit file census never costs
    * a Spark job. Delta-sized: called once per NEW file, never per
    * table (and per file of an older manifest that recorded no
    * schema, at read time). */
  private def readFooter(spark: SparkSession, p: Path): (Long, StructType) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(p, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try (r.getRecordCount, GraftParquetSchema.fromFooter(spark, p, r.getFooter))
    finally r.close()
  }

  private def batchEntries(
      spark: SparkSession, dir: String,
      relPaths: Seq[String], statsCols: Seq[String],
      bloomCols: Seq[String] = Nil, bloomFpp: Double = 0.01,
      bucket: Option[(String, Int)] = None): Seq[Entry] = {
    if (relPaths.isEmpty) return Seq.empty
    val f = fs(spark, dir)
    // per-file row census and schema from the parquet footers — exact,
    // driver-side, no job; the counts also size the bloom aggregation
    // buffers below. bytes: one delta-sized getFileStatus per NEW file
    // — planner statistics (auto-broadcast) read it from the manifest
    // forever
    val bare: Seq[Entry] = relPaths.map { p =>
      val (rows, schema) = readFooter(spark, new Path(s"$dir/$p"))
      val len = scala.util.Try(
        f.getFileStatus(new Path(s"$dir/$p")).getLen).getOrElse(-1L)
      Entry(p, Map.empty, rows = rows, bytes = len, schema = Some(schema))
    }
    // plain commits (no declared stats/bloom/bucket columns) need no
    // read-back at all: entries are footer counts + file lengths
    if (statsCols.isEmpty && bloomCols.isEmpty && bucket.isEmpty) return bare
    val df0 = rawRead(spark, dir, bare)
    // the bucket id is DERIVED at stats time from the same murmur3
    // hash the write path partitioned on — never a physical column
    val df = bucket match {
      case Some((c, n)) if df0.columns.contains(c) =>
        df0.withColumn(bucketStatKey(c, n),
          pmod(hash(col(c)), lit(n)).cast(LongType))
      case _ => df0
    }
    val present = statsCols.filter(df0.columns.contains) ++
      bucket.map(b => bucketStatKey(b._1, b._2))
        .filter(df.columns.contains).toSeq
    val bloomPresent = bloomCols.filter(df0.columns.contains)
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def statExpr(c: String): Column = fields(c) match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DecimalType | _: StringType => col(c)
      case _: DateType => date_format(col(c), "yyyy-MM-dd")
      // epoch micros: tz-free, exact, numeric — compares against the
      // micros canonical form toStatVal produces for filter values
      case _: TimestampType => unix_micros(col(c))
      case dt => throw new IllegalArgumentException(
        s"stat column $c has unsupported type $dt (supported: numeric, string, date, timestamp)")
    }
    // fail loudly on a bad bloom type BEFORE any aggregate runs
    bloomPresent.foreach(c => bloomKeyHash(col(c), fields(c), c))
    def integral(c: String): Boolean = fields(c) match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
      case _ => false
    }
    // declared columns can all be absent from this batch's schema —
    // then there is nothing to aggregate and the footer census suffices
    if (present.isEmpty && bloomPresent.isEmpty) return bare
    // stats AND blooms ride ONE aggregation job (guide §1.2 — don't
    // read the batch back twice; the bloom buffers are sized from the
    // footer census, which the old second pass derived from the first)
    val bloomAggs =
      if (bloomPresent.isEmpty) Nil
      else {
        val maxRows = bare.map(_.rows).max.max(1L)
        require(maxRows <= 10_000_000L,
          s"a $maxRows-row file's bloom is a ~12 MB aggregation buffer — " +
            "write smaller data files (or raise bloomFpp) before declaring bloom columns")
        bloomPresent.map(c => call_function("bloom_agg",
          bloomKeyHash(col(c), fields(c), c), lit(maxRows), lit(bloomFpp)).as(s"__bl_$c"))
      }
    val aggs = present.flatMap(c =>
      Seq(min(statExpr(c)).as(s"__min_$c"), max(statExpr(c)).as(s"__max_$c"),
        count(col(c)).as(s"__nn_$c")) ++
        (if (integral(c))
          Seq(sum(col(c).cast(DecimalType(38, 0))).as(s"__sum_$c")) else Nil)) ++
      bloomAggs :+ count(lit(1)).as("__cnt")
    // EXACT path resolution (the touchedFiles discipline): map each
    // qualified batch-file path back to its dir-relative name — never
    // an endsWith suffix scan
    val relByQualified: Map[String, String] =
      relPaths.map(rp => qualifiedPath(spark, s"$dir/$rp") -> rp).toMap
    def relOf(abs: String): Option[String] =
      relByQualified.get(qualifiedPath(spark, abs))
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    // every aggregate row MUST map back through relOf: an
    // input_file_name() the qualifiedPath mapping misses (URI-encoding
    // divergence, scheme drift) would silently drop that file's
    // stats/blooms from the manifest forever — fail the commit LOUDLY
    // instead (ADVICE r14)
    rows.foreach { r =>
      require(relOf(r.getString(0)).isDefined,
        s"stats aggregate saw file '${r.getString(0)}' that maps to none " +
          s"of the ${relPaths.size} batch paths under $dir — path " +
          "canonicalization diverged between input_file_name() and " +
          "qualifiedPath; refusing the commit rather than recording a " +
          "false proven-empty census for the unmatched file")
    }
    val statsByRel: Map[String, Map[String, FileStat]] = rows.flatMap { r =>
      relOf(r.getString(0)).map { rp =>
        val stats = present.flatMap { c =>
          (Option(r.getAs[Any](s"__min_$c")), Option(r.getAs[Any](s"__max_$c"))) match {
            case (Some(mn), Some(mx)) => Some(c -> FileStat(toStatVal(mn), toStatVal(mx),
              r.getAs[Long]("__cnt") - r.getAs[Long](s"__nn_$c"),
              if (integral(c))
                Option(r.getAs[java.math.BigDecimal](s"__sum_$c"))
                  .map(_.setScale(0)).orNull
              else null))
            case _ => None // all-null column in this file: no stat, pruner keeps it
          }
        }.toMap
        rp -> stats
      }
    }.toMap
    val bloomsByRel: Map[String, Map[String, Array[Byte]]] =
      if (bloomPresent.isEmpty) Map.empty
      else rows.flatMap { r =>
        relOf(r.getString(0)).map { rp =>
          rp -> bloomPresent.map(c => c -> r.getAs[Array[Byte]](s"__bl_$c")).toMap
        }
      }.toMap
    bare.map { e =>
      val p = e.path
      val all = bloomsByRel.getOrElse(p, Map.empty)
      val (big, inline) = all.partition(_._2.length > InlineBloomMaxBytes)
      big.foreach { case (c, bytes) =>
        val out = f.create(sidecarBloomPath(dir, p, c), true)
        try out.write(bytes) finally out.close()
      }
      // row counts are the parquet footers' exact record counts —
      // a 0 there is a proven-empty census (unconditional prune,
      // vacuous all-match for DELETE; the empty seed file CREATE
      // TABLE commits rides this)
      val st = statsByRel.getOrElse(p, Map.empty)
      // a bucketed commit must land single-bucket files — a violation
      // here would let the SPJ scan claim a co-location that is false
      if (bucket.isDefined && e.rows > 0L) {
        val bs = st.getOrElse(bucketStatKey(bucket.get._1, bucket.get._2),
          throw new IllegalStateException(
            s"bucketed commit produced no bucket stat for $p"))
        require(cmpStat(bs.min, bs.max).contains(0),
          s"bucketed commit wrote a CROSS-bucket file $p " +
            s"(${bs.min}..${bs.max}) — partition the batch on the bucket " +
            "column before committing")
      }
      e.copy(stats = st, blooms = inline, sidecarBloomCols = big.keySet)
    }
  }

  /** Returns None when the batch's ledger key (batchId / streamKey)
    * turns out to be already committed — checked against EVERY head
    * read, not just once up front, so two writers racing the same key
    * can never both append (ADVICE r11). */
  private def commitBatch(
      df: DataFrame, dir: String, append: Boolean,
      batchId: Option[Long] = None, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, streamKey: Option[String] = None,
      bucket: Option[(String, Int)] = None): Option[Long] = {
    val spark = df.sparkSession
    var batch: Seq[String] = Nil
    var entriesOf: Manifest => Seq[Entry] = null
    var opsAtWrite: (Seq[Rename], Seq[Drop]) = null
    def stage(rows: DataFrame): Unit = {
      batch = writeBatch(rows, dir)
      entriesOf = stagedEntries(spark, dir, batch, bucket)
    }
    transact(spark, dir, "commit", create = true) { m =>
      val headOps = (m.renames, m.drops)
      if (batchId.exists(m.ledger.contains("", _)) || streamKey.exists(m.ledger.containsKey)) {
        // a racing writer committed our key between head reads: the
        // batch is a recognized replay, never a duplicate append
        NoCommit(orphans = batch)
      } else {
        if (opsAtWrite == null) {
          // the batch is written AFTER the first head read, so the
          // schema-op state it was written under is EXACTLY opsAtWrite —
          // any op observed later arrived via a lost race and triggers
          // the rewrite below
          stage(df)
          opsAtWrite = headOps
        } else if (append && opsAtWrite != headOps) {
          // a racing writer committed a rename/drop AFTER our batch
          // files were written: published as-is they would carry seq >
          // the op's seq under the OLD names, so reads would surface
          // the stale name as a null-padded extra column and MoR key
          // mapping would silently skip these files (ADVICE r11).
          // Rewrite the batch under the current names. (Overwrites
          // reset the rename/drop lists — the caller's names are final
          // there; no rewrite.)
          val stale = batch
          stage(applySchemaOps(rawRead(spark, dir, stale.map(Entry(_, Map.empty))),
            opsSince(dir, "commit", opsAtWrite, m)))
          dropOrphanBatch(spark, dir, stale)
          opsAtWrite = headOps
        }
        val led = batchId.fold(m.ledger)(m.ledger.add("", _))
        val d = declare(m, statsCols, bloomCols).copy(ledger = streamKey.fold(led)(led.addKey))
        Publish(landed(d, entriesOf(d).map(_.copy(seq = m.version + 1)), !append))
      }
    }.toOption
  }

  /** OPTIMIZE: rewrite the head's file set into ceil(bytes / target)
    * compacted files and commit the result as a NEW version — the
    * Sinks.compact operation lifted into the format, where it belongs
    * at scale: readers of in-flight older versions are untouched (they
    * hold their manifest's files, which vacuum respects), and the
    * swap is the same atomic manifest publish every commit uses — no
    * rename-aside dance over live directories. Returns the committed
    * version.
    */
  def compactHead(spark: SparkSession, dir: String, targetBytes: Long): Long = {
    require(targetBytes > 0)
    val f = fs(spark, dir)
    val fls = manifestAt(spark, dir).entries.map(_.path)
    val bytes = fls.map(p => f.getFileStatus(new Path(resolve(dir, p))).getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    commitOverwrite(read(spark, dir).coalesce(n), dir)
  }

  /** RESTORE: make version `v`'s contents the new HEAD — rollback as
    * a forward commit, exactly the real formats' shape: the new
    * manifest carries v's entries BY REFERENCE (a metadata-only
    * commit, zero data I/O at any table size), history between v and
    * the old head stays time-travelable, and the batch-id ledger is
    * carried forward so stream replays keep no-oping. The undo button
    * for a bad merge/delete/overwrite, without losing the evidence of
    * what it undid. Returns the committed version.
    */
  def restore(spark: SparkSession, dir: String, v: Long): Long = {
    val target = readManifest(spark, dir, v) // throws if absent
    // everything reverts WITH the target — stats/bloom declarations
    // name columns under the target's rename/drop state, and its own
    // segments carry by name (a metadata-only commit, zero entry bytes
    // rewritten) — except the LEDGER, which stays the head's: batch
    // ids are monotone facts, not schema
    transact(spark, dir, "restore")(m => Publish(target.copy(ledger = m.ledger))).merge
  }

  /** RENAME a column — METADATA-ONLY schema evolution beyond the
    * additive default: one manifest commit, zero data files touched
    * at any table size. The rename is seq-scoped like the
    * merge-on-read deletes: it applies at read time to files written
    * BEFORE it (their frames surface under the new name), files
    * written after already carry it, and every rewriting commit
    * (merge/delete/OPTIMIZE) normalizes the files it touches — the
    * list self-drains as the table churns. Per-file STATS stay keyed
    * by the write-time name; every metadata consumer (pruning,
    * blooms, grouped/filtered aggregates, clustering report) maps a
    * current name back through the rename history before the lookup,
    * so planning-time pruning on the NEW name keeps working over OLD
    * files. The declared statsCols/bloomCols follow the rename
    * (future commits record under the new name). Refused when `from`
    * is absent from the logical schema or `to` already present —
    * renames never shadow. Returns the committed version. */
  def commitRenameColumn(
      spark: SparkSession, dir: String, from: String, to: String): Long = {
    require(from != to, "commitRenameColumn needs distinct names")
    transact(spark, dir, "rename") { m =>
      val cols = entriesFrame(spark, dir, m, m.entries).columns.toSet
      require(cols.contains(from),
        s"commitRenameColumn: no column '$from' in the logical schema of $dir")
      require(!cols.contains(to),
        s"commitRenameColumn: '$to' already exists in $dir — renames never shadow")
      def follow(c: String) = if (c == from) to else c
      Publish(m.copy(statsCols = m.statsCols.map(follow), bloomCols = m.bloomCols.map(follow),
        renames = m.renames :+ Rename(from, to, m.version + 1)))
    }.merge
  }

  /** DROP a column — the erasure half of schema evolution, also
    * METADATA-ONLY and seq-scoped: files written before the drop hide
    * the column at read time (their values are logically erased and
    * NEVER resurface, even if a later append re-adds the name — a
    * re-added column is a fresh generation, old files read null under
    * it and their old stats never serve it), files written after
    * simply don't carry it, and rewriting commits physically shed it
    * from the files they touch. The declared statsCols/bloomCols shed
    * the name. Refused while a pending merge-on-read delete keys on
    * the column (the delete would silently stop applying — apply the
    * deletes first) and when the column is absent. Returns the
    * committed version. */
  def commitDropColumn(spark: SparkSession, dir: String, name: String): Long =
    transact(spark, dir, "drop") { m =>
      require(entriesFrame(spark, dir, m, m.entries).columns.contains(name),
        s"commitDropColumn: no column '$name' in the logical schema of $dir")
      m.deletes.foreach { d =>
        require(!d.keyCols.map(k => currentName(m, k, d.seq)).contains(name),
          s"commitDropColumn: a pending merge-on-read delete keys on '$name' — " +
            "run applyDeletes first, or the retraction would silently stop applying")
      }
      Publish(m.copy(statsCols = m.statsCols.filterNot(_ == name),
        bloomCols = m.bloomCols.filterNot(_ == name),
        drops = m.drops :+ Drop(name, m.version + 1)))
    }.merge

  /** ADD a column (`ALTER TABLE … ADD COLUMN`) — the widening half of
    * schema evolution, METADATA-ONLY and seq-scoped like rename/drop:
    * the commit records the name and declared type; files written
    * before it read NULL under the column (the format's ordinary
    * pre-widening behavior), files written after carry it physically
    * (at which point the merged read schema surfaces it and the
    * recorded add is inert). Time travel to a pre-add version shows
    * the pre-widening schema. Refused when the name is already in the
    * logical schema — including a live prior add. Returns the
    * committed version. */
  def commitAddColumn(
      spark: SparkSession, dir: String, name: String, dt: DataType): Long =
    transact(spark, dir, "add-column") { m =>
      val cols: Set[String] =
        (if (m.entries.nonEmpty)
          entriesFrame(spark, dir, m, m.entries).columns.toSet
        else Set.empty) ++ liveAdds(m).map(_._1)
      require(!cols.contains(name),
        s"commitAddColumn: '$name' already exists in $dir")
      Publish(m.copy(adds = m.adds :+ AddCol(name, dt.json, m.version + 1)))
    }.merge

  /** DESCRIBE HISTORY — one row per committed version, answered from
    * the MANIFESTS alone (zero data I/O): file-census deltas
    * (added/removed/carried vs the previous version), the pending
    * merge-on-read delete count, and the same manifest-only
    * classification `changesPath` uses — "create" for v1, then
    * append | mor-delete | schema-evolution | content-diff. The audit
    * surface every versioned format ships: who-did-what reads off the
    * ledger, not the data tree. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"snapshot table $dir has no committed version")
    val ms = vs.map(v => v -> readManifest(spark, dir, v))
    val rows = ms.zip(None +: ms.map(Some(_))).map {
      case ((v, m), prev) =>
        val cur = m.entries.map(_.path).toSet
        val before = prev.map(_._2.entries.map(_.path).toSet).getOrElse(Set.empty)
        val opClass = prev match {
          case None => "create"
          case Some((_, pm)) => classifyChanges(pm, m)
        }
        (v, m.committedAtMs, m.entries.size,
          (cur -- before).size, (before -- cur).size,
          cur.intersect(before).size, m.deletes.size, opClass)
    }
    rows.toDF("version", "committed_at_ms", "n_files", "n_added",
      "n_removed", "n_carried", "n_pending_deletes", "op_class")
  }

  /** One-row table DETAIL from the head manifest alone (the
    * `graft_table_detail` TVF): version, file/row/byte census, pending
    * MoR deletes, declared stats/bloom columns. Row and byte totals
    * are null when ANY entry predates their recording — a partial sum
    * would read as the whole table. */
  def detail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = manifestAt(spark, dir)
    def total(f: Entry => Long): Option[Long] = {
      val xs = m.entries.map(f)
      if (xs.exists(_ < 0L)) None else Some(xs.sum)
    }
    Seq((m.version, m.committedAtMs, m.entries.size,
      total(_.rows), total(_.bytes), m.deletes.size,
      m.statsCols.mkString(","), m.bloomCols.mkString(",")))
      .toDF("version", "committed_at_ms", "n_files", "total_rows",
        "total_bytes", "n_pending_deletes", "stats_cols", "bloom_cols")
  }

  /** SHOW PARTITIONS for a `PARTITIONED BY` table, answered from the
    * head manifest's per-file stats ALONE — zero data I/O (the
    * `graft_table_detail` discipline per partition value; surfaced as
    * the `graft_table_partitions` TVF).
    *
    * The format clusters instead of physically scoping files to
    * partitions, so attribution is stat-proof-based: a file belongs
    * to a partition tuple when every transform's min and max stats
    * land in the SAME partition value (and the column has zero
    * nulls). Files whose stats span a boundary are reported honestly
    * under a NULL `partition` ("straddling") row rather than guessed —
    * day-batched ingestion (the layout's intended write pattern)
    * produces none. Temporal truncation uses the session timezone,
    * same clock as `date_trunc` everywhere else. */
  def partitionCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.dsv2.GraftTableProps
    val props = GraftTableProps.read(spark, dir)
    val spec = GraftTableProps.partitionSpec(props)
    require(spec.nonEmpty,
      s"snapshot table $dir declares no PARTITIONED BY spec — " +
        "there are no partitions to list")
    val m = manifestAt(spark, dir)
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    def truncRender(fn: String, micros: java.math.BigDecimal): String = {
      val z = java.time.ZonedDateTime.ofInstant(
        java.time.Instant.EPOCH.plus(
          micros.longValueExact(), java.time.temporal.ChronoUnit.MICROS),
        zone)
      fn match {
        case "days" => z.toLocalDate.toString
        case "hours" => f"${z.toLocalDate}T${z.getHour}%02d"
        case "months" => f"${z.getYear}%04d-${z.getMonthValue}%02d"
        case "years" => f"${z.getYear}%04d"
      }
    }
    val truncWidths: Map[String, Int] =
      props.get("partitioned_by").toSeq.flatMap(_.split(", ")).collect {
        case t if t.startsWith("truncate(") =>
          val inner = t.stripPrefix("truncate(").stripSuffix(")")
          val Array(w, c) = inner.split(",", 2)
          c -> w.toInt
      }.toMap
    // one transform's partition value for an entry, when provable
    def assign(e: Entry, fn: String, c: String): Option[String] = fn match {
      case "bucket" =>
        val n = GraftTableProps.bucketSpec(props).map(_._2).getOrElse(0)
        e.stats.get(s"__bucket:$c:$n").collect {
          case FileStat(mn: java.math.BigDecimal, mx: java.math.BigDecimal, _, _)
            if mn.compareTo(mx) == 0 => mn.toBigInteger.toString
        }
      case _ =>
        entryStat(m, e, c).flatMap { s =>
          if (s.nulls != 0L) None // null rows belong to no partition
          else (fn, s.min, s.max) match {
            case ("identity", mn, mx) if cmpStat(
              toStatVal(mn), toStatVal(mx)).contains(0) =>
              Some(String.valueOf(mn))
            case ("truncate", mn: String, mx: String) =>
              val w = truncWidths.getOrElse(c, 0)
              val p = mn.take(w)
              if (w > 0 && mx.take(w) == p) Some(p) else None
            case (t, mn: java.math.BigDecimal, mx: java.math.BigDecimal)
              if t == "days" || t == "hours" || t == "months" || t == "years" =>
              val p = truncRender(t, mn)
              if (truncRender(t, mx) == p) Some(p) else None
            // DATE columns store ISO-string stats (the same DDL admits
            // days(d) on DATE — the census must not call them all
            // straddlers)
            case (t, mn: String, mx: String)
              if t == "days" || t == "hours" || t == "months" || t == "years" =>
              (scala.util.Try(java.time.LocalDate.parse(mn)).toOption,
                scala.util.Try(java.time.LocalDate.parse(mx)).toOption) match {
                case (Some(lo), Some(hi)) =>
                  def render(d: java.time.LocalDate): String = t match {
                    case "days" => d.toString
                    case "hours" => s"${d}T00" // a DATE is its day's hour 0
                    case "months" =>
                      f"${d.getYear}%04d-${d.getMonthValue}%02d"
                    case "years" => f"${d.getYear}%04d"
                  }
                  val p = render(lo)
                  if (render(hi) == p) Some(p) else None
                case _ => None
              }
            case _ => None
          }
        }
    }
    def render(fn: String, c: String, v: String): String = fn match {
      case "identity" => s"$c=$v"
      case "bucket" =>
        s"bucket(${GraftTableProps.bucketSpec(props).map(_._2).getOrElse(0)},$c)=$v"
      case "truncate" => s"truncate(${truncWidths.getOrElse(c, 0)},$c)=$v"
      case _ => s"$fn($c)=$v"
    }
    val live = m.entries.filter(_.rows != 0L)
    val assigned: Seq[(Option[String], Entry)] = live.map { e =>
      val parts = spec.map { case (fn, c) =>
        assign(e, fn, c).map(render(fn, c, _)) }
      (if (parts.forall(_.isDefined)) Some(parts.flatten.mkString("/"))
       else None) -> e
    }
    def agg(es: Seq[Entry], f: Entry => Long): Option[Long] = {
      val xs = es.map(f)
      if (xs.exists(_ < 0L)) None else Some(xs.sum)
    }
    assigned.groupBy(_._1).toSeq.map { case (p, es0) =>
      val es = es0.map(_._2)
      (p, es.size.toLong, agg(es, _.rows), agg(es, _.bytes))
    }.sortBy(_._1)
      .toDF("partition", "n_files", "n_rows", "n_bytes")
  }

  /** The report one `maintainTable` pass leaves behind — which
    * primitives fired and what they found. */
  final case class MaintenanceReport(
      deletesFolded: Int,
      foldVersion: Option[Long],
      compactVersion: Option[Long],
      orphansSwept: Int,
      versionsDropped: Int)

  /** ONE scheduled maintenance pass — the OPTIMIZE job a production
    * table runs nightly, composing the already-proven primitives in
    * the order that matters: (1) `applyDeletes` folds pending
    * merge-on-read deletes (restoring the metadata fast paths and
    * single-scan reads), (2) `compactSmallFiles` coalesces the
    * splinter tail micro-batch commits accrete, (3) `gcOrphans`
    * sweeps crashed-writer residue under the grace, (4) `vacuum` ages
    * manifest history out by count. Each step is answer-preserving on
    * its own (its driver row/spec states it), so the composition is
    * answer-preserving by construction; each commits separately, so a
    * crash mid-pass leaves a valid table that the next pass finishes.
    * `keepVersions` must cover live tags and in-flight time-travel
    * readers — the vacuum contract, unchanged. Returns what fired. */
  def maintainTable(
      spark: SparkSession, dir: String,
      smallBytes: Long = 8L << 20, targetBytes: Long = 128L << 20,
      orphanGraceMs: Long = 24L * 3600 * 1000,
      keepVersions: Int = 10): MaintenanceReport = {
    val pending = pendingDeletes(spark, dir).size
    val headBefore = versions(spark, dir).last
    val folded = if (pending > 0) Some(applyDeletes(spark, dir)) else None
    val compactHeadBefore = versions(spark, dir).last
    val compacted = compactSmallFiles(spark, dir, smallBytes, targetBytes)
    val orphans = gcOrphans(spark, dir, orphanGraceMs)
    val dropped = vacuum(spark, dir, keepVersions)
    MaintenanceReport(
      deletesFolded = pending,
      foldVersion = folded.filter(_ > headBefore),
      compactVersion = Some(compacted).filter(_ > compactHeadBefore),
      orphansSwept = orphans,
      versionsDropped = dropped)
  }

  /** Garbage-collect ORPHANS: parquet files under batch-* and
    * delete-* dirs that NO manifest references — crashed writers and lost
    * races whose own cleanup died. Vacuum ages out manifest HISTORY;
    * this sweeps what never made it into a manifest at all (the real
    * formats' "remove orphan files" maintenance action). `graceMs`
    * guards in-flight writers: a file younger than the grace is
    * assumed to belong to a commit still racing toward its publish
    * and is skipped. An orphan data file's bloom sidecars die with it
    * (same name derivation as vacuum's). Returns files deleted. */
  def gcOrphans(spark: SparkSession, dir: String, graceMs: Long): Int = {
    val f = fs(spark, dir)
    var liveSegs = Set.empty[String]
    val live: Set[String] = versions(spark, dir).flatMap { v =>
      val m = readManifest(spark, dir, v)
      liveSegs ++= m.segments.map(_.name)
      m.entries.map(_.path) ++ m.deletes.flatMap(_.paths)
    }.toSet
    val now = System.currentTimeMillis()
    var n = 0
    // entry segments no manifest names — crashed writers whose
    // lost-race cleanup died; same grace as the data orphans
    val md = new Path(s"$dir/$ManifestDir")
    if (f.exists(md))
      f.listStatus(md).toSeq
        .filter(s => s.getPath.getName.startsWith("seg-") &&
          !liveSegs.contains(s.getPath.getName) &&
          now - s.getModificationTime >= graceMs)
        .foreach { s =>
          f.delete(s.getPath, false)
          segmentCache.remove(s"$dir/$ManifestDir/${s.getPath.getName}")
          n += 1
        }
    f.listStatus(new Path(dir)).toSeq
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith("batch-") ||
          s.getPath.getName.startsWith("delete-")))
      .foreach { d =>
        f.listStatus(d.getPath).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach { st =>
            val rel = s"${d.getPath.getName}/${st.getPath.getName}"
            if (!live.contains(rel) && now - st.getModificationTime >= graceMs) {
              val bdir = new Path(s"$dir/_blooms/${d.getPath.getName}")
              if (f.exists(bdir))
                f.listStatus(bdir).toSeq
                  .filter(_.getPath.getName.startsWith(st.getPath.getName + "."))
                  .foreach(b => f.delete(b.getPath, false))
              f.delete(st.getPath, false)
              n += 1
            }
          }
        // a dir left with no parquet holds only writer markers
        // (_SUCCESS) — sweep it whole; any surviving live parquet
        // keeps the dir, and the grace guards a mid-write dir whose
        // parquet has not landed yet
        if (now - d.getModificationTime >= graceMs &&
          !f.listStatus(d.getPath).exists(_.getPath.getName.endsWith(".parquet")))
          f.delete(d.getPath, true): Unit
      }
    n
  }

  /** GC-deferred DROP TABLE, part 1 — the tombstone: the catalog's
    * DROP writes `_manifests/_dropped.json` instead of deleting the
    * tree, so a concurrent reader holding a pinned version (time
    * travel, a running stream) finishes its scan; the identifier
    * disappears from the catalog immediately. Part 2 is
    * [[gcDroppedTables]] at the vacuum horizon. */
  private[graft] def markDropped(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    val out = f.create(new Path(s"$dir/$ManifestDir/_dropped.json"), true)
    try out.write(
      s"""{"droppedAtMs": ${System.currentTimeMillis()}}""".getBytes(UTF_8))
    finally out.close()
  }

  private[graft] def isDropped(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(s"$dir/$ManifestDir/_dropped.json"))

  private def droppedAtMs(spark: SparkSession, dir: String): Option[Long] = {
    val f = fs(spark, dir)
    val p = new Path(s"$dir/$ManifestDir/_dropped.json")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      Some(mapper.readTree(bytes).get("droppedAtMs").asLong)
    }
  }

  /** GC-deferred DROP TABLE, part 2 — the sweep: physically delete
    * every tombstoned table under `root` (namespace dirs one level
    * down, plus root-level tables) whose tombstone is older than
    * `graceMs` — the maintenance half of the catalog's deferred DROP,
    * run on the same schedule as gcOrphans/vacuum. Returns the number
    * of table trees deleted. */
  def gcDroppedTables(
      spark: SparkSession, root: String,
      graceMs: Long = 24L * 3600 * 1000): Int = {
    val f = fs(spark, root)
    val rp = new Path(root)
    if (!f.exists(rp)) return 0
    val now = System.currentTimeMillis()
    def isTable(p: Path): Boolean = f.exists(new Path(p, ManifestDir))
    def sweep(p: Path): Int =
      droppedAtMs(spark, p.toString) match {
        case Some(at) if now - at >= graceMs => f.delete(p, true); 1
        case _ => 0
      }
    f.listStatus(rp).toSeq.filter(_.isDirectory).map { d =>
      if (isTable(d.getPath)) sweep(d.getPath)
      else f.listStatus(d.getPath).toSeq
        .filter(s => s.isDirectory && isTable(s.getPath))
        .map(s => sweep(s.getPath)).sum
    }.sum
  }

  /** Named TAGS — human-meaningful pointers into the version history
    * ("baseline", "v2024-audit", "pre-migration"): a tag is one tiny
    * json under `_tags/`, created atomically-if-absent (the
    * tryPublish discipline — re-tagging a taken name fails loudly,
    * never silently repoints), resolved by `readTag`/`tagVersion`.
    * Tags are REFERENCES, not retention: vacuum keeps manifests by
    * count, so tag anything you vacuum past and the read fails loudly
    * at resolve time — pass keepVersions generous enough to cover
    * live tags (the same caveat every versioned format documents).
    * Deleting a tag never touches data. */
  def createTag(spark: SparkSession, dir: String, name: String, version: Long): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"),
      s"tag name must be [A-Za-z0-9._-]+ — got '$name'")
    readManifest(spark, dir, version) // throws if the version is absent
    val f = fs(spark, dir)
    f.mkdirs(new Path(s"$dir/_tags"))
    val tmp = new Path(s"$dir/_tags/.tmp-${UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    try out.write(s"""{"version": $version}""".getBytes(UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(f.getUri, spark.sparkContext.hadoopConfiguration)
    try fc.rename(tmp, new Path(s"$dir/_tags/$name.json"), Options.Rename.NONE)
    catch {
      case _: FileAlreadyExistsException =>
        f.delete(tmp, false)
        throw new IllegalArgumentException(
          s"tag '$name' already exists on $dir — tags never repoint silently; " +
            "deleteTag first if you mean it")
    }
  }

  def tagVersion(spark: SparkSession, dir: String, name: String): Long = {
    val f = fs(spark, dir)
    val p = new Path(s"$dir/_tags/$name.json")
    require(f.exists(p), s"no tag '$name' on $dir")
    val in = f.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    mapper.readTree(bytes).get("version").asLong
  }

  /** Read the table at a named tag — `read` at the tag's version (a
    * vacuumed-away version fails loudly at manifest resolve). */
  def readTag(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, dir, Some(tagVersion(spark, dir, name)))

  def deleteTag(spark: SparkSession, dir: String, name: String): Unit = {
    val f = fs(spark, dir)
    require(f.delete(new Path(s"$dir/_tags/$name.json"), false),
      s"no tag '$name' on $dir")
  }

  /** Clustering-health report from the MANIFEST alone (zero data
    * I/O at any table size): for a stats column, the maximum number
    * of files whose [min,max] ranges overlap at any point — depth 1
    * means a range/point query opens one file (perfectly clustered),
    * depth = |files| means every file spans the domain (hash-layout;
    * range stats prune nothing) — plus how many files a mid-domain
    * point lookup would keep. The OPTIMIZE advisor: re-cluster when
    * maxDepth crosses the caller's budget. Sweep over the collected
    * bounds, O(|files| log |files|) driver work on metadata the
    * manifest already holds. Files without stats for the column are
    * counted in `untracked` (they'd never prune — the conservative
    * read). Returns (maxOverlapDepth, totalFiles, untracked). */
  def clusteringDepth(
      spark: SparkSession, dir: String, colName: String,
      version: Option[Long] = None): (Int, Int, Int) = {
    val m = manifestAt(spark, dir, version)
    val (tracked, untracked) =
      m.entries.partition(e => entryStat(m, e, colName).nonEmpty)
    val events = tracked.flatMap { e =>
      val st = entryStat(m, e, colName).get
      Seq((st.min, 1), (st.max, -1))
    }
    // close AFTER open at the same point: closed intervals touching at
    // a bound DO overlap there, so opens sort first
    val sorted = events.sortWith { (a, b) =>
      val c = cmpStat(a._1, b._1).getOrElse(
        throw new IllegalStateException(
          s"incomparable stat bounds for $colName — mixed canonical forms"))
      if (c != 0) c < 0 else a._2 > b._2
    }
    var depth = 0
    var maxDepth = 0
    sorted.foreach { case (_, d) => depth += d; if (depth > maxDepth) maxDepth = depth }
    (maxDepth, m.entries.size, untracked.size)
  }

  /** OPTIMIZE at FILE granularity — the compaction shape the real
    * formats run on schedule: rewrite ONLY files smaller than
    * `smallBytes` (micro-batch and per-window commits accrete these)
    * into ceil(smallTotal/targetBytes) coalesced files; every
    * already-well-sized file carries into the new manifest BY
    * REFERENCE, path and stats verbatim — so compacting a streaming
    * table's splinter tail costs the tail, never the table (the
    * commitMerge copy-on-write discipline applied to hygiene).
    * Returns the committed version, or the current head when fewer
    * than two small files exist (nothing to coalesce — no empty
    * commit). Stats for the compacted output are recomputed over the
    * new batch only.
    */
  def compactSmallFiles(
      spark: SparkSession, dir: String,
      smallBytes: Long, targetBytes: Long): Long = {
    require(smallBytes > 0 && targetBytes > 0)
    val f = fs(spark, dir)
    transact(spark, dir, "compactSmallFiles") { m =>
      val (small, large) = sizedEntries(spark, dir, m.entries, f).partition(_._2 < smallBytes)
      // the compacted output is the small files' LOGICAL rows: pending
      // merge-on-read deletes are folded in here (the rewrite carries
      // a fresh seq, past which they no longer apply), while the
      // manifest keeps the delete list for the carried large files
      if (small.size <= 1) NoCommit()
      else rewrite(dir, m, large.map(_._1), entriesFrame(spark, dir, m, small.map(_._1))
        .coalesce(filesFor(small, targetBytes)))
    }.merge
  }

  /** ceil(bytes / target) output files for compacting `sized`. */
  private def filesFor(sized: Seq[(Entry, Long)], targetBytes: Long): Int =
    math.max(1, math.ceil(sized.map(_._2).sum.toDouble / targetBytes).toInt)

  /** A Column predicate as a manifest-classifiable [[DmlPred]]:
    * resolved against the table's own frame (implicit casts land on
    * the LITERAL side or nowhere), then translated conjunct-wise —
    * comparisons/IN over bare columns and foldable literals, AND/OR.
    * None when any piece falls outside that shape (casts on the
    * column, functions, subqueries): scoped maintenance must refuse
    * loudly rather than silently widen or narrow its file set. */
  private[graft] def columnToDmlPred(
      spark: SparkSession, dir: String, predicate: Column): Option[DmlPred] = {
    import org.apache.spark.sql.catalyst.expressions.{
      And, AttributeReference, EqualTo, Expression, GreaterThan,
      GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
    def litOf(e: Expression): Option[Any] =
      if (!e.foldable) None
      else Option(e.eval()).map {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case days: Int if e.dataType.isInstanceOf[DateType] =>
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        case other => other
      }
    def tr(e: Expression): Option[DmlPred] = e match {
      case Literal(true, org.apache.spark.sql.types.BooleanType) =>
        Some(PredTrue)
      case And(l, r) => for (a <- tr(l); b <- tr(r)) yield PredAnd(a, b)
      case org.apache.spark.sql.catalyst.expressions.Or(l, r) =>
        for (a <- tr(l); b <- tr(r)) yield PredOr(a, b)
      case EqualTo(a: AttributeReference, v) if v.foldable =>
        litOf(v).map(PredEq(a.name, _))
      case EqualTo(v, a: AttributeReference) if v.foldable =>
        litOf(v).map(PredEq(a.name, _))
      case In(a: AttributeReference, vs) if vs.forall(_.foldable) =>
        val lits = vs.map(litOf)
        if (lits.exists(_.isEmpty)) None
        else Some(PredIn(a.name, lits.flatten))
      case GreaterThan(a: AttributeReference, v) if v.foldable =>
        litOf(v).map(l => PredRange(a.name, Some((l, false)), None))
      case GreaterThan(v, a: AttributeReference) if v.foldable =>
        litOf(v).map(l => PredRange(a.name, None, Some((l, false))))
      case GreaterThanOrEqual(a: AttributeReference, v) if v.foldable =>
        litOf(v).map(l => PredRange(a.name, Some((l, true)), None))
      case GreaterThanOrEqual(v, a: AttributeReference) if v.foldable =>
        litOf(v).map(l => PredRange(a.name, None, Some((l, true))))
      case LessThan(a: AttributeReference, v) if v.foldable =>
        litOf(v).map(l => PredRange(a.name, None, Some((l, false))))
      case LessThan(v, a: AttributeReference) if v.foldable =>
        litOf(v).map(l => PredRange(a.name, Some((l, false)), None))
      case LessThanOrEqual(a: AttributeReference, v) if v.foldable =>
        litOf(v).map(l => PredRange(a.name, None, Some((l, true))))
      case LessThanOrEqual(v, a: AttributeReference) if v.foldable =>
        litOf(v).map(l => PredRange(a.name, Some((l, true)), None))
      case _ => None
    }
    scala.util.Try {
      read(spark, dir).filter(predicate)
        .queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }
    }.toOption.flatten.flatMap(tr)
  }

  /** SCOPED OPTIMIZE — `compactWhere`: merge the small files WITHIN
    * the file set the predicate PROVABLY covers (all-match by
    * manifest stats, the commitReplaceWhere discipline) — the
    * "compact yesterday's partition on a 100 TB table" shape.
    * Boundary and non-matching files are never touched, so the
    * rewrite is bounded by the scope, not the table, and clustering
    * outside the scope cannot degrade. Rewritten rows fold applicable
    * pending merge-on-read deletes (fresh seq) while carried files
    * keep the delete list, and `tryPublish` trims delete vectors
    * against the surviving entries — the compactSmallFiles contract,
    * scoped. Returns (committed version — the unchanged head when
    * fewer than two scoped small files exist, number of files
    * compacted). */
  def compactWhere(
      spark: SparkSession, dir: String, predicate: Column,
      smallBytes: Long, targetBytes: Long): (Long, Int) = {
    require(smallBytes > 0 && targetBytes > 0)
    val p = columnToDmlPred(spark, dir, predicate).getOrElse(
      throw new IllegalArgumentException(
        s"compactWhere on $dir: the predicate is not manifest-" +
          "classifiable — use plain comparisons/IN over columns and " +
          "literals (casts, functions, and subqueries cannot prove " +
          "file coverage from stats)"))
    val f = fs(spark, dir)
    var compacted = 0
    transact(spark, dir, "compactWhere") { m =>
      val small = sizedEntries(spark, dir,
        m.entries.filter(e => classifyEntry(m, e, p).contains(true)), f)
        .filter(_._2 < smallBytes)
      compacted = small.size
      if (small.size <= 1) NoCommit()
      else rewrite(dir, m, m.entries.filterNot(e => small.exists(_._1.path == e.path)),
        entriesFrame(spark, dir, m, small.map(_._1)).coalesce(filesFor(small, targetBytes)))
    }.fold(head => (head, 0), v => (v, compacted))
  }

  /** BUCKET-AWARE small-file compaction: merge small files WITHIN
    * each hash bucket, never across — the maintenance pass a
    * bucket-declared table (especially one writing with
    * `bucket_write_fanout`, which multiplies files per commit by
    * design) needs, without paying `CALL rebucket`'s full-table
    * rewrite or destroying the per-file `__bucket` stats every
    * storage-partitioned join depends on.
    *
    * Eligibility is PROOF-based, the format's discipline everywhere:
    * only files carrying the CURRENT spec's single-valued `__bucket`
    * stat (zero nulls) group; anything else — pre-bucketing commits,
    * spec changes — carries untouched (those files already disqualify
    * the SPJ fast path; rebucket restores them). Buckets with one
    * small file have nothing to merge. All rewritten buckets publish
    * as ONE commit; rewritten rows fold pending MoR deletes (fresh
    * seq), carried files keep the delete list — the compactSmallFiles
    * contract per bucket. Returns the committed (or unchanged head)
    * version. */
  /** Per-entry byte sizes, from the manifest census when recorded —
    * per-file getFileStatus over a 100 TB table's entries is exactly
    * the listing-shaped planning the format exists to avoid; only
    * legacy entries predating byte recording are stat'd. */
  private def sizedEntries(
      spark: SparkSession, dir: String, entries: Seq[Entry],
      f: FileSystem): Seq[(Entry, Long)] =
    entries.map(e =>
      e -> (if (e.bytes >= 0L) e.bytes
            else f.getFileStatus(new Path(resolve(dir, e.path))).getLen))

  def compactBucketsSmallFiles(
      spark: SparkSession, dir: String,
      smallBytes: Long, targetBytes: Long,
      bucket: (String, Int)): Long = {
    require(smallBytes > 0 && targetBytes > 0)
    val (c, n) = bucket
    val key = bucketStatKey(c, n)
    val f = fs(spark, dir)
    // fold pending merge-on-read deletes FIRST (the
    // commitReplacePartitions discipline): a delete dooming every row
    // of a grouped bucket would otherwise rewrite to a 0-row file the
    // single-bucket require refuses — maintenance must not dead-end on
    // its own input
    applyDeletes(spark, dir)
    transact(spark, dir, "compactBucketsSmallFiles") { m =>
      def bucketOf(e: Entry): Option[Long] = e.stats.get(key).flatMap { s =>
        (s.min, s.max) match {
          case (mn: java.math.BigDecimal, mx: java.math.BigDecimal)
            if mn.compareTo(mx) == 0 && s.nulls == 0L =>
            Some(mn.longValueExact())
          case _ => None
        }
      }
      val groups = sizedEntries(spark, dir, m.entries, f)
        .filter { case (e, len) => e.rows != 0L && len < smallBytes }
        .flatMap { case (e, len) => bucketOf(e).map(v => (v, (e, len))) }
        .groupMap(_._1)(_._2).filter(_._2.size >= 2)
      if (groups.isEmpty) NoCommit()
      else {
        val rewritten = groups.values.flatten.map(_._1.path).toSet
        val results = groups.toSeq.sortBy(_._1).map { case (_, es) =>
          val batchFiles = writeBatch(entriesFrame(spark, dir, m, es.map(_._1))
            .coalesce(filesFor(es, targetBytes)), dir)
          batchFiles -> batchEntries(spark, dir, batchFiles, m.statsCols,
            m.bloomCols, m.bloomFpp, bucket = Some(bucket))
        }
        // a group folded empty (every row doomed between the fold above
        // and this pass) simply DROPS from the census — a 0-row file
        // carries no stats and names no bucket
        val newEntries = results.flatMap(_._2).filter(_.rows != 0L)
        require(newEntries.forall(e => bucketOf(e).isDefined),
          s"bucket compaction on $dir produced a file without a " +
            "single-valued __bucket stat — refusing to publish")
        Publish(m.copy(entries = m.entries.filterNot(e => rewritten.contains(e.path)) ++
          newEntries.map(_.copy(seq = m.version + 1))), staged = results.flatMap(_._1))
      }
    }.merge
  }

  /** OPTIMIZE ZORDER: compactHead with a Morton-interleaved layout
    * (Sinks.zValue — bit i of each dimension lands at output bits
    * 2i/2i+1), committed as a new version whose manifest records
    * per-file min/max for BOTH dimensions. The z-sort is what makes
    * those stats sharp: range-partitioning on the interleaved key
    * narrows every file's range in both columns at once, so a
    * StatFilter on either (or both) prunes files from the manifest
    * alone — the two-hot-dimension layout (time × user, id × key)
    * the plain zorder_prune row proves for bare dirs, lifted into the
    * versioned format so OPTIMIZE never downgrades pruning. `bits`
    * must cover the larger column domain (wraparound aliases distant
    * values into one z-cell — clustering degrades, correctness
    * doesn't). Returns the committed version.
    */
  def compactHeadZOrdered(
      spark: SparkSession, dir: String, colA: String, colB: String,
      targetBytes: Long, bits: Int = 16): Long = {
    require(targetBytes > 0)
    val f = fs(spark, dir)
    val fls = manifestAt(spark, dir).entries.map(_.path)
    val bytes = fls.map(p => f.getFileStatus(new Path(resolve(dir, p))).getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = read(spark, dir)
    require(!df.columns.contains("_z"), "compactHeadZOrdered reserves the column name _z")
    val sorted = df
      .withColumn("_z", Sinks.zValue(col(colA), col(colB), bits))
      .repartitionByRange(n, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
    commitOverwrite(sorted, dir, statsCols = Seq(colA, colB))
  }

  /** The candidate entries of `entries` that a bloom probe cannot rule
    * out: an entry survives when SOME delta key row hits the entry's
    * bloom on EVERY probed column (a row the file actually contains
    * hashes into all of its blooms, so dropping an entry is a proven
    * absence — tighter than per-column independent tests, still
    * conservative). Entries missing a bloom for any probed column
    * always survive. The probe is distributed: file blooms ride to
    * executors once via broadcast, each deserialized once per
    * partition; the collect is bounded by the candidate FILE count,
    * never row-scaled. */
  private def bloomSurvivors(
      spark: SparkSession, dir: String, m: Manifest, entries: Seq[Entry],
      keyed: DataFrame, bloomKeys: Seq[String],
      fields: Map[String, DataType]): Seq[Entry] = {
    def wt(e: Entry, c: String): Option[String] = writeTimeName(m, c, e.seq)
    val (probed, unprobed) =
      entries.partition(e =>
        bloomKeys.forall(c => wt(e, c).exists(entryHasBloom(e, _))))
    if (probed.isEmpty) return entries
    val hashed = keyed.select(bloomKeys.map(k =>
      bloomKeyHash(col(k), fields(k), k).as(s"__h_$k")): _*)
    val bcast = spark.sparkContext.broadcast(
      probed.map(e => e.path ->
        bloomKeys.map(c => entryBloom(spark, dir, e, wt(e, c).get).get)).toArray)
    try {
      import spark.implicits._
      val nk = bloomKeys.size
      val hitPaths = hashed.mapPartitions { it =>
        val files = bcast.value.map { case (p, bs) =>
          p -> bs.map(b => org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(b)))
        }
        it.flatMap { row =>
          val hs = Array.tabulate(nk)(row.getLong)
          files.iterator.collect {
            case (p, bls) if (0 until nk).forall(i => bls(i).mightContainLong(hs(i))) => p
          }
        }
      }.distinct().collect().toSet
      unprobed ++ probed.filter(e => hitPaths.contains(e.path))
    } finally bcast.unpersist()
  }

  /** The head files that contain at least one key of `keyed` (a frame
    * holding exactly the distinct key columns): manifest-stats
    * pruning on EVERY key column that carries stats narrows the
    * candidate set with zero I/O (one delta-sized aggregate yields
    * all the key ranges), a bloom probe on every key column that
    * carries blooms narrows it further (the layout-independent half:
    * on a hash-clustered id column every file spans the full range,
    * so stats keep everything and ONLY the blooms bound the rewrite
    * set), then one key-bounded semi-style join over the survivors
    * (projecting `input_file_name` BEFORE the shuffle) names the
    * exact touched files. The collects are bounded by the candidate
    * file count — never row-scaled. */
  /** The stats+bloom HALF of touchedFiles: the entries of `m` a
    * key-frame cannot rule out, decided with zero data I/O (one
    * delta-sized range aggregate + the broadcast bloom probe).
    * Superset semantics — exactness, when needed, is the caller's
    * join. */
  private def prunedCandidates(
      spark: SparkSession, dir: String, m: Manifest,
      keyed: DataFrame, keys: Seq[String],
      among: Seq[Entry] = null): Seq[Entry] = {
    val pool = if (among == null) m.entries else among
    val statKeys = keys.filter(m.statsCols.contains)
    val ranged =
      if (statKeys.isEmpty) pool
      else {
        // the delta's key ranges are small to compute (ONE delta-sized
        // agg) and discard every head file whose stats lie outside ANY
        // of them (a file must overlap on every key to hold a match)
        val aggs = statKeys.flatMap(k =>
          Seq(min(col(k)).as(s"mn_$k"), max(col(k)).as(s"mx_$k")))
        val r = keyed.agg(aggs.head, aggs.tail: _*).collect()(0)
        val ranges = statKeys.flatMap { k =>
          (Option(r.getAs[Any](s"mn_$k")), Option(r.getAs[Any](s"mx_$k"))) match {
            case (Some(mn), Some(mx)) => Some(k -> (toStatVal(mn), toStatVal(mx)))
            case _ => None
          }
        }
        pool.filter { e =>
          ranges.forall { case (k, (lo, hi)) =>
            entryStat(m, e, k) match {
              case None => true
              case Some(st) =>
                cmpStat(st.max, lo).forall(_ >= 0) && cmpStat(st.min, hi).forall(_ <= 0)
            }
          }
        }
      }
    val bloomKeys = keys.filter(m.bloomCols.contains)
      .filter(k => keyed.columns.contains(k))
    if (bloomKeys.isEmpty || ranged.isEmpty) ranged
    else bloomSurvivors(spark, dir, m, ranged, keyed, bloomKeys,
      keyed.schema.fields.map(f => f.name -> f.dataType).toMap)
  }

  /** Read only the files of `version` (default head) that MAY contain
    * a key row of `keyed` — the delta-frame form of readKeysFiltered,
    * for key sets too large for a driver-side IN-list: stats ranges
    * and the distributed bloom probe decide from the manifest alone.
    * SUPERSET semantics: callers compose the exact join on top (the
    * incremental-view delta rules do exactly that — the base side of
    * ΔR ⋈ S is bounded by ΔR's keys instead of scanning S). */
  /** The version's LOGICAL rows restricted to the entries whose paths
    * appear in `paths` — the DSv2 source's execution half: the scan
    * builder prunes through the manifest, this reads exactly the
    * survivors (MoR deletes and schema ops applied, like every read).
    * Empty `paths` → empty frame with the version's schema. */
  def readPaths(
      spark: SparkSession, dir: String, paths: Seq[String],
      version: Option[Long] = None): DataFrame = {
    val m = manifestAt(spark, dir, version)
    val want = paths.toSet
    val kept = m.entries.filter(e => want.contains(e.path))
    if (kept.isEmpty) read(spark, dir, Some(m.version)).limit(0)
    else entriesFrame(spark, dir, m, kept)
  }

  def readMatching(
      spark: SparkSession, dir: String, keyed: DataFrame, keys: Seq[String],
      version: Option[Long] = None): DataFrame = {
    val m = manifestAt(spark, dir, version)
    val kept = prunedCandidates(spark, dir, m, keyed, keys)
    if (kept.isEmpty) read(spark, dir, Some(m.version)).limit(0)
    else entriesFrame(spark, dir, m, kept)
  }

  /** A path's fully-qualified scheme-free form — the shared canonical
    * shape `input_file_name()` outputs and `resolve()`d entry paths
    * qualify to, so touched-file membership is an EXACT HashSet
    * lookup, never an `endsWith` scan (VERDICT r11 wrong #2: suffix
    * matching was O(candidates × touched) on the driver and one
    * suffix-sharing name away from a wrong carry-forward). */
  private def qualifiedPath(spark: SparkSession, p: String): String = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(path).toUri.getPath
  }

  private def touchedFiles(
      spark: SparkSession, dir: String, m: Manifest,
      keyed: DataFrame, keys: Seq[String],
      among: Seq[Entry] = null): Seq[Entry] = {
    val candidates = prunedCandidates(spark, dir, m, keyed, keys, among)
    if (candidates.isEmpty) return Seq.empty
    val cand = renamedRawRead(spark, dir, m, candidates)
    // input_file_name is only defined before the first exchange, so
    // project it at the scan, then join
    val touched: Set[String] = cand
      .select(keys.map(col) :+ input_file_name().as("__f"): _*)
      .join(keyed, keys, "inner")
      .select("__f").distinct().collect()
      .map(r => qualifiedPath(spark, r.getString(0))).toSet
    candidates.filter(e =>
      touched.contains(qualifiedPath(spark, resolve(dir, e.path))))
  }

  /** MERGE: upsert `delta` into the head by key (update matched rows,
    * insert new ones — Maintenance.upsertKeepCols' algebra) and
    * commit the merged state as a new version, at FILE granularity:
    * only head files that actually contain a delta key are rewritten
    * (touched-rows ⋈ delta through upsertKeepCols, plus all inserts);
    * every other file is carried forward BY REFERENCE — path and
    * stats verbatim — so the write cost scales with the delta's key
    * locality, not the table (a 0.1% upsert into 100 TB rewrites
    * ~0.1%, and a pure-insert merge rewrites NOTHING, degrading to an
    * append whose CDC stays the zero-compute file diff). History
    * stays time-travelable. A lost commit race recomputes the touched
    * set against the new head (the conflict-detection retry of the
    * real formats, at whole-commit granularity).
    */
  def commitMerge(
      delta: DataFrame, dir: String, keys: Seq[String],
      expectations: Seq[(String, String)] = Nil): Long = {
    val spark = delta.sparkSession
    checkExpectations(delta, expectations, dir)
    val keyed = delta.select(keys.map(col): _*).distinct()
    transact(spark, dir, "merge") { m =>
      val touched = touchedFiles(spark, dir, m, keyed, keys)
      val untouched = m.entries.filterNot(e => touched.exists(_.path == e.path))
      val rewritten =
        if (touched.isEmpty) delta
        else {
          // additive schema evolution ON MERGE: delta columns absent
          // from the table widen it (old rows read null through the
          // per-version merged schema union); table columns the delta
          // does NOT mention are RETAINED on matched rows (keepCols),
          // never nulled — a partial-column upsert is an update, not
          // an erasure. The target is the LOGICAL rows (pending
          // merge-on-read deletes anti-joined out) — upserting against
          // the physical rows would resurrect deleted keys
          val target = entriesFrame(spark, dir, m, touched)
          val union = target.columns ++
            delta.columns.filterNot(target.columns.contains)
          def fill(df: DataFrame, other: DataFrame) = df.select(union.map(c =>
            if (df.columns.contains(c)) col(c)
            else lit(null).cast(other.schema(c).dataType).as(c)): _*)
          graft.operators.Maintenance.upsertKeepCols(
            fill(target, delta), fill(delta, target), keys,
            keepCols = target.columns.filterNot(delta.columns.contains).toSet)
        }
      rewrite(dir, m, untouched, rewritten)
    }.merge
  }

  /** DELETE by key: drop the head rows whose key appears in `keys`
    * and commit the survivors as a new version — the GDPR-erasure /
    * retraction shape, file-granular like MERGE: only files that
    * contain a doomed key are rewritten (one anti join over exactly
    * those files); the rest carry forward by reference. Deleted rows
    * stay time-travelable until vacuum ages their versions out (the
    * retention caveat of every versioned format: erasure completes at
    * vacuum, not at commit).
    */
  def commitDelete(keys: DataFrame, dir: String, keyCols: Seq[String]): Long = {
    val spark = keys.sparkSession
    val keyed = keys.select(keyCols.map(col): _*).distinct()
    transact(spark, dir, "delete") { m =>
      val touched = touchedFiles(spark, dir, m, keyed, keyCols)
      // nothing holds a doomed key: the delete is a metadata-only
      // no-op commit (every entry carried forward)
      if (touched.isEmpty) Publish(m)
      else rewrite(dir, m, m.entries.filterNot(e => touched.exists(_.path == e.path)),
        entriesFrame(spark, dir, m, touched).join(keyed, keyCols, "left_anti"))
    }.merge
  }

  // -----------------------------------------------------------------
  // SQL DML face (DSv2 row-level operations) — the manifest half.
  // The scan/write glue lives in sources.dsv2.SnapshotRowLevel; these
  // are the commit primitives it drives.
  // -----------------------------------------------------------------

  /** A translated SQL DML predicate — the conjunct shapes the manifest
    * can classify per FILE from stats alone. Range bounds carry an
    * inclusive flag. The dsv2 layer translates V1 `Filter`s into this;
    * anything untranslatable simply never reaches the metadata path. */
  private[graft] sealed trait DmlPred
  private[graft] final case class PredEq(colName: String, v: Any) extends DmlPred
  private[graft] final case class PredIn(colName: String, vs: Seq[Any]) extends DmlPred
  private[graft] final case class PredRange(
      colName: String,
      lower: Option[(Any, Boolean)], upper: Option[(Any, Boolean)]) extends DmlPred
  private[graft] final case class PredAnd(l: DmlPred, r: DmlPred) extends DmlPred
  private[graft] final case class PredOr(l: DmlPred, r: DmlPred) extends DmlPred
  private[graft] case object PredTrue extends DmlPred

  /** A DmlPred rendered back to the EXACT row predicate it encodes —
    * the bridge the delete-vector SQL face rides: SupportsDelete
    * hands the source a FULLY-translated filter set (Spark only calls
    * it when the whole WHERE converted), so this Column is the whole
    * condition, and the DV commit needs it at row level. The null
    * semantics match the source filters' (EqualTo/ranges are
    * null-rejecting, like the SQL operators they came from). */
  private[graft] def dmlPredColumn(p: DmlPred): Column = p match {
    case PredTrue => lit(true)
    case PredEq(c, v) => col(c) === lit(v)
    case PredIn(c, vs) => col(c).isin(vs: _*)
    case PredRange(c, lower, upper) =>
      val lo = lower.map { case (v, incl) =>
        if (incl) col(c) >= lit(v) else col(c) > lit(v) }
      val hi = upper.map { case (v, incl) =>
        if (incl) col(c) <= lit(v) else col(c) < lit(v) }
      (lo, hi) match {
        case (Some(a), Some(b)) => a && b
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case (None, None) => lit(true)
      }
    case PredAnd(l, r) => dmlPredColumn(l) && dmlPredColumn(r)
    case PredOr(l, r) => dmlPredColumn(l) || dmlPredColumn(r)
  }

  private def normDml(v: Any): Any = v match {
    case ld: java.time.LocalDate => ld.toString // ISO, the stored stat form
    case other => toStatVal(other)
  }

  /** Classify one entry against `p`: Some(true) = provably EVERY
    * physical row matches, Some(false) = provably NO row matches,
    * None = can't prove either (partial, missing stats, incomparable
    * types). Full-match additionally needs ZERO nulls in the filtered
    * column — null satisfies no Eq/In/Range predicate, so a null row
    * must survive a DELETE. */
  private def classifyEntry(m: Manifest, e: Entry, p: DmlPred): Option[Boolean] =
    // a proven-empty file (the CREATE TABLE seed): vacuously all-match,
    // so a metadata-only DELETE sweeps the dead weight from the census
    if (e.rows == 0L) Some(true) else p match {
    case PredTrue => Some(true)
    case PredAnd(l, r) =>
      (classifyEntry(m, e, l), classifyEntry(m, e, r)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
    case PredOr(l, r) =>
      (classifyEntry(m, e, l), classifyEntry(m, e, r)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
    case PredEq(c, v0) =>
      entryStat(m, e, c).flatMap { s =>
        val v = normDml(v0)
        val mn = toStatVal(s.min); val mx = toStatVal(s.max)
        (cmpStat(v, mn), cmpStat(v, mx)) match {
          case (Some(a), Some(b)) =>
            if (a < 0 || b > 0) Some(false)
            else if (a == 0 && b == 0 && s.nulls == 0L) Some(true)
            else None
          case _ => None
        }
      }
    case PredIn(c, vs0) =>
      entryStat(m, e, c).flatMap { s =>
        val mn = toStatVal(s.min); val mx = toStatVal(s.max)
        val cmp = vs0.map(normDml).map(v => (cmpStat(v, mn), cmpStat(v, mx)))
        if (cmp.exists(t => t._1.isEmpty || t._2.isEmpty)) None
        else if (cmp.forall { case (Some(a), Some(b)) => a < 0 || b > 0; case _ => false })
          Some(false)
        else if (cmpStat(mn, mx).contains(0) && s.nulls == 0L &&
          cmp.exists { case (Some(0), Some(0)) => true; case _ => false })
          Some(true)
        else None
      }
    case PredRange(c, lo, hi) =>
      entryStat(m, e, c).flatMap { s =>
        val mn = toStatVal(s.min); val mx = toStatVal(s.max)
        // each bound yields (allRowsSatisfyIt, noRowSatisfiesIt)
        def eval(bound: Option[(Any, Boolean)], isLower: Boolean)
            : Option[(Boolean, Boolean)] = bound match {
          case None => Some((true, false))
          case Some((b0, incl)) =>
            val b = normDml(b0)
            for (cMin <- cmpStat(mn, b); cMax <- cmpStat(mx, b)) yield
              if (isLower)
                (if (incl) cMin >= 0 else cMin > 0, // min passes ⇒ all pass
                  if (incl) cMax < 0 else cMax <= 0) // max fails ⇒ none pass
              else
                (if (incl) cMax <= 0 else cMax < 0,
                  if (incl) cMin > 0 else cMin >= 0)
        }
        (for (l <- eval(lo, isLower = true); u <- eval(hi, isLower = false)) yield {
          if (l._2 || u._2) Some(false)
          else if (l._1 && u._1 && s.nulls == 0L) Some(true)
          else None
        }).flatten
      }
  }

  /** Can `DELETE WHERE p` be answered from the manifest ALONE — every
    * live file provably all-matching or none-matching? The DSv2
    * `canDeleteWhere` probe; zero data I/O either way. */
  private[graft] def canDeleteFilesWhere(
      spark: SparkSession, dir: String, p: DmlPred): Boolean =
    versions(spark, dir).lastOption.exists { v =>
      val m = readManifest(spark, dir, v)
      m.entries.forall(e => classifyEntry(m, e, p).isDefined)
    }

  /** METADATA-ONLY DELETE: drop every provably-all-matching file from
    * the manifest and carry the rest — zero data I/O at ANY table
    * size (the 100 TB `DELETE WHERE ds < retention` shape; the real
    * formats' partition-drop, at file granularity through stats).
    * Requires the all-or-none property `canDeleteFilesWhere` proved;
    * fails loudly if a racing commit broke it mid-flight (the SQL
    * command then re-runs). Pending MoR deletes coexist safely: a
    * dropped file's rows were all doomed by the predicate anyway. */
  private[graft] def deleteFilesWhere(
      spark: SparkSession, dir: String, p: DmlPred): Long =
    transact(spark, dir, "metadata delete") { m =>
      val classified = m.entries.map(e => e -> classifyEntry(m, e, p))
      require(classified.forall(_._2.isDefined),
        s"DELETE on $dir is no longer metadata-answerable (a concurrent commit " +
          "changed the file census mid-delete); re-run the DELETE")
      Publish(m.copy(entries = classified.collect { case (e, Some(false)) => e }))
    }.merge

  /** REPLACE WHERE — the filter-scoped atomic overwrite (the
    * lakehouse formats' replaceWhere; SQL's `INSERT INTO … REPLACE
    * WHERE cond SELECT …`): delete every row matching the predicate
    * AND land `data`, as ONE manifest commit — readers see the old
    * census or the new one, never the hole between a DELETE and an
    * INSERT. File-granular COW through the stat lattice:
    * provably-all-matching files DROP from the census with zero data
    * I/O (the 100 TB "replace one day" shape), provably-none-matching
    * files carry by REFERENCE, and only boundary files rewrite their
    * survivors — predicate-false OR predicate-NULL rows (a null never
    * matches, so it survives). `pred` is the manifest classification
    * of the condition (None ⇒ classify nothing, every file is
    * boundary — still exact, just unpruned); `rowPred` the exact
    * row-level predicate. Pending MoR deletes fold FIRST (the rewrite
    * works on physical rows). `expectations` gate the NEW batch only
    * (survivors already passed their commit's gate). `shape` lands
    * the union under the table's write-path clustering (sort/bucket)
    * so declared layouts survive the replace. */
  private[graft] def commitReplaceWhere(
      data: DataFrame, dir: String, pred: Option[DmlPred], rowPred: Column,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bucket: Option[(String, Int)] = None,
      expectations: Seq[(String, String)] = Nil,
      shape: DataFrame => DataFrame = identity): Long = {
    val spark = data.sparkSession
    checkExpectations(data, expectations, dir)
    applyDeletes(spark, dir)
    transact(spark, dir, "REPLACE WHERE") { m =>
      require(m.deletes.isEmpty,
        s"REPLACE WHERE on $dir raced a merge-on-read delete — re-run")
      val classified = m.entries.map(e =>
        e -> pred.flatMap(p => classifyEntry(m, e, p)))
      val kept = classified.collect { case (e, Some(false)) => e }
      val boundary = classified.collect { case (e, None) => e }
      // Some(true) entries drop from the census with zero data I/O
      val survivors =
        if (boundary.isEmpty) None
        else Some(entriesFrame(spark, dir, m, boundary)
          .filter(!coalesce(rowPred, lit(false))))
      val incoming = survivors
        .map(_.unionByName(data, allowMissingColumns = true))
        .getOrElse(data)
      rewrite(dir, declare(m, statsCols, bloomCols), kept, shape(incoming), bucket)
    }.merge
  }

  /** DYNAMIC PARTITION OVERWRITE's commit half: replace exactly the
    * partitions `pred`/`rowPred` describe with `newFiles` (already
    * written by the v2 executors), as ONE manifest commit — the same
    * file-granular classification as commitReplaceWhere (all-match
    * files drop by proof, none-match carry by reference, boundary
    * files rewrite their survivors), with the incoming half arriving
    * as FILES instead of a frame. Returns the committed version. */
  private[graft] def commitReplacePartitions(
      spark: SparkSession, dir: String, newFiles: Seq[String],
      pred: Option[DmlPred], rowPred: Column,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bucket: Option[(String, Int)] = None,
      shape: DataFrame => DataFrame = identity,
      expectations: Seq[(String, String)] = Nil): Long = {
    // expectations gate the NEW batch, same as INSERT and REPLACE
    // WHERE — a dynamic overwrite must not be the one write path that
    // bypasses the table's declared invariants
    checkExpectationsFiles(spark, dir, newFiles, expectations)
    applyDeletes(spark, dir)
    transact(spark, dir, "dynamic overwrite") { m =>
      require(m.deletes.isEmpty,
        s"dynamic overwrite on $dir raced a merge-on-read delete — re-run")
      val classified = m.entries.map(e =>
        e -> pred.flatMap(p => classifyEntry(m, e, p)))
      val kept = classified.collect { case (e, Some(false)) => e }
      val boundary = classified.collect { case (e, None) => e }
      val survivorFiles =
        if (boundary.isEmpty) Nil
        else writeBatch(shape(entriesFrame(spark, dir, m, boundary)
          .filter(!coalesce(rowPred, lit(false)))), dir)
      // the incoming files are the executors' (they survive a lost
      // race); only the survivor rewrite is this attempt's own
      Publish(withFiles(spark, dir, declare(m, statsCols, bloomCols), kept,
        survivorFiles ++ newFiles, bucket), staged = survivorFiles)
    }.merge
  }

  /** The SQL row-level copy-on-write commit (DSv2 ReplaceData):
    * atomically swap `replaced` (the file GROUPS the row-level scan
    * planned) for `newFiles` (what the executors wrote), carrying
    * every other entry by reference — commitMerge's file-granular
    * discipline, driven by the engine's own group bookkeeping instead
    * of a key join. Conflict rule = strict whole-command optimistic
    * concurrency: the head must still be `basedOn` (the version the
    * scan read); anything else aborts loudly and the command re-runs
    * against the new head. */
  private[graft] def commitReplaceFiles(
      spark: SparkSession, dir: String, basedOn: Long,
      replaced: Set[String], newFiles: Seq[String],
      bucket: Option[(String, Int)] = None): Long = {
    val m = manifestAt(spark, dir)
    require(m.version == basedOn,
      s"concurrent commit on $dir during SQL DML (scanned v$basedOn, head is " +
        s"v${m.version}): aborting — re-run the command against the new head")
    require(m.deletes.isEmpty,
      s"SQL DML on $dir with merge-on-read deletes pending — fold them first " +
        "(SnapshotTable.applyDeletes or maintainTable)")
    val missing = replaced.filterNot(r => m.entries.exists(_.path == r))
    require(missing.isEmpty,
      s"SQL DML on $dir would replace files no longer live: ${missing.mkString(", ")}")
    // `bucket` = the table's declared layout when the DML write landed
    // its replacement files bucket-clustered (the write requested
    // hash(col)%n distribution): record the __bucket stat per new file
    // so storage-partitioned joins stay armed THROUGH DELETE/UPDATE/
    // MERGE instead of downgrading until a manual CALL rebucket
    val next = withFiles(spark, dir, m,
      m.entries.filterNot(e => replaced.contains(e.path)), newFiles, bucket)
    require(tryPublish(spark, dir, next.copy(version = m.version + 1)),
      s"concurrent commit on $dir during SQL DML publish: aborting — re-run")
    m.version + 1
  }

  /** The streaming-SINK commit (DSv2 `writeStream.format(
    * "graft-snapshot")`): pre-written batch files land as ONE ledgered
    * append — the executor writers already produced the parquet, this
    * publishes the manifest that makes them the table. Exactly-once
    * through the same (appId, batchId) watermark ledger the
    * foreachBatch sinks use: a replayed epoch finds its key in the
    * head and no-ops (its orphan files are swept here and by GC).
    * A first epoch CREATES the table (v1), taking the declared
    * stats/bloom columns; afterwards the table's sticky declarations
    * apply. A schema evolution racing the commit fails loudly — the
    * files' column names were fixed at write time. Returns the
    * committed version, None for a recognized replay.
    *
    * `overwrite` is the COMPLETE-output-mode epoch commit (the sink's
    * SupportsTruncate face): the new version's census is exactly the
    * epoch's files — prior entries, pending MoR deletes, and evolution
    * ops all reset (the epoch's rows ARE the table, under the names
    * the writers fixed) — while the writer LEDGER carries, so a
    * replayed epoch from a fresh checkpoint still no-ops instead of
    * resurrecting an old aggregate state. */
  private[graft] def commitStreamFiles(
      spark: SparkSession, dir: String, relPaths: Seq[String],
      batchId: Long, appId: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      overwrite: Boolean = false): Option[Long] = {
    require(appId.nonEmpty && !appId.contains(":"),
      s"appId must be non-empty without ':' — got '$appId'")
    var opsAtFirstRead: (Seq[Rename], Seq[Drop]) = null
    val entriesOf = stagedEntries(spark, dir, relPaths)
    transact(spark, dir, "streaming sink commit", create = true) { m =>
      if (m.ledger.contains(appId, batchId)) NoCommit(orphans = relPaths)
      else {
        if (opsAtFirstRead == null) opsAtFirstRead = (m.renames, m.drops)
        else require((m.renames, m.drops) == opsAtFirstRead,
          s"streaming sink commit on $dir raced a schema evolution — the " +
            "batch files carry pre-evolution names; restart the query")
        // sticky-union like commitBatch: a caller-declared stat/bloom
        // column (the sink's TBLPROPERTIES/options) joins the table's
        // standing declarations even when the table already exists —
        // without this a SQL-created table's sink commits would never
        // record the stats its write-path config asks for
        val d = declare(m, statsCols, bloomCols).copy(ledger = m.ledger.add(appId, batchId))
        Publish(landed(d, entriesOf(d).map(_.copy(seq = m.version + 1)), overwrite))
      }
    }.toOption
  }

  /** DELETE by key, MERGE-ON-READ: commit only a delta-sized key file
    * and a manifest naming it — ZERO data files touched, at any table
    * size. The copy-on-write `commitDelete` costs one rewrite per
    * touched file, which on a hash-clustered table (where a scattered
    * key set touches every file) is the whole table; this is the real
    * formats' other half — equality-delete files applied at read
    * time (one delta-sized anti join per pending delete, AQE
    * broadcasts the keys) and folded in later by `applyDeletes` on a
    * maintenance schedule. Sequence scoping keeps later writes safe:
    * the delete applies only to data files committed BEFORE it, so a
    * merge that re-inserts a deleted key afterwards is never
    * retro-deleted. Metadata fast paths (countRows/statExtremes/
    * countRowsWhere/sumWhere) refuse loudly while deletes are pending
    * — their per-file stats are physical. Returns the committed
    * version.
    */
  def commitDeleteMoR(keys: DataFrame, dir: String, keyCols: Seq[String]): Long =
    commitDeleteMoRInternal(keys, dir, keyCols, None)
      .get // no stream key ⇒ never a replay

  /** Streaming retraction: `commitDeleteMoR` under the multi-writer
    * stream ledger — a micro-batch of doomed keys commits as one
    * zero-data-file MoR delete keyed `appId:batchId`, so foreachBatch's
    * at-least-once contract becomes exactly-once retraction (a
    * replayed batch finds its key in the head manifest and no-ops
    * BEFORE writing anything). The GDPR shape on a live ingest: the
    * forget-me stream never rewrites data inline; `applyDeletes`
    * folds on the maintenance schedule. Returns the committed
    * version, or None for a recognized replay. */
  def commitStreamDeleteMoR(
      keys: DataFrame, dir: String, keyCols: Seq[String],
      batchId: Long, appId: String = "retract"): Option[Long] = {
    require(appId.nonEmpty && !appId.contains(":"),
      s"appId must be non-empty without ':' — got '$appId'")
    val key = s"$appId:$batchId"
    // O(1) watermark probe, NOT committedStreamKeys — materializing the
    // id set is O(commits) per micro-batch and refuses outright once a
    // writer's watermark passes the boundedIds guard, i.e. on exactly
    // the long-lived retraction streams this path serves (ADVICE r12)
    if (isBatchCommitted(keys.sparkSession, dir, batchId, appId)) None
    else commitDeleteMoRInternal(keys, dir, keyCols, Some(key))
  }

  /** Returns None when `streamKey` turns out to be already committed —
    * re-checked against every head read in the retry loop, so two
    * retraction writers racing the same (appId, batchId) can never
    * both record the delete (ADVICE r11). */
  private def commitDeleteMoRInternal(
      keys: DataFrame, dir: String, keyCols: Seq[String],
      streamKey: Option[String]): Option[Long] = {
    val spark = keys.sparkSession
    require(keyCols.nonEmpty, "commitDeleteMoR needs at least one key column")
    require(keyCols.forall(!_.startsWith("__graft_dv")),
      "the '__graft_dv' column-name prefix is reserved for delete vectors")
    val f = fs(spark, dir)
    def writeKeys(kf: DataFrame): Seq[String] = {
      val ddir = s"delete-${UUID.randomUUID().toString}"
      kf.write.parquet(s"$dir/$ddir")
      val ps = f.listStatus(new Path(s"$dir/$ddir")).toSeq
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
        .map(n => s"$ddir/$n")
      require(ps.nonEmpty, "delete key frame wrote no files")
      ps
    }
    var paths: Seq[String] = Nil
    var keySchema: StructType = null // the key files', read from their footers
    var curCols: Seq[String] = keyCols // the names the key FILES carry
    var opsAtWrite: (Seq[Rename], Seq[Drop]) = null
    var nKeys = -1L
    transact(spark, dir, "MoR delete") { m =>
      val headOps = (m.renames, m.drops)
      if (streamKey.exists(m.ledger.containsKey)) NoCommit(orphans = paths)
      else {
        if (opsAtWrite == null) {
          // key files written AFTER the first head read: opsAtWrite is
          // exactly the schema-op state their column names reflect.
          // The key census rides the write action as an observed metric
          // (guide §1/§2.3: one pass, not a write plus a re-read count)
          val obs = new org.apache.spark.sql.Observation()
          paths = writeKeys(keys.select(keyCols.map(col): _*).distinct()
            .observe(obs, count(lit(1)).as("__graft_nkeys")))
          keySchema = filesSchema(spark, dir, paths)
          opsAtWrite = headOps
          nKeys = obs.get("__graft_nkeys").asInstanceOf[Long]
        } else if (opsAtWrite != headOps) {
          // a racing writer committed a rename/drop after our key files
          // were written: recorded as-is, the delete's keyCols would
          // carry PRE-op names with seq AFTER the op, so currentName
          // never maps them and the retraction silently stops applying
          // (ADVICE r11 — the GDPR path). Remap key files/columns under
          // the current names; a concurrent DROP of a key column is
          // unrecordable and fails loudly.
          val newOps = opsSince(dir, "MoR delete", opsAtWrite, m)
          val mapped = curCols.map { c0 =>
            newOps.foldLeft(c0) {
              case (n, Left(r)) => if (r.from == n) r.to else n
              case (n, Right(d)) =>
                require(d.name != n,
                  s"MoR delete on $dir raced a DROP of key column '$n' — the " +
                    "retraction cannot be recorded against a dropped column")
                n
            }
          }
          if (mapped != curCols) {
            val kf = curCols.zip(mapped)
              .foldLeft(spark.read.schema(keySchema)
                .parquet(paths.map(p => s"$dir/$p"): _*)) {
                case (df, (o, n)) =>
                  if (o == n) df else df.withColumnRenamed(o, n)
              }
            val stale = paths
            paths = writeKeys(kf)
            keySchema = filesSchema(spark, dir, paths)
            dropOrphanBatch(spark, dir, stale)
            curCols = mapped
          }
          opsAtWrite = headOps
        }
        // zero data files touched: every segment carries
        Publish(m.copy(ledger = streamKey.fold(m.ledger)(m.ledger.addKey),
          deletes = m.deletes :+ DeleteFile(paths, curCols, m.version + 1, nKeys,
            schema = Some(keySchema))))
      }
    }.toOption
  }

  /** Streaming UPSERT, merge-on-read: the micro-batch's rows APPEND
    * and an EQUALITY DELETE of exactly the batch's keys lands in the
    * SAME manifest — one atomic version, zero pre-existing data files
    * touched. This is the CDC-upsert shape at scale: a per-epoch COW
    * merge on a 100 TB target rewrites every file its scattered keys
    * touch, while this commits O(batch) per epoch at any table size
    * (the Flink-into-table-format upsert-mode pattern). SEQUENCE
    * SCOPING does the upsert algebra: the delete (seq v+1) applies
    * only to entries with seq < v+1, so prior images of the batch's
    * keys vanish while the batch's own rows (seq v+1) survive; a
    * later epoch's delete then supersedes THIS epoch's rows the same
    * way. The multi-writer stream ledger turns foreachBatch's
    * at-least-once into exactly-once (a replayed epoch no-ops before
    * writing anything). Reads pay one delta-sized anti join per
    * unfolded epoch and metadata fast paths refuse while deletes are
    * pending — `applyDeletes` (CALL fold_deletes / OPTIMIZE) folds
    * the accumulation on the maintenance schedule, the documented
    * retraction-feed posture. The batch must be UNIQUE on its key
    * columns (refused loudly — silently picking a winner would be a
    * wrong result). Returns the committed version, or None for a
    * recognized replay. */
  def commitStreamUpsertMoR(
      batch: DataFrame, dir: String, keyCols: Seq[String],
      batchId: Long, appId: String = "upsert",
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      expectations: Seq[(String, String)] = Nil): Option[Long] = {
    require(appId.nonEmpty && !appId.contains(":"),
      s"appId must be non-empty without ':' — got '$appId'")
    if (isBatchCommitted(batch.sparkSession, dir, batchId, appId)) None
    else commitUpsertMoRInternal(batch, dir, keyCols,
      Some(s"$appId:$batchId"), statsCols, bloomCols, expectations).toOption
  }

  /** The BATCH face of the merge-on-read upsert — `commitStreamUpsertMoR`
    * without the stream ledger: one statement's rows plus an equality
    * delete of exactly its keys as ONE atomic version, zero
    * pre-existing files touched. The SQL `MERGE … WHEN MATCHED UPDATE
    * SET * WHEN NOT MATCHED INSERT *` shape under `merge_mode='mor'`
    * lands through this. Returns the committed version (the unchanged
    * head when the batch is empty). */
  def commitUpsertMoR(
      batch: DataFrame, dir: String, keyCols: Seq[String],
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      expectations: Seq[(String, String)] = Nil): Long =
    commitUpsertMoRInternal(batch, dir, keyCols, None,
      statsCols, bloomCols, expectations).merge

  /** The SINK face of the merge-on-read upsert: the epoch's files are
    * already staged by the executor writers — read them for the key
    * frame and the checks, commit them (plus the equality delete of
    * their keys) without rewriting a byte. A recognized replay sweeps
    * the staged files and no-ops, like the plain sink commit. */
  private[graft] def commitStreamUpsertFiles(
      spark: SparkSession, dir: String, relPaths: Seq[String],
      keyCols: Seq[String], batchId: Long, appId: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      expectations: Seq[(String, String)] = Nil): Option[Long] = {
    require(appId.nonEmpty && !appId.contains(":"),
      s"appId must be non-empty without ':' — got '$appId'")
    if (relPaths.isEmpty) return None // zero-row epoch: nothing to land
    if (isBatchCommitted(spark, dir, batchId, appId)) {
      dropOrphanBatch(spark, dir, relPaths)
      return None
    }
    val df = rawRead(spark, dir, relPaths.map(Entry(_, Map.empty)))
    commitUpsertMoRInternal(df, dir, keyCols, Some(s"$appId:$batchId"),
      statsCols, bloomCols, expectations, preStaged = Some(relPaths)).toOption
  }

  /** Left(head version) when the epoch lands nothing: a recognized
    * replay (its staged files swept) or a zero-row batch. */
  private def commitUpsertMoRInternal(
      batch: DataFrame, dir: String, keyCols: Seq[String],
      streamKey: Option[String],
      statsCols: Seq[String], bloomCols: Seq[String],
      expectations: Seq[(String, String)],
      preStaged: Option[Seq[String]] = None): Either[Long, Long] = {
    val spark = batch.sparkSession
    require(keyCols.nonEmpty, "commitUpsertMoR needs key columns")
    require(keyCols.forall(!_.startsWith("__graft_dv")),
      "the '__graft_dv' column-name prefix is reserved for delete vectors")
    keyCols.foreach(c => require(batch.columns.contains(c),
      s"stream upsert on $dir: key column '$c' is not in the batch"))
    checkExpectations(batch, expectations, dir)
    var batchFiles: Seq[String] = preStaged.getOrElse(Nil)
    var entriesOf: Manifest => Seq[Entry] = null
    var nRows = -1L
    var nKeys = -1L
    var opsAtWrite: (Seq[Rename], Seq[Drop]) = null
    // first epoch CREATES the table (a streaming sink's contract): v1
    // is a plain ledgered append — no prior files, no delete
    transact(spark, dir, "stream upsert", create = true) { m =>
      val d = declare(m, statsCols, bloomCols)
      if (streamKey.exists(m.ledger.containsKey)) NoCommit(orphans = batchFiles)
      else {
        if (opsAtWrite == null) {
          batchFiles = preStaged.getOrElse(writeBatch(batch, dir))
          entriesOf = stagedEntries(spark, dir, batchFiles)
          opsAtWrite = (m.renames, m.drops)
          // the row census is the entries' footer counts — no aggregate
          // job; a zero-row epoch must not leave its empty files behind
          nRows = entriesOf(d).map(_.rows).sum
          // the epoch's own committed files ARE the delete's key frame:
          // one image per key (checked right here) means their key
          // columns hold exactly the doomed keys, each once, and every
          // reader of a delete's paths already column-prunes to keyCols
          // — so a second key-only write would duplicate both
          // the I/O and the storage and double the epoch's file count
          // for nothing. Sequence scoping keeps it sound: the delete
          // (seq = next) applies only to entries with seq < next, never
          // to the files it names. The uniqueness census is one
          // column-pruned aggregate over the just-written files
          // (count_distinct of the key STRUCT matches distinct().count()
          // bit-for-bit — a struct with null fields is itself non-null,
          // so null keys count exactly as row-distinct did).
          if (nRows > 0L) {
            nKeys = rawRead(spark, dir, entriesOf(d))
              .agg(count_distinct(struct(keyCols.map(col): _*)).as("k"))
              .head().getLong(0)
            if (nRows != nKeys) {
              // contract violation must not leave this call's files behind
              if (preStaged.isEmpty) dropOrphanBatch(spark, dir, batchFiles)
              require(nRows == nKeys,
                s"stream upsert on $dir: the batch carries $nRows rows over " +
                  s"$nKeys distinct keys ${keyCols.mkString("(", ",", ")")} — " +
                  "an upsert needs ONE image per key; dedupe the batch " +
                  "(latest-wins is the caller's call, not the table's)")
            }
          }
        } else require(opsAtWrite == ((m.renames, m.drops)),
          s"stream upsert on $dir raced a column rename/drop — re-run the " +
            "epoch (exactly-once makes the retry safe)")
        val next = m.version + 1
        val fresh = entriesOf(d).map(_.copy(seq = next))
        if (nRows == 0L) NoCommit(orphans = batchFiles)
        else Publish(d.copy(ledger = streamKey.fold(m.ledger)(m.ledger.addKey),
          entries = m.entries ++ fresh,
          deletes =
            if (m.entries.isEmpty) m.deletes // no prior files to doom
            else m.deletes :+ DeleteFile(batchFiles, keyCols, next, nKeys,
              schema = Some(entriesSchema(spark, dir, fresh)))))
      }
    }
  }

  /** DELETE by PREDICATE, merge-on-read via a POSITIONAL DELETE
    * VECTOR: compute the (file, row-ordinal) pairs the predicate
    * matches — over the stats/bloom-PRUNED candidate files only, on
    * the LOGICAL rows (already-deleted rows are never re-marked, so
    * pending-DV counts stay disjoint and exact) — land them as one
    * delta-sized parquet vector, and commit a manifest naming it.
    * ZERO data files rewritten at any table size, like
    * `commitDeleteMoR`, but with NO key columns required: this is
    * `DELETE WHERE <arbitrary predicate>` on a layout where the
    * matches scatter (a COW delete would rewrite every touched file,
    * an equality delete would first have to scan for the keys and
    * then pay a key anti join on every read). Unlike equality
    * deletes, DVs apply by FILE IDENTITY — schema-op immune (no
    * column names to remap through renames), and sequence-safe by
    * construction (a row re-inserted later lands in a file the
    * vector never names) — and carry EXACT cardinality, so
    * `countRows` stays metadata-only while they are pending (the
    * fast path equality deletes must refuse). `applyDeletes` folds
    * them file-granularly: only the NAMED files rewrite.
    *
    * Races: positions are computed against a head fingerprint
    * (entry paths + delete list); losing a publish race to a commit
    * that changed either RECOMPUTES from the new head — a rewrite
    * could have moved doomed rows into files the vector never names,
    * and stale positions must never publish. Returns the committed
    * version, or the unchanged head when the predicate matches
    * nothing (no empty commit). */
  def commitDeleteVectorsWhere(
      spark: SparkSession, dir: String, predicate: Column): Long = {
    var vector: Option[StagedVector] = None
    var fingerprint: (Set[String], Seq[DeleteFile]) = null
    transact(spark, dir, "DV delete") { m =>
      // positions are location-derived, not column-derived, so a raced
      // schema op never invalidates them — only the entry set and the
      // delete list fingerprint the staged vector
      val fp = (m.entries.map(_.path).toSet, m.deletes)
      if (fingerprint != fp) {
        vector.foreach(v => dropOrphanBatch(spark, dir, v.paths))
        fingerprint = fp
        vector = stageVector(spark, dir, m, predicate, "DV delete")
      }
      // zero data files touched: every segment carries
      vector.fold[Attempt](NoCommit())(v =>
        Publish(m.copy(deletes = m.deletes :+ v.record(m.version + 1))))
    }.merge
  }

  /** UPDATE by PREDICATE via a delete vector + append, as ONE commit:
    * the matched rows' positions land in a vector, their updated
    * images land as a fresh batch, and both publish atomically —
    * readers see the pre-update table or the post-update one, never
    * the hole between. The rewrite cost is the MATCHED ROWS, never
    * the touched files: a COW UPDATE rewrites every file holding one
    * match (on a hash layout, the table); this writes only the new
    * images, delta-sized. Row count is conserved (+batch −vector), so
    * `countRows` stays metadata-exact straight through the update.
    * `sets` are evaluated against the matched LOGICAL rows (pending
    * deletes applied, today's column names); assignments to unknown
    * columns refuse. `expectations` gate the updated batch — the
    * write-path contract. The updated rows carry the NEW seq, so a
    * pending equality delete never retro-deletes them; `applyDeletes`
    * folds the vector file-granularly like any other. Returns the
    * committed version, or the unchanged head on zero matches. */
  def commitUpdateVectorsWhere(
      spark: SparkSession, dir: String, predicate: Column,
      sets: Map[String, Column],
      expectations: Seq[(String, String)] = Nil): Long = {
    require(sets.nonEmpty, "commitUpdateVectorsWhere needs at least one SET")
    var vector: Option[StagedVector] = None
    var images: Seq[String] = Nil // the updated-image batch
    var entriesOf: Manifest => Seq[Entry] = null
    var fingerprint: (Set[String], Seq[DeleteFile],
      Seq[Rename], Seq[Drop], Seq[AddCol]) = null
    transact(spark, dir, "DV update") { m =>
      // UNLIKE the pure delete, the staged image batch is
      // column-derived: a raced rename/drop/add would make images
      // written under the OLD names publish with a post-op seq, so
      // the read path would treat them as already normalized and
      // surface nulls — schema ops join the fingerprint and force a
      // restage (the commitDeleteMoRInternal remap hazard, answered
      // by recompute instead of remap)
      val fp = (m.entries.map(_.path).toSet, m.deletes,
        m.renames, m.drops, m.adds)
      if (fingerprint != fp) {
        vector.foreach(v => dropOrphanBatch(spark, dir, v.paths))
        dropOrphanBatch(spark, dir, images)
        images = Nil
        fingerprint = fp
        vector = stageVector(spark, dir, m, predicate, "DV update")
        vector.foreach { v =>
          val matched = entriesFrameMeta(spark, dir, v.view, v.pruned,
            keepMeta = true).filter(predicate).drop(DvNameCol, DvPosCol)
          sets.keys.foreach(c => require(matched.columns.contains(c),
            s"DV update on $dir: SET names '$c', which is not a column " +
              "of the table"))
          // SQL UPDATE semantics: EVERY SET evaluates against the
          // OLD row (one select, deterministic whatever the map
          // order — a sequential withColumn fold would let one
          // assignment read another's NEW value), and each
          // assignment CASTS to the column's standing type (an
          // UPDATE never retypes a column — an INT-literal SET on a
          // BIGINT column must not land an INT32 image file that
          // poisons the merged read schema)
          val updated = matched.select(matched.columns.map(c =>
            sets.get(c).map(_.cast(matched.schema(c).dataType).as(c))
              .getOrElse(col(c))): _*)
          checkExpectations(updated, expectations, dir)
          images = writeBatch(updated, dir)
          entriesOf = stagedEntries(spark, dir, images)
          val batchRows = entriesOf(m).map(_.rows).sum
          require(batchRows == v.total,
            s"DV update on $dir: the updated batch carries $batchRows rows " +
              s"but the vector marks ${v.total} — snapshot drifted mid-compute; re-run")
        }
      }
      vector.fold[Attempt](NoCommit())(v =>
        Publish(m.copy(entries = m.entries ++ entriesOf(m).map(_.copy(seq = m.version + 1)),
          deletes = m.deletes :+ v.record(m.version + 1))))
    }.merge
  }

  /** A staged delete vector: the manifest view and candidate entries
    * it was computed over, its files, and its per-file census. */
  private final case class StagedVector(
      view: Manifest, pruned: Seq[Entry], paths: Seq[String],
      affected: Seq[(String, Long)], total: Long) {
    def record(seq: Long): DeleteFile =
      DeleteFile(paths, Seq(DvPosCol), seq, total, affected)
  }

  /** Shared staging for the vector commits: validates the
    * reserved-name and unique-file-name invariants, prunes the
    * candidate files for `predicate`, writes the (file name, row
    * ordinal) vector of its LOGICAL matches, and censuses it
    * per-file. Staged under the `delete-` prefix so a crashed
    * writer's files fall to the SAME gcOrphans sweep as equality key
    * files. Returns None when nothing matches (staged files already
    * cleaned). */
  private def stageVector(
      spark: SparkSession, dir: String, m: Manifest,
      predicate: Column, what: String): Option[StagedVector] = {
    val f = fs(spark, dir)
    // the helper columns must not collide with table columns, and no
    // physical column may shadow the reader's metadata struct
    val tableCols = read(spark, dir, Some(m.version)).columns.toSet
    require(Seq(DvNameCol, DvPosCol, "_metadata").forall(!tableCols.contains(_)),
      s"$what on $dir: the table schema collides with the reserved " +
        s"'$DvNameCol'/'$DvPosCol'/'_metadata' names")
    // DVs join on FILE NAME (data files are UUID-named, and a
    // clone-relocated table keeps working because names, unlike
    // resolved paths, are location-independent) — which requires
    // names to be table-unique; loud refusal over a silent
    // cross-file position match
    val allNames = m.entries.map(e => fileName(e.path))
    require(allNames.distinct.size == allNames.size,
      s"$what on $dir: duplicate data-file NAMES in the manifest — " +
        "compact/OPTIMIZE to re-land them before using delete vectors")
    val (_, mf, pruned) = pruneWhere(spark, dir, predicate, Some(m.version))
    if (pruned.isEmpty) return None
    val posFrame = entriesFrameMeta(spark, dir, mf, pruned, keepMeta = true)
      .filter(predicate)
      .select(col(DvNameCol), col(DvPosCol))
    val ddir = s"delete-${UUID.randomUUID().toString}"
    posFrame.write.parquet(s"$dir/$ddir")
    val ps = f.listStatus(new Path(s"$dir/$ddir")).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(n => s"$ddir/$n")
    require(ps.nonEmpty, "delete vector wrote no files")
    // per-file counts: bounded by the candidate FILE count (a
    // driver-side census of manifest scale, never of row scale)
    val perName = spark.read.schema(DvSchema).parquet(ps.map(p => s"$dir/$p"): _*)
      .groupBy(DvNameCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    require(perName.length <= 100000,
      s"$what on $dir touches ${perName.length} files — above the " +
        "100k census bound; use REPLACE WHERE / a COW rewrite instead")
    if (perName.isEmpty) {
      dropOrphanBatch(spark, dir, ps)
      return None
    }
    val byName = pruned.map(e => fileName(e.path) -> e.path).toMap
    val affected = perName.toSeq.map { case (n, c) =>
      byName.getOrElse(n, throw new IllegalStateException(
        s"$what on $dir marked positions in unknown file '$n'")) -> c
    }.sortBy(_._1)
    Some(StagedVector(mf, pruned, ps, affected, affected.map(_._2).sum))
  }

  /** The pending delete VECTORS of a version (default head):
    * (committed seq, total marked positions, affected (file → count)
    * census) per vector — the observability hook DV rows and specs
    * assert on. */
  def pendingDeleteVectors(
      spark: SparkSession, dir: String, version: Option[Long] = None)
      : Seq[(Long, Long, Seq[(String, Long)])] = {
    manifestAt(spark, dir, version).deletes
      .filter(isDv).map(d => (d.seq, d.rows, d.dvFiles))
  }

  /** SHALLOW CLONE: a new table whose v1 manifest references the
    * source version's data files BY ABSOLUTE PATH — zero data copied
    * at any table size (the real formats' zero-copy clone: a 100 TB
    * dev/experiment fork costs one manifest write plus kilobyte
    * sidecar copies). Stats, blooms, and declarations carry verbatim;
    * bloom SIDECARS are copied (metadata-sized) so key pruning works
    * on the clone without reaching into the source's `_blooms` tree.
    * The clone then diverges copy-on-write: every rewriting commit
    * replaces exactly the entries it touches with ordinary relative
    * files, external references carry forward untouched, and the
    * clone's vacuum never deletes an external file — they belong to
    * the source. Caveats, both documented properties of every shallow
    * clone: (1) vacuuming the SOURCE can orphan files the clone still
    * references (retain source history for the clone's lifetime, or
    * compact the clone to localize it); (2) the clone starts a FRESH
    * stream ledger — point a stream at it with a new checkpoint, not
    * a resumed one. Pending merge-on-read deletes do not transplant
    * (their sequence scoping is ledger-relative): run `applyDeletes`
    * on the source first — refused loudly otherwise. Returns the
    * clone's version (always 1). */
  def cloneTable(
      spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Long] = None): Long = {
    val m = manifestAt(spark, srcDir, version)
    val v = m.version
    require(m.deletes.isEmpty,
      s"cloneTable: $srcDir@$v carries pending merge-on-read deletes, whose " +
        "sequence scoping is ledger-relative and does not transplant — run " +
        "applyDeletes on the source first")
    require(schemaOps(m).forall(op => m.entries.forall(_.seq >= opSeq(op))),
      s"cloneTable: $srcDir@$v has files still subject to a column rename/drop, " +
        "whose sequence scoping does not transplant — compact/OPTIMIZE the " +
        "source first to normalize them")
    require(versions(spark, dstDir).isEmpty,
      s"cloneTable target $dstDir already has a committed version")
    val f = fs(spark, dstDir)
    val srcFs = fs(spark, srcDir)
    val ext = m.entries.map { e =>
      val abs = resolve(srcDir, e.path)
      // carried entries restart at seq 0: a future MoR delete on the
      // clone (seq ≥ 2) applies to them, as it must
      e.sidecarBloomCols.foreach { c =>
        org.apache.hadoop.fs.FileUtil.copy(
          srcFs, sidecarBloomPath(srcDir, e.path, c),
          f, sidecarBloomPath(dstDir, abs, c),
          false, spark.sparkContext.hadoopConfiguration)
      }
      e.copy(path = abs, seq = 0L)
    }
    require(tryPublish(spark, dstDir, Empty.copy(version = 1L, statsCols = m.statsCols,
      entries = ext, bloomCols = m.bloomCols, bloomFpp = m.bloomFpp)),
      s"cloneTable lost a creation race on $dstDir")
    // provenance for publishClone: which table AND VERSION this clone
    // staged — the optimistic-concurrency pin write-audit-publish
    // validates against (one tiny json; harmless for plain forks)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("src", qualifiedPath(spark, srcDir))
    node.put("version", v)
    val pp = new Path(s"$dstDir/$ManifestDir/_cloned_from.json")
    val pout = f.create(pp, true)
    try pout.write(mapper.writeValueAsString(node).getBytes(UTF_8))
    finally pout.close()
    1L
  }

  /** The provenance a clone records at creation: (source dir, pinned
    * source version). Absent for tables that were never cloned. */
  private[graft] def clonedFrom(
      spark: SparkSession, dir: String): Option[(String, Long)] = {
    val p = new Path(s"$dir/$ManifestDir/_cloned_from.json")
    val f = fs(spark, dir)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      Some((n.get("src").asText(), n.get("version").asLong()))
    }
  }

  /** WRITE-AUDIT-PUBLISH, the publish half: atomically fast-forward
    * the clone's SOURCE table to the audited staging state. The
    * staging workflow is `cloneTable` (zero-copy pin of the source
    * head) → arbitrary writes/DML on the clone → audits (expectations,
    * ad-hoc queries) → `publishClone`, which commits the staging
    * table's exact census onto the source as ONE new version — the
    * same atomic manifest publish every commit uses, so readers flip
    * from pre-publish to post-publish state with nothing in between.
    *
    * Concurrency is OPTIMISTIC against the clone's provenance pin: the
    * source must still be at the version the clone was cut from —
    * any commit that landed on the source since makes the publish
    * abort loudly (re-clone, re-stage, re-audit; a silent merge would
    * drop the concurrent commit's rows). The pin is re-validated by
    * the atomic version-file publish itself, so a commit racing in
    * between the check and the publish loses cleanly too.
    *
    * Files: entries referencing the source tree (the clone's zero-copy
    * externals) become ordinary relative entries again; STAGED files
    * (batches the clone's own writes landed) are MOVED into the source
    * tree — publish CONSUMES the staging table (it is tombstoned on
    * success, `gc_dropped` sweeps the empty carcass later), so the
    * published table is fully self-contained and staging's lifecycle
    * can never break it. A failed publish moves everything back.
    * Pending MoR deletes on staging must be folded first (same
    * discipline as clone). Returns the published version. */
  def publishClone(
      spark: SparkSession, stagingDir: String, targetDir: String): Long = {
    val (provSrc, provV) = clonedFrom(spark, stagingDir).getOrElse(
      throw new IllegalArgumentException(
        s"publishClone: $stagingDir records no clone provenance — " +
          "stage with cloneTable (or CALL system.clone) first"))
    val targetCanon = qualifiedPath(spark, targetDir)
    require(provSrc == targetCanon,
      s"publishClone: $stagingDir was cloned from $provSrc, not $targetCanon")
    val sm = manifestAt(spark, stagingDir)
    require(sm.deletes.isEmpty,
      s"publishClone: $stagingDir carries pending merge-on-read deletes — " +
        "run applyDeletes (CALL system.fold_deletes) before publishing")
    require(schemaOps(sm).forall(op => sm.entries.forall(_.seq >= opSeq(op))),
      s"publishClone: $stagingDir has files still subject to a column " +
        "rename/drop — compact/OPTIMIZE the staging table first")
    val tm = manifestAt(spark, targetDir)
    require(tm.version == provV,
      s"publishClone: $targetDir moved to ${tm.version} " +
        s"since the clone pinned $provV — a concurrent commit landed; " +
        "re-clone, re-stage, re-audit")
    val f = fs(spark, targetDir)
    val sfs = fs(spark, stagingDir)
    val batch = s"batch-wap-${UUID.randomUUID()}"
    f.mkdirs(new Path(s"$targetDir/$batch"))
    // crash-atomicity (ADVICE r14): staged files are COPIED into the
    // target batch dir, the manifest publishes, and only then do the
    // staging originals delete. A crash at any point leaves either
    // (a) pre-publish: unreferenced copies under the target — plain
    // orphans gc_orphans sweeps, staging fully intact; or (b) post-
    // publish: the target manifest references files that EXIST, with
    // leftover staging originals under a markDropped carcass that
    // gc_dropped sweeps. No window references files that are gone.
    var copiedFrom = List.empty[Path] // staging originals to delete post-publish
    val hconf = spark.sparkContext.hadoopConfiguration
    def copyStaged(from: Path, to: Path): Unit = {
      require(org.apache.hadoop.fs.FileUtil.copy(sfs, from, f, to,
        false, false, hconf),
        s"publishClone: copying staged file $from -> $to failed")
      copiedFrom ::= from
    }
    def underTarget(abs: String): Boolean =
      qualifiedPath(spark, abs).startsWith(targetCanon + "/")
    val published =
      try sm.entries.zipWithIndex.map { case (e, i) =>
        val abs = resolve(stagingDir, e.path)
        if (underTarget(abs)) {
          // the clone's zero-copy reference back into the target tree:
          // an ordinary relative entry again
          e.copy(path = qualifiedPath(spark, abs).stripPrefix(targetCanon + "/"),
            seq = 0L)
        } else {
          // a STAGED file: copy it (and its bloom sidecars) into the
          // target tree — indexed name, two staged part-00000s from
          // different batches must never collide. An external ref into
          // a THIRD table (a clone of a clone) is not ours to move.
          require(qualifiedPath(spark, abs)
            .startsWith(qualifiedPath(spark, stagingDir) + "/"),
            s"publishClone: $stagingDir references $abs, which lives in " +
              "neither the staging nor the target tree (a clone of a " +
              "clone?) — compact the staging table to localize it first")
          val name = s"f$i-${new Path(abs).getName}"
          val dst = new Path(s"$targetDir/$batch/$name")
          e.sidecarBloomCols.foreach { c =>
            val sideFrom = sidecarBloomPath(stagingDir, e.path, c)
            val sideTo = sidecarBloomPath(targetDir, s"$batch/$name", c)
            f.mkdirs(sideTo.getParent)
            copyStaged(sideFrom, sideTo)
          }
          copyStaged(new Path(abs), dst)
          e.copy(path = s"$batch/$name", seq = 0L)
        }
      } catch { case t: Throwable =>
        f.delete(new Path(s"$targetDir/$batch"), true): Unit
        throw t
      }
    // content fully replaces: schema-op lists clear (the staged census
    // carries final names), target's ledger carries (its streaming
    // writers' exactly-once state survives the publish)
    if (!tryPublish(spark, targetDir, Empty.copy(version = tm.version + 1,
      ledger = tm.ledger, statsCols = sm.statsCols, entries = published,
      bloomCols = sm.bloomCols, bloomFpp = sm.bloomFpp))) {
      f.delete(new Path(s"$targetDir/$batch"), true): Unit
      throw new IllegalStateException(
        s"publishClone: a commit raced onto $targetDir during the publish — " +
          "re-clone, re-stage, re-audit")
    }
    // the publish is durable: best-effort delete of the staging
    // originals (anything left rides the dropped carcass to gc_dropped)
    copiedFrom.foreach(p => scala.util.Try(sfs.delete(p, false)): Unit)
    // publish consumed the staged files: the staging table's manifests
    // now dangle, so retire the identifier (data it still names under
    // the TARGET tree belongs to the target now; the carcass holds no
    // live files and gc_dropped sweeps it past the grace)
    markDropped(spark, stagingDir)
    tm.version + 1
  }

  /** Fold every pending merge-on-read delete into the data and clear
    * the list — the maintenance half of `commitDeleteMoR`, run on the
    * OPTIMIZE schedule. File-granular like the COW paths: for each
    * pending delete, only the data files it APPLIES to (seq-eligible)
    * that actually contain a doomed key (stats + blooms + one exact
    * join) are rewritten — through `entriesFrame`, so every
    * applicable delete folds at once; all other files carry forward
    * by reference. After the commit the metadata fast paths answer
    * again and reads are back to a single scan. The delete key files
    * themselves stay on disk for time travel until vacuum. Returns
    * the committed version (the current head when no deletes are
    * pending). */
  def applyDeletes(spark: SparkSession, dir: String): Long =
    transact(spark, dir, "applyDeletes") { m =>
      val touched = m.deletes.flatMap { d =>
        val eligible = m.entries.filter(_.seq < d.seq)
        if (eligible.isEmpty) Nil
        else if (isDv(d)) {
          // a delete vector NAMES its files — the fold is
          // file-granular by construction, no key probing needed
          val named = d.dvFiles.map(_._1).toSet
          eligible.filter(e => named.contains(e.path))
        } else {
          // the delete recorded its keys under the names current at
          // ITS commit — map both frame and key list to today's
          val cur = d.keyCols.map(k => currentName(m, k, d.seq))
          val keyFrame = d.keyCols.zip(cur)
            .foldLeft(deleteKeys(spark, dir, d)) { case (kf, (o, n)) =>
              if (o == n) kf else kf.withColumnRenamed(o, n)
            }
          touchedFiles(spark, dir, m, keyFrame, cur, eligible)
        }
      }.groupBy(_.path).map(_._2.head).toSeq
      val cleared = m.copy(deletes = Nil)
      if (m.deletes.isEmpty) NoCommit()
      // no eligible file holds any doomed key: clearing the list is
      // a metadata-only commit (logical contents unchanged)
      else if (touched.isEmpty) Publish(cleared)
      else rewrite(dir, cleared, m.entries.filterNot(e => touched.exists(_.path == e.path)),
        entriesFrame(spark, dir, m, touched))
    }.merge

  /** The pending merge-on-read deletes of a version (default head):
    * (key columns, committed seq, recorded key count) per delete —
    * the observability hook the rows and specs assert on. */
  def pendingDeletes(
      spark: SparkSession, dir: String,
      version: Option[Long] = None): Seq[(Seq[String], Long, Long)] = {
    manifestAt(spark, dir, version).deletes
      .map(d => (d.keyCols, d.seq, d.rows))
  }

  /** CDC between two versions: every row added or removed from
    * `fromV` to `toV`, tagged `_change` ∈ insert|delete. Two paths,
    * picked by the MANIFESTS alone: if the from-version's file set is
    * a subset of the to-version's (pure appends — including
    * insert-only MERGEs, which the file-granular commit leaves as
    * appends), the change set IS the added files, read directly — a
    * zero-compute file-level diff no matter how large the table; any
    * rewriting commit between them (key-touching merge, delete,
    * optimize) falls back to a content diff (exceptAll both ways —
    * multiset-exact, one shuffle each). Downstream incremental
    * consumers (a mergeAdditive refresh, a sync) read the changes
    * instead of rescanning the corpus.
    */
  /** The path `changesBetween(fromV, toV)` will take — pure manifest
    * inspection, no data read: "append" (file-set diff, zero
    * compute), "mor-delete" (delta-bounded doomed-row lookup), or
    * "content-diff" (the multiset-exact fallback). The observability
    * hook the CDC rows' in-row requires assert on. */
  def changesPath(
      spark: SparkSession, dir: String, fromV: Long, toV: Long): String = {
    require(fromV < toV, s"changesPath: need fromV < toV, got $fromV >= $toV")
    val fm = readManifest(spark, dir, fromV)
    val tm = readManifest(spark, dir, toV)
    classifyChanges(fm, tm)
  }

  private def classifyChanges(fm: Manifest, tm: Manifest): String = {
    val ff = fm.entries.map(_.path).toSet
    val tf = tm.entries.map(_.path).toSet
    val fd = fm.deletes.map(d => (d.paths, d.seq))
    val td = tm.deletes.map(d => (d.paths, d.seq))
    if (fm.renames != tm.renames || fm.drops != tm.drops) "schema-evolution"
    else if (ff.subsetOf(tf) && fd.toSet == td.toSet) "append"
    // the MoR-delete fast path needs the delete list to EXTEND from's
    // (seq order preserved) over an IDENTICAL file set
    else if (ff == tf && td.size > fd.size && td.take(fd.size) == fd) "mor-delete"
    else "content-diff"
  }

  def changesBetween(
      spark: SparkSession, dir: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"changesBetween: need fromV < toV, got $fromV >= $toV")
    val fm = readManifest(spark, dir, fromV)
    val tm = readManifest(spark, dir, toV)
    classifyChanges(fm, tm) match {
      // a rename/drop is a SCHEMA change, not a row change — diffing
      // across one would misreport every row as changed (or throw on
      // the mismatched schemas); consumers re-sync from the evolved head
      case "schema-evolution" =>
        throw new IllegalArgumentException(
          s"changesBetween($fromV, $toV) crosses a column rename/drop — a " +
            "schema change, not a row change; re-sync CDC consumers from " +
            "the evolved head")
      // the append fast path requires IDENTICAL pending delete lists:
      // a merge-on-read delete commit changes the logical contents
      // while changing no data file (ff ⊆ tf would wrongly read as
      // "no changes"), and files added after a shared delete list
      // always carry higher seqs than every shared delete, so reading
      // them raw IS their logical content
      case "append" =>
        val ff = fm.entries.map(_.path).toSet
        val added = tm.entries.filterNot(e => ff.contains(e.path)).sortBy(_.path)
        if (added.isEmpty)
          read(spark, dir, Some(toV)).limit(0).withColumn("_change", lit("insert"))
        else rawRead(spark, dir, added).withColumn("_change", lit("insert"))
      // MoR-delete fast path: identical file set, to's delete list
      // extends from's — the changes are EXACTLY the from-state rows
      // matching the new delete keys, computed at DELTA cost: per new
      // delete (in seq order), stats+bloom pruning bounds the
      // candidate files, and the "before" frame applies from's
      // deletes plus the new deletes already processed, so a key
      // doubly-retracted by two new deletes reports once, at the
      // first. A retraction stream's CDC consumer reads key-bounded
      // slices, never the table.
      case "mor-delete" =>
        val newDels = tm.deletes.drop(fm.deletes.size)
        val frames = newDels.zipWithIndex.flatMap { case (d, i) =>
          val mState = fm.copy(deletes = fm.deletes ++ newDels.take(i))
          val eligible = fm.entries.filter(_.seq < d.seq)
          if (isDv(d)) {
            // positional: the change set is the marked positions of
            // exactly the files the vector names, still logically
            // present under the prior state — file-bounded, never a
            // table scan
            val named = d.dvFiles.map(_._1).toSet
            val cand = eligible.filter(e => named.contains(e.path))
            if (cand.isEmpty) None
            else {
              Some(entriesFrameMeta(spark, dir, mState, cand, keepMeta = true)
                .join(dvFrame(spark, dir, d), Seq(DvNameCol, DvPosCol), "left_semi")
                .drop(DvNameCol, DvPosCol))
            }
          } else {
            val keyFrame = deleteKeys(spark, dir, d)
            val cand = prunedCandidates(spark, dir, fm, keyFrame, d.keyCols, eligible)
            if (cand.isEmpty) None
            else Some(entriesFrame(spark, dir, mState, cand)
              .join(keyFrame, d.keyCols, "left_semi"))
          }
        }
        if (frames.isEmpty)
          read(spark, dir, Some(fromV)).limit(0).withColumn("_change", lit("delete"))
        else frames.reduce(_.unionByName(_, allowMissingColumns = true))
          .withColumn("_change", lit("delete"))
      case _ =>
        val from = read(spark, dir, Some(fromV))
        val to = read(spark, dir, Some(toV))
        to.exceptAll(from).withColumn("_change", lit("insert"))
          .unionByName(from.exceptAll(to).withColumn("_change", lit("delete")))
    }
  }

  /** Drop data files referenced by NO retained manifest, keeping the
    * newest `keepVersions` manifests (and every version's
    * readability within them). Returns the number of files deleted.
    *
    * The streaming ledger SURVIVES vacuum: every manifest carries the
    * full committed-batch-id set forward, so the retained head still
    * answers for batches whose manifests were dropped.
    */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int): Int = {
    require(keepVersions >= 1, "vacuum must keep at least the head version")
    val f = fs(spark, dir)
    val vs = versions(spark, dir)
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
    // liveness covers data files AND merge-on-read delete key files —
    // a retained manifest's pending deletes must stay readable
    def named(v: Long): Set[String] = {
      val m = readManifest(spark, dir, v)
      m.entries.map(_.path).toSet ++ m.deletes.flatMap(_.paths)
    }
    val live = keep.flatMap(named).toSet
    // EXTERNAL (absolute) references belong to the clone's source
    // table — never ours to delete, whatever manifests age out
    val dead = (drop.flatMap(named).toSet -- live)
      .filterNot(p => p.startsWith("/") || p.contains("://"))
    dead.foreach(p => f.delete(new Path(s"$dir/$p"), false))
    // entry SEGMENTS referenced only by dropped manifests die with them
    def segs(v: Long): Set[String] =
      readManifest(spark, dir, v).segments.map(_.name).toSet
    val liveSegs = keep.flatMap(segs).toSet
    (drop.flatMap(segs).toSet -- liveSegs).foreach { n =>
      f.delete(new Path(s"$dir/$ManifestDir/$n"), false)
      segmentCache.remove(s"$dir/$ManifestDir/$n"): Unit
    }
    // a dead file's bloom sidecars die with it (deterministic name
    // derivation: _blooms/<relpath>.<col>.bloom)
    dead.groupBy(_.split('/').head).foreach { case (batch, paths) =>
      val bdir = new Path(s"$dir/_blooms/$batch")
      if (f.exists(bdir)) {
        val names = paths.map(p => p.split('/').last + ".").toSeq
        f.listStatus(bdir).toSeq
          .filter(s => names.exists(s.getPath.getName.startsWith))
          .foreach(s => f.delete(s.getPath, false))
        if (f.listStatus(bdir).isEmpty) f.delete(bdir, false): Unit
      }
    }
    drop.foreach(v => f.delete(manifestPath(dir, v), false))
    // empty batch/delete dirs left behind are litter, not state
    f.listStatus(new Path(dir)).toSeq
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith("batch-") ||
          s.getPath.getName.startsWith("delete-")))
      .filter(s => f.listStatus(s.getPath).isEmpty)
      .foreach(s => f.delete(s.getPath, false))
    dead.size
  }

  /** Age-based retention: vacuum every version whose commit instant
    * predates `olderThanMs`, ALWAYS keeping the head (a table never
    * loses its current contents to a retention policy, however old
    * the last commit is) — the scheduled-hygiene companion of the
    * count-based `vacuum`, expressed through it so the liveness rule,
    * sidecar cleanup, and ledger survival are one code path. */
  def vacuumOlderThan(spark: SparkSession, dir: String, olderThanMs: Long): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"snapshot table $dir has no committed version")
    val aged = vs.count(v =>
      readManifest(spark, dir, v).committedAtMs < olderThanMs)
    vacuum(spark, dir, keepVersions = math.max(1, vs.size - aged))
  }
}
