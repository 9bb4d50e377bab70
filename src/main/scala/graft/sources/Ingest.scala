package graft.sources

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The extraction-side dataflow (SURVEY §2.1), re-expressed for a
  * cluster: the reference's driver loop over date windows and per-row
  * HTTP GETs becomes a Dataset of work units fanned out across
  * executors behind a serializable Fetcher trait. The zero-egress test
  * environment injects fixture-backed fetchers; production would
  * implement the same trait with an HTTP client (S1 auth lives behind
  * the implementation, credentials from env — qa_api_handler.py:58-71).
  */
object Ingest {

  /** One extraction window [start, endExclusive). */
  final case class DateWindow(start: String, endExclusive: String)

  /** A remote batch source keyed by window (S2): returns raw JSON
    * documents. Implementations must be Serializable — they ship to
    * executors.
    */
  trait WindowFetcher extends Serializable {
    def fetch(w: DateWindow): Iterator[String]
  }

  /** A remote keyed service (S4-S6 fan-out enrich): one request per
    * key, empty result = skip (qa_api_handler.py:187-188).
    */
  trait KeyFetcher extends Serializable {
    def fetch(key: Long): Iterator[String]
  }

  /** A windowless whole-collection source: one request for the entire
    * payload (the forms endpoint — qa_api_handler.py:73-84 issues a
    * single unparameterized GET).
    */
  trait BatchFetcher extends Serializable {
    def fetch(): Iterator[String]
  }

  /** Single-request extraction (forms): one task, whole payload. The
    * forms collection is configuration-sized (hundreds of rows), so a
    * single task is the right plan even at 100 TB of fact data.
    */
  def fetchBatch(spark: SparkSession, fetcher: BatchFetcher): Dataset[String] = {
    import spark.implicits._
    spark.createDataset(Seq(0)).repartition(1).mapPartitions(_ => fetcher.fetch())
  }

  /** A PERMISSIVE staged load: `good` = typed rows, `bad` = quarantined
    * corrupt records. With cache=true (default) the parsed batch is
    * cached — Spark refuses plans whose required columns reduce to only
    * the internal corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_
    * COLUMN), and a staging batch is bounded by the extraction window —
    * so callers MUST release() after the consuming action, or a
    * long-lived session accumulates stale staging caches. With
    * cache=false `good` is served by an equivalent DROPMALFORMED read
    * (no corrupt column anywhere in the plan, so ANY action — including
    * count(), which would otherwise prune to the corrupt column alone —
    * stays legal) and `bad` is unavailable: right for consumers that
    * only want the clean rows, with nothing to release.
    */
  final class Staged private[sources] (
      raw: DataFrame, cached: Boolean, goodUncached: Option[DataFrame]) {
    val good: DataFrame = goodUncached.getOrElse(
      raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record"))
    // quarantine keeps the FULL row (typed nulls + the corrupt payload
    // for triage). It structurally requires a MATERIALIZED cache: any
    // action over it prunes to the internal corrupt-record column
    // alone, which Spark refuses on raw JSON scans (QUERY_ONLY_
    // CORRUPT_RECORD_COLUMN) — and .cache() alone is LAZY, so a
    // corrupt-only FIRST action would still plan the raw scan and
    // throw. `materialized` forces the InMemoryRelation exactly once
    // (a no-op rescan if `good` already ran an action); cache=false
    // fails fast with the real contract instead of Spark's cryptic
    // AnalysisException at action time and remains the right call for
    // good-only consumers.
    private lazy val materialized: Unit = { raw.count(); () }
    def bad: DataFrame = {
      require(cached,
        "Staged.bad requires cache=true: uncached corrupt-record plans " +
          "are disallowed by Spark (QUERY_ONLY_CORRUPT_RECORD_COLUMN)")
      materialized
      raw.filter(col("_corrupt_record").isNotNull)
    }
    def release(): Unit = { if (cached) raw.unpersist(); () }
  }

  /** S2 window planner: chunk [begin, end) into breakDays-day windows
    * (qa_api_handler.py:90-108, Start.py:19-27: 16-day lookback,
    * break_size=2). The last window is clipped to `end`.
    */
  def planWindows(begin: LocalDate, end: LocalDate, breakDays: Int): Seq[DateWindow] = {
    require(breakDays > 0, "breakDays must be positive")
    val days = ChronoUnit.DAYS.between(begin, end)
    (0L until days by breakDays.toLong).map { off =>
      val s = begin.plusDays(off)
      val e = Seq(s.plusDays(breakDays.toLong), end).min(Ordering.by[LocalDate, Long](_.toEpochDay))
      DateWindow(s.toString, e.toString)
    }
  }

  /** Distributed windowed extraction: one Spark task per window, so
    * per-task request volume is bounded exactly like the reference's
    * break_size loop — but windows run in parallel across executors
    * instead of sequentially on the driver. Returns the raw document
    * Dataset; parse with parseDocs. The tasks stay parallel only if
    * the consumer keeps them: a `coalesce` downstream would fold every
    * window back into one task, which is why Sinks.writeJsonBatch
    * repartitions instead.
    */
  def fetchWindows(
      spark: SparkSession,
      windows: Seq[DateWindow],
      fetcher: WindowFetcher): Dataset[String] = {
    import spark.implicits._
    // parallelize with explicit slice count = EXACTLY one window per
    // task (contiguous deterministic slices); repartition(n) is
    // round-robin from a random per-partition offset, which can stack
    // two windows on one task (2× the bounded request volume) and
    // leave another empty
    spark
      .createDataset(
        spark.sparkContext.parallelize(windows, windows.size.max(1)))
      .mapPartitions(_.flatMap(fetcher.fetch))
  }

  /** Per-key fan-out enrich (S4-S6): the N+1 remote join. Keys are
    * repartitioned so each task carries a bounded batch of requests
    * and `tasks` batches are in flight at once (up to the cores
    * available); empty responses drop out via flatMap (F6). Like
    * fetchWindows, the fan-out is only as parallel as its consumer
    * lets it be: Sinks.writeJsonBatch cuts the lineage with a
    * repartition, so the requests run in these tasks, not in the
    * write's.
    */
  def fetchPerKey(
      keys: Dataset[java.lang.Long],
      fetcher: KeyFetcher,
      tasks: Int): Dataset[String] = {
    import keys.sparkSession.implicits._
    keys
      // a PERMISSIVE-staged row can carry a null id (missing field
      // parses as null, not corrupt); there is nothing to fetch for it,
      // and the unboxing in fetch(k: Long) would NPE the task
      .filter((k: java.lang.Long) => k != null)
      .repartition(tasks)
      .mapPartitions(_.flatMap(k => fetcher.fetch(k)))
  }

  /** Parse raw JSON documents (each one object) into typed rows. The
    * reference's staging tables hold one VARIANT object per row with
    * the outer array stripped (populate_table.sql:3); a fetched
    * response is an array, so explode it here.
    */
  def parseDocs(raw: Dataset[String], elementSchema: StructType): DataFrame = {
    import org.apache.spark.sql.types.ArrayType
    raw
      .select(from_json(col("value"), ArrayType(elementSchema)).as("arr"))
      .select(explode(col("arr")).as("doc"))
      .select("doc.*")
  }

  /** S10 bulk load: glob-selected multiLine JSON with PERMISSIVE
    * corrupt-record capture — the Spark-native ON_ERROR='skip_file'
    * (populate_table.sql:4-5). With multiLine array files a malformed
    * file collapses to corrupt rows, so "skip file" falls out of
    * dropping them — but unlike the reference, the skipped payload
    * stays observable for a quarantine sink instead of vanishing.
    */
  def loadStaged(
      spark: SparkSession,
      dir: String,
      elementSchema: StructType,
      glob: String,
      cache: Boolean = true): Staged = {
    val withCorrupt = elementSchema.add("_corrupt_record", StringType)
    val raw = spark.read
      .option("multiLine", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("pathGlobFilter", glob)
      .schema(withCorrupt)
      .json(dir)
    if (cache) new Staged(raw.cache(), cached = true, None)
    else {
      // uncached `good` = the same files re-read DROPMALFORMED: corrupt
      // records vanish at parse time, so no plan ever references the
      // corrupt column and count()-style full pruning stays legal
      val goodOnly = spark.read
        .option("multiLine", true)
        .option("mode", "DROPMALFORMED")
        .option("pathGlobFilter", glob)
        .schema(elementSchema)
        .json(dir)
      new Staged(raw, cached = false, Some(goodOnly))
    }
  }

  /** O4: collapse per-batch filenames into distinct load targets —
    * the reference's run_table_updates turns all_contacts_1.json,
    * all_contacts_2.json, … into ONE glob-pattern load and keeps every
    * other file as its own target (qa_api_handler.py:281-287).
    */
  def collapseLoadTargets(fileNames: Seq[String]): Seq[String] =
    fileNames
      .map(n => if (n.matches("all_contacts_\\d+\\.json")) "all_contacts_*.json" else n)
      .distinct

  /** Staged-lines load: the pipeline normalizes vendor ARRAY payloads
    * into JSON-lines at stage time (parseDocs → writeJsonBatch). A
    * multiLine array file is one indivisible task no matter its size;
    * a lines file is parallel at SHARD granularity — the batches are
    * gzip'd (not a splittable codec), so read parallelism equals the
    * shard count, which writeJsonBatch(shards=...) controls
    * (uncompressed lines would additionally split at any byte offset).
    * Same PERMISSIVE quarantine contract as loadStaged.
    */
  def loadStagedLines(
      spark: SparkSession,
      pathPattern: String, // e.g. <stage>/all_contacts_*.json — the
      // batch "files" are spark output DIRECTORIES, so the glob lives
      // in the path (Hadoop glob), not in pathGlobFilter (leaf-only)
      elementSchema: StructType,
      cache: Boolean = true): Staged = {
    val withCorrupt = elementSchema.add("_corrupt_record", StringType)
    val raw = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .json(pathPattern)
    if (cache) new Staged(raw.cache(), cached = true, None)
    else {
      val goodOnly = spark.read
        .option("mode", "DROPMALFORMED")
        .schema(elementSchema)
        .json(pathPattern)
      new Staged(raw, cached = false, Some(goodOnly))
    }
  }

  /** S8 file normalizer: the reference appends whole response arrays
    * to one file and later regex-stitches `]\n[` seams into a single
    * array (qa_api_handler.py:230-236). Reading whole-file text and
    * splitting on the seam makes each array parseable independently —
    * the stitch becomes a flatMap instead of a file rewrite.
    */
  def normalizeConcatenated(
      spark: SparkSession,
      path: String,
      elementSchema: StructType): DataFrame = {
    import spark.implicits._
    val raw = spark.read.option("wholetext", true).text(path).as[String]
    // seam requires REAL whitespace (\s+, not \s*): the zero-width
    // variant also split on "][" INSIDE a JSON string value, silently
    // shredding that document into two unparseable fragments. The
    // reference's writer only ever produces "]\n[" seams; a "]["
    // with no whitespace is not a seam and correctly falls through to
    // parse (and quarantine) as one malformed document.
    val arrays = raw.flatMap(_.split("(?<=\\])\\s+(?=\\[)").iterator)
    parseDocs(arrays, elementSchema)
  }
}
