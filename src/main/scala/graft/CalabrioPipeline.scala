package graft

import graft.operators.{Maintenance, Shred}
import graft.sources.{Extraction, Ingest, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's full lifecycle (SURVEY §3 E1-E3) as one composed
  * pipeline: forms single-GET → windowed contact extraction →
  * per-contact evaluation fan-out → per-contact transcript fan-out →
  * comment link-follow → staged JSON-lines → PERMISSIVE load → shred →
  * idempotent merges into the typed target tables, each landing via
  * atomic tmp-swap overwrite, plus the raw-payload backup mirror.
  * Fetchers are injected (fixture-backed in tests, HTTP against
  * Calabrio in production), so the whole dataflow runs and verifies
  * offline.
  *
  * Stages run as a dependency DAG, not in list order: each starts once
  * its upstream stages have finished (see fullRun for the edges), and
  * each fan-out's requests run in its own Spark tasks (the staged
  * write repartitions instead of coalescing), so the N+1 request
  * waits of evaluations, transcripts and comments overlap.
  *
  * Vendor payloads arrive as JSON arrays; the pipeline normalizes to
  * JSON-lines at stage time. Parallelism granularity: staged batches
  * are gzip'd (S9, mirroring the reference's stage upload), and gzip
  * is NOT splittable — each staged SHARD is one load task regardless
  * of line format (the lines format buys shard-internal streaming and
  * the `]\n[` stitch-free append, not sub-shard splits). Bounded today
  * because every window fetch is capped (limit=50000,
  * qa_api_handler.py:103); at 100× raise `Config.stageShards` so the
  * load parallelism scales with the batch — the "file" is a directory
  * either way and the stage loads glob it identically.
  */
object CalabrioPipeline {

  final case class Config(stageDir: String, targetDir: String, stageShards: Int = 1)

  def formsTable(c: Config): String = s"${c.targetDir}/t_qa_forms"
  def contactsTable(c: Config): String = s"${c.targetDir}/t_qa_contacts"
  def evaluationsTable(c: Config): String = s"${c.targetDir}/t_qa_evaluations"
  def scoresTable(c: Config): String = s"${c.targetDir}/t_qa_evaluation_scores"
  def commentsTable(c: Config): String = s"${c.targetDir}/t_qa_evaluation_comments"
  def transcriptsTable(c: Config): String = s"${c.targetDir}/t_qa_transcripts"
  def backupTable(c: Config): String = s"${c.targetDir}/t_contacts_staging_backup"

  private def readOr(spark: SparkSession, path: String, empty: => DataFrame): DataFrame =
    Sinks.readOr(spark, path, empty)

  /** All lifecycle target tables by their reference names. */
  def targetTables(c: Config): Map[String, String] = Map(
    "t_qa_forms" -> formsTable(c),
    "t_qa_contacts" -> contactsTable(c),
    "t_qa_evaluations" -> evaluationsTable(c),
    "t_qa_evaluation_scores" -> scoresTable(c),
    "t_qa_evaluation_comments" -> commentsTable(c),
    "t_qa_transcripts" -> transcriptsTable(c),
    "t_contacts_staging_backup" -> backupTable(c))

  /** Register every existing target as a temp view under its reference
    * table name, so a SQL user of the reference keeps their queries:
    * `spark.sql("SELECT ... FROM t_qa_evaluations")` works as-is
    * (the reference's analytics scripts in queries/ address these
    * names). Views are plan-time references to the parquet paths —
    * re-run after a fullRun swaps targets so new file listings are
    * picked up. Returns the registered names.
    */
  def registerViews(spark: SparkSession, c: Config): Seq[String] =
    targetTables(c).toSeq.sortBy(_._1).flatMap { case (name, path) =>
      if (Sinks.exists(path)) {
        spark.read.parquet(path).createOrReplaceTempView(name)
        Some(name)
      } else None
    }

  /** A once-per-run value shared by concurrently running stages: the
    * first caller computes it while the others wait, and the run's
    * `finally` releases it only if some stage asked for it. A failed
    * computation leaves it unset, so the next caller retries. */
  private final class RunMemo[A](compute: () => A) {
    private var value: Option[A] = None
    def get(): A = synchronized {
      value.getOrElse { val a = compute(); value = Some(a); a }
    }
    def ifComputed(f: A => Unit): Unit = synchronized(value).foreach(f)
  }

  /** One full batch run, its stages run as a dependency DAG
    * ([[Pipeline.runDag]]): `purge_stage` precedes both extractions
    * (and through them everything else); the only chain longer than
    * extract → land is contacts → evaluations → comments, so forms,
    * the contacts landings, the backup mirror, transcripts and the
    * evaluation landings overlap. Returns per-stage results in list
    * order. A failed stage is isolated like the reference's full_run:
    * its dependents report `skipped: upstream <name> failed` and never
    * land stale or missing staging, independent branches still run.
    * Re-running with the same inputs is a no-op on every target — the
    * merge algebra's replay idempotency, property-tested in
    * MaintenanceSpec.
    *
    * All fan-out stages (evaluations, transcripts, comments) key off
    * the CURRENT contacts staging batch, exactly like the reference's
    * loops over self.contact_json (qa_api_handler.py:131,172) — NOT
    * the accumulated contacts target: the rebuild stages delete target
    * rows only for staged contacts, so fresh rows must always be a
    * subset of that restated set or re-shredded rows for non-staged
    * contacts would duplicate their undeleted existing rows.
    */
  def fullRun(
      spark: SparkSession,
      config: Config,
      windows: Seq[Ingest.DateWindow],
      formsFetcher: Ingest.BatchFetcher,
      contactsFetcher: Ingest.WindowFetcher,
      evalsFetcher: Ingest.KeyFetcher,
      transcriptsFetcher: Ingest.KeyFetcher,
      commentsFetcher: Extraction.LinkFetcher): Seq[Pipeline.StageResult] = {
    import spark.implicits._
    val c = config

    /** The staged batches more than one stage reads (contacts: merge
      * and the id set below; evaluations: merge, scores and comment
      * links), each loaded and cached once per run and released after
      * it. Identical staged-load plans share one cache entry, so
      * per-stage loads would let the first stage's release drop the
      * cache a concurrent sibling is still scanning. */
    val stagedContacts = new RunMemo(() => Ingest.loadStagedLines(
      spark, s"${c.stageDir}/all_contacts_*.json", Schemas.contacts))
    val stagedEvals = new RunMemo(() => Ingest.loadStagedLines(
      spark, s"${c.stageDir}/fix_eval_raw_*.json", Schemas.evaluations))

    /** The restated-contact set every fan-out/delete/rebuild keys on —
      * the ids in the CONTACTS staging batch (Update…sql:90,145,181),
      * NOT the contacts that happen to appear in the evals/comments
      * staging: a restated contact whose evaluations all vanished
      * upstream must still have its stale rows deleted. Computed once
      * per run (it feeds 5 stages), distinct (ids may repeat across
      * batch files; the scores/comments shreds have no downstream
      * dedup, so duplicate fan-out keys would duplicate rows), cached
      * small, and released after the run.
      */
    val stagedIds = new RunMemo(() =>
      stagedContacts.get().good.select(col("id").as("contact_id")).distinct().cache())
    def stagedContactIds(): DataFrame = stagedIds.get()

    /** Load staged lines, run the stage body, release the batch cache. */
    def withStaged[A](pattern: String, schema: org.apache.spark.sql.types.StructType)(
        body: DataFrame => A): A = {
      val st = Ingest.loadStagedLines(spark, s"${c.stageDir}/$pattern", schema)
      try body(st.good)
      finally st.release()
    }

    val stages = Seq(
      Pipeline.Stage("purge_stage", () =>
        Sinks.purgeStage(spark, c.stageDir)),

      // E3 step 2: forms is a single unparameterized GET and a
      // full-replace CTAS (qa_api_handler.py:73-84, Update…sql:6-27).
      Pipeline.Stage("extract_forms", () => {
        val raw = Ingest.fetchBatch(spark, formsFetcher)
        Sinks.writeJsonBatch(
          Ingest.parseDocs(raw, Schemas.forms), c.stageDir, "forms", 1, shards = c.stageShards)
      }, Seq("purge_stage")),

      Pipeline.Stage("replace_forms", () =>
        withStaged("forms_*.json", Schemas.forms) { good =>
          Sinks.overwriteAtomic(Shred.forms(good), formsTable(c))
        }, Seq("extract_forms")),

      Pipeline.Stage("extract_contacts", () => {
        val raw = Ingest.fetchWindows(spark, windows, contactsFetcher)
        Sinks.writeJsonBatch(
          Ingest.parseDocs(raw, Schemas.contacts), c.stageDir, "all_contacts", 1, shards = c.stageShards)
      }, Seq("purge_stage")),

      Pipeline.Stage("merge_contacts", () => {
        val fresh = Shred.contacts(stagedContacts.get().good)
        val target = readOr(spark, contactsTable(c), fresh.limit(0))
        Sinks.overwriteAtomic(
          Maintenance.insertOnlyMerge(target, fresh, Seq("contact_id")),
          contactsTable(c))
      }, Seq("extract_contacts")),

      Pipeline.Stage("extract_evaluations", () => {
        val ids = stagedContactIds().select(col("contact_id")).as[java.lang.Long]
        val raw = Ingest.fetchPerKey(ids, evalsFetcher, tasks = 4)
        Sinks.writeJsonBatch(
          Ingest.parseDocs(raw, Schemas.evaluations), c.stageDir, "fix_eval_raw", 1, shards = c.stageShards)
      }, Seq("extract_contacts")),

      Pipeline.Stage("merge_evaluations", () => {
        val good = stagedEvals.get().good
        val fresh = Shred.evaluations(good)
        val target = readOr(spark, evaluationsTable(c), fresh.limit(0))
        val survivors = Maintenance.deleteVanished(
          target, stagedContactIds(), good.select(col("id").as("evaluation_id")))
        Sinks.overwriteAtomic(
          Maintenance.upsertKeepCols(
            survivors, fresh, Seq("evaluation_id"),
            keepCols = Set("contact_id", "evaluated_date")),
          evaluationsTable(c))
      }, Seq("extract_evaluations")),

      Pipeline.Stage("rebuild_scores", () => {
        val fresh = Shred.scores(stagedEvals.get().good)
        val target = readOr(spark, scoresTable(c), fresh.limit(0))
        Sinks.overwriteAtomic(
          Maintenance.rebuildForContacts(target, stagedContactIds(), fresh),
          scoresTable(c))
      }, Seq("extract_evaluations")),

      // S5: per-contact transcript fan-out (qa_api_handler.py:163-200).
      // The reference stages these but has no transform SQL; landing
      // them as a per-contact rebuild keeps the lifecycle idempotent.
      Pipeline.Stage("extract_transcripts", () => {
        val ids = stagedContactIds().select(col("contact_id")).as[java.lang.Long]
        val raw = Ingest.fetchPerKey(ids, transcriptsFetcher, tasks = 4)
        Sinks.writeJsonBatch(
          Ingest.parseDocs(raw, Schemas.transcript), c.stageDir, "fix_transcripts", 1, shards = c.stageShards)
      }, Seq("extract_contacts")),

      Pipeline.Stage("rebuild_transcripts", () =>
        withStaged("fix_transcripts_*.json", Schemas.transcript) { good =>
          val fresh = good.withColumnRenamed("ccrid", "contact_id")
          val target = readOr(spark, transcriptsTable(c), fresh.limit(0))
          Sinks.overwriteAtomic(
            Maintenance.rebuildForContacts(target, stagedContactIds(), fresh),
            transcriptsTable(c))
        }, Seq("extract_transcripts")),

      Pipeline.Stage("extract_comments", () => {
        val raw = Extraction.followLinks(stagedEvals.get().good, "comments", commentsFetcher, tasks = 4)
        Sinks.writeJsonBatch(
          Ingest.parseDocs(raw, Schemas.comments), c.stageDir, "fix_comments_raw", 1, shards = c.stageShards)
      }, Seq("extract_evaluations")),

      Pipeline.Stage("rebuild_comments", () =>
        withStaged("fix_comments_raw_*.json", Schemas.comments) { good =>
          val fresh = Shred.comments(good)
          val target = readOr(spark, commentsTable(c), fresh.limit(0))
          Sinks.overwriteAtomic(
            Maintenance.rebuildForContacts(target, stagedContactIds(), fresh),
            commentsTable(c))
        }, Seq("extract_comments")),

      // D4/J4: the raw-payload backup mirror (Update…sql:217-227) —
      // merge keyed on the id EXTRACTED from the payload, matched rows
      // replace the whole src, non-matches insert. Staged lines are
      // already one JSON object per line, so src is the literal staged
      // string (no reconstruction). Key is VARCHAR like the reference's
      // src:id::VARCHAR.
      Pipeline.Stage("backup_mirror", () => {
        val lines = spark.read.textFile(s"${c.stageDir}/all_contacts_*.json")
        // one row per id: ids can repeat across batch files; the
        // reference MERGE would error on source duplicates, we keep the
        // deterministic min payload
        val fresh = lines.toDF("src")
          .filter(length(trim(col("src"))) > 0)
          .select(get_json_object(col("src"), "$.id").as("contact_id"), col("src"))
          .withColumn("_rn", row_number().over(
            Window.partitionBy("contact_id").orderBy("src")))
          .filter(col("_rn") === 1).drop("_rn")
        val target = readOr(spark, backupTable(c), fresh.limit(0))
        Sinks.overwriteAtomic(
          Maintenance.upsertKeepCols(target, fresh, Seq("contact_id"), keepCols = Set.empty),
          backupTable(c))
      }, Seq("extract_contacts")))

    try Pipeline.runDag(spark, stages)
    finally {
      stagedIds.ifComputed(_.unpersist())
      stagedContacts.ifComputed(_.release())
      stagedEvals.ifComputed(_.release())
    }
  }
}
