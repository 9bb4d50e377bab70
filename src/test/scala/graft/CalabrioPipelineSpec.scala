package graft

import java.nio.file.Files

import graft.operators.Shred
import graft.sources.{Extraction, Ingest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed E1-E3 lifecycle against fixture-backed fetchers: the
  * "switch from the reference" demonstration — extraction fan-out,
  * staged lines, loads, shreds, merges, atomic target writes, and the
  * design's core bet: replaying the whole batch is a no-op.
  */
class CalabrioPipelineSpec extends SparkSpec {

  private def rowsOf(df: DataFrame): Set[String] =
    df.toJSON.collect().toSet

  test("fullRun composes extract→stage→load→shred→merge; replay is a no-op") {
    val base = Files.createTempDirectory("graft_pipeline").toString
    val config = CalabrioPipeline.Config(s"$base/stage", s"$base/targets")
    val windows = Ingest.planWindows(
      java.time.LocalDate.parse("2024-01-01"), java.time.LocalDate.parse("2024-01-05"), 2)

    // forms fetcher: the single unparameterized GET (E3 step 2)
    val formsJson = Files.readString(
      java.nio.file.Paths.get(s"${Fixtures.Dir}/forms.json"))
    val formsFetcher = new Ingest.BatchFetcher {
      def fetch(): Iterator[String] = Iterator(formsJson)
    }

    // window fetcher: first window returns the full contacts payload
    val contactsJson = Files.readString(
      java.nio.file.Paths.get(s"${Fixtures.Dir}/qa_contacts.json"))
    val firstStart = windows.head.start
    val contactsFetcher = new Ingest.WindowFetcher {
      def fetch(w: Ingest.DateWindow): Iterator[String] =
        if (w.start == firstStart) Iterator(contactsJson) else Iterator.empty
    }

    // key fetcher: evals grouped by contact id (built once, serialized)
    val evalCols = Fixtures.evaluations(spark).columns
    val evalsByContact: Map[Long, Seq[String]] = Fixtures.evaluations(spark)
      .withColumn("cid", regexp_extract(col("qualityRef"), "(\\d+)$", 1).cast("long"))
      .select(col("cid"), to_json(struct(evalCols.map(c => col(s"`$c`")): _*)).as("j"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).toSeq }
    val evalsFetcher = new Ingest.KeyFetcher {
      def fetch(key: Long): Iterator[String] = evalsByContact.get(key) match {
        case Some(xs) => Iterator(xs.mkString("[", ",", "]"))
        case None => Iterator.empty
      }
    }

    // transcripts fetcher: utterance arrays grouped by ccrid (S5)
    val transByContact: Map[Long, Seq[String]] = Fixtures.transcripts(spark)
      .select(col("ccrid"),
        to_json(struct(col("ccrid"), col("seq"), col("text"))).as("j"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).toSeq }
    val transcriptsFetcher = new Ingest.KeyFetcher {
      def fetch(key: Long): Iterator[String] = transByContact.get(key) match {
        case Some(xs) => Iterator(xs.mkString("[", ",", "]"))
        case None => Iterator.empty // empty responses skipped (F6)
      }
    }

    // link fetcher: comments grouped by evaluation id (2nd digit run)
    val comCols = Fixtures.comments(spark).columns
    val commentsByEval: Map[Long, Seq[String]] = Fixtures.comments(spark)
      .withColumn("eid",
        element_at(regexp_extract_all(col("`$ref`"), lit("\\d+"), lit(0)), 2).cast("long"))
      .select(col("eid"), to_json(struct(comCols.map(c => col(s"`$c`")): _*)).as("j"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).toSeq }
    val commentsFetcher = new Extraction.LinkFetcher {
      def fetch(url: String): Iterator[String] = {
        val runs = "\\d+".r.findAllIn(url).toSeq
        if (runs.size < 2) Iterator.empty
        else commentsByEval.get(runs(1).toLong) match {
          case Some(xs) => Iterator(xs.mkString("[", ",", "]"))
          case None => Iterator.empty
        }
      }
    }

    def run(
        cf: Ingest.WindowFetcher = contactsFetcher,
        ef: Ingest.KeyFetcher = evalsFetcher): Seq[Pipeline.StageResult] =
      CalabrioPipeline.fullRun(
        spark, config, windows, formsFetcher, cf, ef, transcriptsFetcher, commentsFetcher)

    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val res1 = run()
    assert(res1.forall(_.error.isEmpty),
      res1.filter(_.error.nonEmpty).mkString("; "))

    // staged caches are released inside the run — nothing accumulates
    // in a long-lived session (VERDICT r3 What's-wrong #3)
    assert(spark.sparkContext.getPersistentRDDs.keySet === persistedBefore)

    // forms target is the full-replace CTAS of the fetched payload
    val forms = spark.read.parquet(CalabrioPipeline.formsTable(config))
    assert(rowsOf(forms) === rowsOf(Shred.forms(Fixtures.forms(spark))))

    // contacts target equals the shred of the fetched payload
    val contacts = spark.read.parquet(CalabrioPipeline.contactsTable(config))
    val expectedContacts = Shred.contacts(Fixtures.qaContacts(spark))
    assert(rowsOf(contacts) === rowsOf(expectedContacts))

    // evaluations: exactly the SCORED evals of fetched contacts, unique keys
    val evals = spark.read.parquet(CalabrioPipeline.evaluationsTable(config))
    val expectedEvals = Shred.evaluations(Fixtures.evaluations(spark))
      .join(expectedContacts.select("contact_id"), Seq("contact_id"), "left_semi")
      .select(evals.columns.map(col): _*)
    assert(rowsOf(evals) === rowsOf(expectedEvals))
    assert(evals.select("evaluation_id").distinct().count() === evals.count())

    val scores = spark.read.parquet(CalabrioPipeline.scoresTable(config))
    val comments = spark.read.parquet(CalabrioPipeline.commentsTable(config))
    assert(scores.count() > 0)
    assert(comments.count() > 0)

    // transcripts: every staged contact's utterances, keyed by contact
    val transcripts = spark.read.parquet(CalabrioPipeline.transcriptsTable(config))
    val expectedTranscripts = Fixtures.transcripts(spark)
      .withColumnRenamed("ccrid", "contact_id")
      .join(expectedContacts.select("contact_id"), Seq("contact_id"), "left_semi")
    assert(rowsOf(transcripts) === rowsOf(expectedTranscripts))

    // backup mirror: one raw payload per staged contact, id-addressable
    val backup = spark.read.parquet(CalabrioPipeline.backupTable(config))
    assert(backup.count() === contacts.count())
    assert(backup.filter(
      get_json_object(col("src"), "$.id") =!= col("contact_id")).count() === 0)

    // a SQL user of the reference keeps their table names
    val views = CalabrioPipeline.registerViews(spark, config)
    assert(views.size === 7, s"all targets should register: $views")
    assert(spark.sql(
      """SELECT count(*) FROM t_qa_evaluations e
        |JOIN t_qa_contacts c ON e.contact_id = c.contact_id""".stripMargin)
      .collect().head.getLong(0) === evals.count())

    // replay: identical fetchers, second run — every target unchanged
    def allTargets(): Seq[Set[String]] = Seq(
      CalabrioPipeline.formsTable(config),
      CalabrioPipeline.contactsTable(config),
      CalabrioPipeline.evaluationsTable(config),
      CalabrioPipeline.scoresTable(config),
      CalabrioPipeline.commentsTable(config),
      CalabrioPipeline.transcriptsTable(config),
      CalabrioPipeline.backupTable(config)).map(p => rowsOf(spark.read.parquet(p)))
    val snap = allTargets()
    val res2 = run()
    assert(res2.forall(_.error.isEmpty),
      res2.filter(_.error.nonEmpty).mkString("; "))
    assert(allTargets() === snap)

    // incremental run over a SUBSET of previously-merged contacts (the
    // normal steady state — ADVICE r3 high): fan-out must key on the
    // CURRENT staging batch, not the accumulated target, or freshly
    // shredded scores/comments/transcripts for non-staged contacts
    // union on top of their undeleted rows and duplicate them.
    val subsetIds = Fixtures.qaContacts(spark)
      .select("id").orderBy("id").collect().map(_.getLong(0)).take(10)
    val contactCols = Fixtures.qaContacts(spark).columns
    val subsetJson = Fixtures.qaContacts(spark)
      .filter(col("id").isin(subsetIds: _*))
      .select(to_json(struct(contactCols.map(c => col(s"`$c`")): _*)).as("j"))
      .collect().map(_.getString(0)).mkString("[", ",", "]")
    val subsetFetcher = new Ingest.WindowFetcher {
      def fetch(w: Ingest.DateWindow): Iterator[String] =
        if (w.start == firstStart) Iterator(subsetJson) else Iterator.empty
    }
    val resSub = run(cf = subsetFetcher)
    assert(resSub.forall(_.error.isEmpty),
      resSub.filter(_.error.nonEmpty).mkString("; "))
    assert(allTargets() === snap,
      "a subset-window incremental run over unchanged upstream data must be a no-op")

    // upstream deletion (D1): a contact stays in the extraction window
    // but its evaluations vanish — the re-run must delete its rows
    // from evaluations AND scores even though no eval mentions it
    // fresh reads: each atomic swap invalidates earlier frames' file
    // listings, so re-plan from the path after every run
    val evalsNow = spark.read.parquet(CalabrioPipeline.evaluationsTable(config))
    val victim = evalsNow.select("contact_id").limit(1)
      .collect().head.getLong(0)
    val survivingExpected = rowsOf(evalsNow.filter(col("contact_id") =!= victim))
    val evalsFetcher2 = new Ingest.KeyFetcher {
      def fetch(key: Long): Iterator[String] =
        if (key == victim) Iterator.empty else evalsFetcher.fetch(key)
    }
    val res3 = run(ef = evalsFetcher2)
    assert(res3.forall(_.error.isEmpty),
      res3.filter(_.error.nonEmpty).mkString("; "))
    val evalsAfter = spark.read.parquet(CalabrioPipeline.evaluationsTable(config))
    val scoresAfter = spark.read.parquet(CalabrioPipeline.scoresTable(config))
    assert(evalsAfter.filter(col("contact_id") === victim).count() === 0,
      "vanished evaluations must be deleted for restated contacts")
    assert(scoresAfter.filter(col("contact_id") === victim).count() === 0)
    // everyone else untouched
    assert(rowsOf(evalsAfter) === survivingExpected)

    // failure boundary: the evaluations fan-out fails, so the stages
    // that need its staging are skipped and their targets keep their
    // rows; the independent branches still land
    val before = allTargets()
    val failingEvals = new Ingest.KeyFetcher {
      def fetch(key: Long): Iterator[String] = throw new java.io.IOException("evals API down")
    }
    val res4 = run(ef = failingEvals)
    val status = res4.map(r => r.name -> r.error).toMap
    assert(status("extract_evaluations").exists(_.contains("evals API down")))
    assert(status("merge_evaluations") === Some("skipped: upstream extract_evaluations failed"))
    assert(status("rebuild_scores") === Some("skipped: upstream extract_evaluations failed"))
    assert(status("extract_comments") === Some("skipped: upstream extract_evaluations failed"))
    assert(status("rebuild_comments") === Some("skipped: upstream extract_comments failed"))
    val ok = Set("purge_stage", "extract_forms", "replace_forms", "extract_contacts",
      "merge_contacts", "extract_transcripts", "rebuild_transcripts", "backup_mirror")
    assert(ok.forall(status(_).isEmpty), res4.filter(_.error.nonEmpty).mkString("; "))
    assert(allTargets() === before)
    assert(spark.sparkContext.getPersistentRDDs.keySet === persistedBefore)
  }
}
