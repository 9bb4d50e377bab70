package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.sources.{Extraction, Ingest}
import graft.sources.Ingest.DateWindow
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Orchestration + extraction-config surface (SURVEY §2.10 C1-C3,
  * §2.1 S1/S3).
  */
class PipelineSpec extends SparkSpec {

  test("runSequential preserves order, isolates failures, times stages") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val res = Pipeline.runSequential(Seq(
      Pipeline.Stage("a", () => seen += "a"),
      Pipeline.Stage("boom", () => throw new RuntimeException("nope")),
      Pipeline.Stage("b", () => seen += "b")))
    assert(seen.toSeq === Seq("a", "b"))
    assert(res.map(_.name) === Seq("a", "boom", "b"))
    assert(res(1).error.exists(_.contains("nope")))
    assert(res.forall(_.millis >= 0))
  }

  test("runDag without edges executes all stages and reports in list order") {
    val n = new AtomicInteger(0)
    val res = Pipeline.runDag(spark,
      (1 to 6).map(i => Pipeline.Stage(s"s$i", () => { n.incrementAndGet(); () })))
    assert(n.get === 6)
    assert(res.map(_.name) === (1 to 6).map(i => s"s$i"))
    assert(res.forall(_.error.isEmpty))
  }

  test("runDag overlaps independent stages; a dependent starts only after its upstream ends") {
    // a and b each wait for the other to have started: both waits
    // succeed only if the two run at the same time (a serial runner
    // times out after 10 s instead of hanging)
    val aIn, bIn = new CountDownLatch(1)
    val aSawB, bSawA, aDone, cSawADone = new AtomicBoolean(false)
    val res = Pipeline.runDag(spark, Seq(
      Pipeline.Stage("a", () => {
        aIn.countDown()
        aSawB.set(bIn.await(10, TimeUnit.SECONDS))
        aDone.set(true)
      }),
      Pipeline.Stage("b", () => {
        bIn.countDown()
        bSawA.set(aIn.await(10, TimeUnit.SECONDS))
      }),
      Pipeline.Stage("c", () => cSawADone.set(aDone.get), upstream = Seq("a"))))
    assert(res.map(_.name) === Seq("a", "b", "c"))
    assert(res.forall(_.error.isEmpty), res.mkString("; "))
    assert(aSawB.get && bSawA.get, "independent stages a and b did not overlap")
    assert(cSawADone.get, "c started before its upstream a ended")
  }

  test("runDag failure boundary: dependents of a failed stage are skipped, other branches run") {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def mark(n: String): () => Unit = () => { ran.add(n); () }
    val res = Pipeline.runDag(spark, Seq(
      Pipeline.Stage("root", mark("root")),
      Pipeline.Stage("boom", () => throw new RuntimeException("nope"), Seq("root")),
      Pipeline.Stage("dep", mark("dep"), Seq("boom")),
      Pipeline.Stage("depdep", mark("depdep"), Seq("dep", "root")),
      Pipeline.Stage("indep", mark("indep"), Seq("root"))))
    assert(res.map(_.name) === Seq("root", "boom", "dep", "depdep", "indep"))
    assert(ran.asScala.toSet === Set("root", "indep"))
    val err = res.map(r => r.name -> r.error).toMap
    assert(err("boom").exists(_.contains("nope")))
    assert(err("dep") === Some("skipped: upstream boom failed"))
    assert(err("depdep") === Some("skipped: upstream dep failed"))
    assert(err("root").isEmpty && err("indep").isEmpty)
  }

  test("runDag refuses an upstream that is not listed before its stage") {
    val e = intercept[IllegalArgumentException](Pipeline.runDag(spark, Seq(
      Pipeline.Stage("a", () => (), Seq("b")),
      Pipeline.Stage("b", () => ()))))
    assert(e.getMessage.contains("upstream b"))
  }

  test("runDag tags each stage's Spark jobs with its name and keeps the caller's job group") {
    val sc = spark.sparkContext
    val group = s"pipeline-spec-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group).foreach(p =>
          seen.add(p.getProperty(Pipeline.StageProperty) -> p.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "stage tags")
    try {
      val res = Pipeline.runDag(spark, Seq(
        Pipeline.Stage("one", () => { spark.range(10).count(); () }),
        Pipeline.Stage("two", () => { spark.range(20).count(); () }, Seq("one"))))
      assert(res.forall(_.error.isEmpty), res.mkString("; "))
      GraftBus.drain(sc)
      val tags = seen.asScala.toSeq
      assert(tags.map(_._1).toSet === Set("one", "two"), tags)
      // the tag lives on the stage threads only
      assert(sc.getLocalProperty(Pipeline.StageProperty) === null)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("withProgress observes spark jobs and records") {
    val (_, pm) = Pipeline.withProgress(spark) {
      Tables.documents(spark, "/root/testdata/sf0.001").count()
    }
    assert(pm.jobsCompleted >= 1)
    assert(pm.tasksCompleted >= 1)
    assert(pm.recordsRead > 0)
  }

  test("flagship entry returns rows on the smoke scale (t1 gate)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("driver contract: every oracle key has a query; every query is oracle-checked") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet),
      s"orphan oracle keys: ${SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet}")
    // r14 graduated the last five rows-only rows to hash-checked
    // DuckDB replays (md5-derived signatures, pinned IVF/PQ
    // quantizers) — a query without an oracle is an unmeasured
    // surface now; fail loudly if one ever reappears
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet === Set.empty,
      s"rows-only queries: ${SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet}")
  }

  test("queryString builds the reference's windowed-scan URL shape (P13)") {
    val url = Extraction.queryString("/api/rest/recording/contact", Seq(
      "beginDate" -> "2024-01-01", "endDate" -> "2024-01-03",
      "limit" -> "50000", "evalState" -> "scored"))
    assert(url === "/api/rest/recording/contact?beginDate=2024-01-01&endDate=2024-01-03&limit=50000&evalState=scored")
    assert(Extraction.queryString("/x", Nil) === "/x")
    // reserved chars are encoded
    assert(Extraction.queryString("/x", Seq("q" -> "a b&c")) === "/x?q=a+b%26c")
  }

  test("credentialsFrom parses env-injected JSON and rejects absence") {
    val env = Map("CALABRIO_KEY" ->
      """{"base_url": "https://x.example/api", "user": "svc", "secret": "s3cr3t"}""")
    val c = Extraction.credentialsFrom(env)
    assert(c === Extraction.Credentials("https://x.example/api", "svc", "s3cr3t"))
    intercept[IllegalStateException](Extraction.credentialsFrom(Map.empty))
    intercept[IllegalArgumentException](
      Extraction.credentialsFrom(Map("CALABRIO_KEY" -> """{"user": "u"}""")))
  }

  test("followLinks: only rows with a link fan out (S6/F7)") {
    import spark.implicits._
    val evals = Seq(
      (5000L, "/api/contact/1/eval/5000/comment"),
      (5001L, null),
      (5002L, "/api/contact/2/eval/5002/comment")).toDF("id", "comments")
    val lf = new Extraction.LinkFetcher {
      def fetch(url: String): Iterator[String] = Iterator(s"""[{"url": "$url"}]""")
    }
    val out = Extraction.followLinks(evals, "comments", lf, tasks = 2)
    assert(out.count() === 2)
  }

  test("collapseLoadTargets mirrors the reference's glob collapse (O4)") {
    val in = Seq("all_contacts_1.json", "all_contacts_2.json", "forms.json",
      "all_contacts_7.json", "qa_contacts.json")
    assert(Ingest.collapseLoadTargets(in)
      === Seq("all_contacts_*.json", "forms.json", "qa_contacts.json"))
  }

  test("transcripts reader drops empty responses, keeps utterance order (S5/F6)") {
    val t = Fixtures.transcripts(spark)
    assert(t.count() === 30)
    assert(t.filter(org.apache.spark.sql.functions.col("ccrid").isNull).count() === 0)
  }

  test("peek returns first-N without full materialization (O3)") {
    val p = Pipeline.peek(Tables.documents(spark, "/root/testdata/sf0.001"), 3)
    assert(p.size === 3)
    assert(p.head.contains("doc_id"))
  }

  test("source selector: window scan vs keys-from-query produce the same shape") {
    import spark.implicits._
    val wf = new Ingest.WindowFetcher {
      def fetch(w: DateWindow): Iterator[String] =
        Iterator(s"""[{"id": 1, "startTime": 0, "assocCallId": "w"}]""")
    }
    val kf = new Ingest.KeyFetcher {
      def fetch(key: Long): Iterator[String] =
        Iterator(s"""[{"id": $key, "startTime": 0, "assocCallId": "k"}]""")
    }
    val fromWindows = Extraction.extract(
      spark, Extraction.WindowScan(Seq(DateWindow("2024-01-01", "2024-01-02"))), wf, kf)
    val fromQuery = Extraction.extract(
      spark, Extraction.KeysFromQuery(Seq(7L, 8L).toDF("contact_id"), "contact_id"), wf, kf)
    val a = Ingest.parseDocs(fromWindows, Schemas.contacts)
    val b = Ingest.parseDocs(fromQuery, Schemas.contacts)
    assert(a.columns === b.columns)
    assert(a.count() === 1)
    assert(b.select("id").collect().map(_.getLong(0)).toSet === Set(7L, 8L))
  }
}
