package steadybench

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import graft.sources.{Extraction, Ingest}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded value source: every generated value is a pure function of
  * (seed, key parts), so the same seed gives byte-identical inputs. */
object H {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, parts: Long*): Long = parts.foldLeft(mix(seed))((a, p) => mix(a ^ p))
  def u(seed: Long, n: Int, parts: Long*): Int = java.lang.Math.floorMod(h(seed, parts: _*), n.toLong).toInt
}

/** Requests served by the benchmark's fetchers. Spark runs locally, so
  * the fetcher tasks and the driver share these counters. `pendingNanos`
  * is the wall time during which at least one request was pending. */
object FetchStats {
  val requests = new AtomicLong()
  val serviceNanos = new AtomicLong()
  private var inFlight = 0
  private var busySince = 0L
  private var busyNanos = 0L

  def pendingNanos: Long = synchronized(busyNanos)

  def serve(nanos: Long): Unit = {
    requests.incrementAndGet()
    val t0 = System.nanoTime()
    synchronized { if (inFlight == 0) busySince = t0; inFlight += 1 }
    LockSupport.parkNanos(nanos)
    val t1 = System.nanoTime()
    serviceNanos.addAndGet(t1 - t0)
    synchronized { inFlight -= 1; if (inFlight == 0) busyNanos += t1 - busySince }
  }
}

/** A synthetic week of Calabrio payloads: daily contact windows,
  * evaluations with sections and questions, comment links and
  * transcripts. Variant "B" changes scores, comment text and
  * utterances and drops a fixed subset of evaluations; "A" restores
  * them. Contacts and forms are the same in both. The volumes (40
  * contacts a day, 5 forms) are chosen to fit a run's time budget, not
  * taken from a measured Calabrio tenant. */
final case class Calabrio(seed: Long) {
  import Calabrio._
  val days = 7
  val contactsPerDay = 40

  def windows: Seq[Ingest.DateWindow] = Ingest.planWindows(Begin, Begin.plusDays(days.toLong), 1)

  def contactIds(day: Int): Seq[Long] = (0 until contactsPerDay).map(i => 100000L + day * 10000L + i)
  def allContacts: Seq[Long] = (0 until days).flatMap(contactIds)

  def formIds: Seq[Int] = 1 to 5
  def sections(form: Int): Seq[Long] = (0 until 3).map(k => form * 1000L + k)
  def questions(section: Long): Seq[Long] = (0 until 2 + (section % 3).toInt).map(q => section * 10 + q)

  def evalIds(contact: Long): Seq[Long] = {
    val n = H.u(seed, 6, contact, 1) match { case 0 => 0; case 1 | 2 | 3 => 1; case _ => 2 }
    (0 until n).map(j => contact * 10 + j)
  }
  def present(eval: Long, v: Char): Boolean = v == 'A' || H.u(seed, 8, eval, 2) != 0
  def scored(eval: Long): Boolean = H.u(seed, 5, eval, 3) != 0
  def formOf(eval: Long): Int = 1 + H.u(seed, 5, eval, 4)
  def commentIds(eval: Long): Seq[Long] = (0 until 1 + H.u(seed, 2, eval, 6)).map(k => eval * 10 + k)
  def utterances(contact: Long): Int = 2 + H.u(seed, 3, contact, 8)
  private def vsalt(v: Char): Long = if (v == 'A') 17L else 29L

  def formsJson: String = formIds.map { f =>
    val secs = sections(f).map { s =>
      val qs = questions(s).map { q =>
        val opts = (0 until 2).map(o =>
          s"""{"id":${q * 10 + o},"label":"Option $o of $q","points":${o * 5},"type":"Standard"}""")
        s"""{"id":$q,"options":${opts.mkString("[", ",", "]")},"text":"Question $q?","weight":0.25}"""
      }
      s"""{"id":$s,"name":"Section $s","questions":${qs.mkString("[", ",", "]")},"weight":0.5}"""
    }
    s"""{"id":$f,"name":"Eval Form $f","sections":${secs.mkString("[", ",", "]")}}"""
  }.mkString("[", ",", "]")

  def contactsJson(day: Int): String = contactIds(day).map { c =>
    val start = (Begin.toEpochDay + day) * 86400000L + H.u(seed, 86000, c, 9) * 1000L
    val agent = 7000 + H.u(seed, 50, c, 10)
    val call = if (H.u(seed, 10, c, 11) == 0) "null" else f"\"CJP-$c%08d\""
    s"""{"agent":{"$$ref":"$Api/person/$agent","displayId":"agent$agent"},"assocCallId":$call,"id":$c,"startTime":$start}"""
  }.mkString("[", ",", "]")

  def evalJson(contact: Long, eval: Long, v: Char): String = {
    val form = formOf(eval)
    val secs = sections(form).map { s =>
      val qs = questions(s).map { q =>
        s"""{"id":$q,"selectedOption":${q * 10 + H.u(seed, 2, eval, q, vsalt(v))}}"""
      }
      s"""{"id":$s,"questions":${qs.mkString("[", ",", "]")}}"""
    }
    val additive = H.u(seed, 100, eval, 5, vsalt(v))
    val state = if (scored(eval)) "SCORED" else "IN_PROGRESS"
    val evaluated = (Begin.toEpochDay + 8) * 86400000L + H.u(seed, 86000, eval, 12) * 1000L
    s"""{"additiveScore":$additive,"agent":{"id":${7000 + H.u(seed, 50, contact, 10)}},""" +
      s""""comments":"/api/rest/recording/contact/$contact/eval/$eval/comment",""" +
      s""""evalForm":{"evalFormId":$form},"evaluated":$evaluated,""" +
      s""""evaluator":{"id":${8000 + H.u(seed, 20, eval, 13)}},"id":$eval,""" +
      s""""isScoreCounted":${H.u(seed, 4, eval, 14) != 0},""" +
      s""""qualityRef":"$Api/recording/contact/$contact",""" +
      s""""responseState":{"text":"${if (H.u(seed, 2, eval, 15) == 0) "AGREED" else "NONE"}"},""" +
      s""""sections":${secs.mkString("[", ",", "]")},"state":{"text":"$state"},""" +
      s""""totalScore":${additive * 0.75}}"""
  }

  def evalsJson(contact: Long, v: Char): Option[String] = {
    val es = evalIds(contact).filter(present(_, v))
    if (es.isEmpty) None else Some(es.map(evalJson(contact, _, v)).mkString("[", ",", "]"))
  }

  def commentsJson(contact: Long, eval: Long, v: Char): String = {
    val form = formOf(eval)
    val sec = sections(form).head
    commentIds(eval).zipWithIndex.map { case (cid, k) =>
      val created = (Begin.toEpochDay + 9) * 86400000L + H.u(seed, 86000, cid, 16) * 1000L
      val who = 8200 + H.u(seed, 30, cid, 17)
      val hist =
        if (H.u(seed, 2, cid, 18) == 0) "[]"
        else s"""[{"commentor":{"$$ref":"$Api/person/${8100 + H.u(seed, 30, cid, 19)}"},"created":${created + 60000}}]"""
      val text = s"Comment $k on eval $eval ${if (v == 'A') "needs follow-up" else "restated after review"}"
      s"""{"$$ref":"$Api/recording/contact/$contact/eval/$eval/comment/$cid",""" +
        s""""commentor":{"$$ref":"$Api/person/$who"},"created":$created,"history":$hist,""" +
        s""""questionFK":${questions(sec).head},"sectionFK":$sec,"text":"$text"}"""
    }.mkString("[", ",", "]")
  }

  def transcriptJson(contact: Long, v: Char): String =
    (0 until utterances(contact)).map { q =>
      val text = if (v == 'A') s"utterance $q of call $contact" else s"restated utterance $q of call $contact"
      s"""{"ccrid":$contact,"seq":$q,"text":"$text"}"""
    }.mkString("[", ",", "]")

  /** Row counts each target must hold after a run of variant `v`. */
  def expectedRows(v: Char): Map[String, Long] = {
    val evals = allContacts.flatMap(c => evalIds(c).filter(present(_, v)))
    val scoredEvals = evals.filter(scored)
    Map(
      "t_qa_forms" -> formIds.map(f => sections(f).map(s => questions(s).size * 2).sum).sum.toLong,
      "t_qa_contacts" -> allContacts.size.toLong,
      "t_qa_evaluations" -> scoredEvals.size.toLong,
      "t_qa_evaluation_scores" -> scoredEvals.map(e => sections(formOf(e)).map(questions(_).size).sum).sum.toLong,
      "t_qa_evaluation_comments" -> evals.map(commentIds(_).size).sum.toLong,
      "t_qa_transcripts" -> allContacts.map(utterances).sum.toLong,
      "t_contacts_staging_backup" -> allContacts.size.toLong)
  }

  /** Every payload the fetchers can serve for variant `v`, in a fixed
    * order: the generator's byte-level output. */
  def allPayloads(v: Char): Iterator[String] =
    Iterator(formsJson) ++ (0 until days).iterator.map(contactsJson) ++
      allContacts.iterator.flatMap { c =>
        evalsJson(c, v).iterator ++ Iterator(transcriptJson(c, v)) ++
          evalIds(c).filter(present(_, v)).iterator.map(e => commentsJson(c, e, v))
      }
}

object Calabrio {
  val Begin: LocalDate = LocalDate.parse("2024-04-01")
  val Api = "https://calabriocloud.example/api/rest"
  /** Fixed service time of one API request: 2 ms. This is a chosen
    * value, not a measured Calabrio latency; it is low for a REST call
    * to a hosted service, yet the three fan-out stages spend over a
    * quarter of a cycle waiting on requests, and a run stays inside its
    * time budget. */
  val ServiceNanos = 2000000L

  final case class Forms(g: Calabrio) extends Ingest.BatchFetcher {
    def fetch(): Iterator[String] = { FetchStats.serve(ServiceNanos); Iterator(g.formsJson) }
  }
  final case class Contacts(g: Calabrio) extends Ingest.WindowFetcher {
    def fetch(w: Ingest.DateWindow): Iterator[String] = {
      FetchStats.serve(ServiceNanos)
      val day = (LocalDate.parse(w.start).toEpochDay - Begin.toEpochDay).toInt
      if (day < 0 || day >= g.days) Iterator.empty else Iterator(g.contactsJson(day))
    }
  }
  final case class Evals(g: Calabrio, v: Char) extends Ingest.KeyFetcher {
    def fetch(key: Long): Iterator[String] = { FetchStats.serve(ServiceNanos); g.evalsJson(key, v).iterator }
  }
  final case class Transcripts(g: Calabrio, v: Char) extends Ingest.KeyFetcher {
    def fetch(key: Long): Iterator[String] = { FetchStats.serve(ServiceNanos); Iterator(g.transcriptJson(key, v)) }
  }
  final case class Comments(g: Calabrio, v: Char) extends Extraction.LinkFetcher {
    def fetch(url: String): Iterator[String] = {
      FetchStats.serve(ServiceNanos)
      val runs = "\\d+".r.findAllIn(url).map(_.toLong).toSeq
      if (runs.size < 2 || !g.present(runs(1), v)) Iterator.empty
      else Iterator(g.commentsJson(runs(0), runs(1), v))
    }
  }
}

/** TPC-H-shaped tables (10k orders, 40k lineitem rows, 4 lines per
  * order) and the ~0.5% deltas the snapshot workload applies.
  * Base values are Spark expressions of (seed, key, salt); delta key
  * sets are chosen on the driver, so every count is known in advance. */
final case class Tpch(seed: Long) {
  val orders = 10000L
  val linesPerOrder = 4
  val Keys = Seq("l_orderkey", "l_linenumber")
  def baseRows: Long = orders * linesPerOrder
  /** Orders in one ~0.5% delta. */
  val delta: Int = (orders / 200).toInt

  private def r(salt: Int, k: Int): Column =
    xxhash64(lit(seed), lit(salt), col("l_orderkey"), col("l_linenumber"), lit(k))

  /** Lineitem rows for a frame of (l_orderkey, l_linenumber) keys;
    * `salt` tells a delta's values apart from the base's. */
  def lineitemFor(keys: DataFrame, salt: Int): DataFrame = keys.select(
    col("l_orderkey").cast("long").as("l_orderkey"),
    (pmod(r(salt, 1), lit(20000L)) + 1).as("l_partkey"),
    (pmod(r(salt, 2), lit(1000L)) + 1).as("l_suppkey"),
    col("l_linenumber").cast("int").as("l_linenumber"),
    (pmod(r(salt, 3), lit(50L)) + 1).cast("double").as("l_quantity"),
    ((pmod(r(salt, 4), lit(10000000L)) + 90000) / 100.0).as("l_extendedprice"),
    (pmod(r(salt, 5), lit(11L)) / 100.0).as("l_discount"),
    (pmod(r(salt, 6), lit(9L)) / 100.0).as("l_tax"),
    element_at(array(lit("A"), lit("N"), lit("R")), (pmod(r(salt, 7), lit(3L)) + 1).cast("int")).as("l_returnflag"),
    when(pmod(r(salt, 8), lit(2L)) === 0, lit("O")).otherwise(lit("F")).as("l_linestatus"),
    timestamp_seconds(lit(694310400L) + pmod(r(salt, 9), lit(2500L)) * 86400L).as("l_shipdate"))

  def keysOf(spark: SparkSession, orderKeys: Seq[Long]): DataFrame = {
    import spark.implicits._
    orderKeys.toDF("l_orderkey")
      .crossJoin((1 to linesPerOrder).toDF("l_linenumber"))
  }

  /** 4 partitions of contiguous ids: written as-is, the files are
    * clustered by l_orderkey. */
  def base(spark: SparkSession): DataFrame =
    lineitemFor(spark.range(0L, baseRows, 1L, 4).select(
      (col("id") / linesPerOrder).cast("long").plus(1).as("l_orderkey"),
      (col("id") % linesPerOrder).plus(1).as("l_linenumber")), salt = 0)

  /** Scattered existing orders of residue classes mod 400 (each class
    * is about half a delta), outside both DV ranges. */
  def scattered(cls: Int*): Seq[Long] =
    (1L to orders).filter(o => cls.contains(H.u(seed, 400, o, 11)) && !inDv1(o) && !inDv2(o))

  /** Two disjoint clustered ranges of `delta` orders each. */
  val dv1Lo: Long = 1 + orders / 15 + H.u(seed, (orders / 3).toInt, 12)
  val dv2Lo: Long = 1 + orders / 2 + H.u(seed, (orders / 3).toInt, 13)
  def inDv1(o: Long): Boolean = o >= dv1Lo && o < dv1Lo + delta
  def inDv2(o: Long): Boolean = o >= dv2Lo && o < dv2Lo + delta
  def dv1Pred: Column = col("l_orderkey").between(dv1Lo, dv1Lo + delta - 1)
  def dv2Pred: Column = col("l_orderkey").between(dv2Lo, dv2Lo + delta - 1)

  /** Fresh order keys above the base, `n` orders starting at block `b`. */
  def fresh(b: Int, n: Int): Seq[Long] = (0 until n).map(i => orders + 1 + b * 1000L + i)

  def mergeKeys: Seq[Long] = scattered(0)
  def upsertKeys: Seq[Long] = scattered(1)
  def deleteKeys: Seq[Long] = scattered(2, 3)
  /** Stream batch k updates residue class 10 + k and inserts block 10 + k. */
  def streamUpdateKeys(k: Int): Seq[Long] = scattered(10 + k)
  def streamFresh(k: Int): Seq[Long] = fresh(10 + k, delta / 2)
}
