package steadybench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent content digest of a frame: row count plus two
  * sums of per-row hashes over the columns in name order. Equal
  * multisets of rows give equal digests. */
final case class Digest(rows: Long, h1: Long, h2: Long)

object Digest {
  private val P = 4294967291L // largest prime below 2^32: sums stay far from overflow

  /** The per-row hashes both digests sum, over the columns in name order. */
  private def hashed(df: DataFrame): DataFrame = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    df.select(pmod(xxhash64(cols: _*), lit(P)).as("h1"), hash(cols: _*).cast("long").as("h2"))
  }

  def of(df: DataFrame): Digest = {
    val r = hashed(df).agg(count(lit(1)), coalesce(sum("h1"), lit(0L)), coalesce(sum("h2"), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** `of` for several frames in one Spark job. */
  def ofAll(frames: Seq[(String, DataFrame)]): Map[String, Digest] = {
    val got = frames.map { case (tag, df) => hashed(df).withColumn("tag", lit(tag)) }
      .reduce(_ unionByName _).groupBy("tag")
      .agg(count(lit(1)), sum("h1"), sum("h2")).collect()
      .map(r => r.getString(0) -> Digest(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    frames.map { case (tag, _) => tag -> got.getOrElse(tag, Digest(0, 0, 0)) }.toMap
  }
}

/** The checkers every op's result goes through. Each returns None when
  * the result is right, else what is wrong. */
object Checks {
  def same[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def digest(what: String, got: Digest, want: Digest): Option[String] = same(what, got, want)

  def rows(what: String, got: Long, want: Long): Option[String] = same(s"$what rows", got, want)

  def all(checks: Option[String]*): Option[String] = checks.flatten.headOption

  /** Row counts of every target against the generator's counts. */
  def targetRows(got: Map[String, Long], want: Map[String, Long]): Option[String] =
    want.toSeq.sortBy(_._1).flatMap { case (t, n) => rows(t, got.getOrElse(t, -1L), n) }.headOption

  /** A replayed stream batch must be recognized and not commit. */
  def replayNoOp(result: Option[Long]): Option[String] =
    result.map(v => s"replayed batch committed version $v")

  /** Steady state: a cycle's live (files, rows) must equal those of
    * the first measured cycle with the same key. */
  def steady(first: (Long, Long), now: (Long, Long)): Option[String] =
    same("live (files, rows)", now, first)
}

object Files {
  def walk(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).toSeq.flatten.flatMap(walk)

  def parquet(dir: String): Seq[File] = walk(new File(dir)).filter(_.getName.endsWith(".parquet"))

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }
}
