package steadybench

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The benchmark's own test: the generator is byte-identical per seed
  * (and differs across seeds), and every checker accepts the right
  * result and rejects a deliberately corrupted one.
  * Run: python3 steadybench/run.py --selftest */
object SelfTest {
  private var failures = List.empty[String]
  private var passed = 0

  private def expect(what: String, ok: Boolean): Unit =
    if (ok) passed += 1 else failures ::= what

  private def sha(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("2")
    spark.sparkContext.setLogLevel("WARN")
    try {
      // generator: byte-identical per seed, different across seeds
      def calabrioBytes(seed: Long) =
        sha(Calabrio(seed).allPayloads('A') ++ Calabrio(seed).allPayloads('B'))
      expect("calabrio payloads repeat per seed", calabrioBytes(7) == calabrioBytes(7))
      expect("calabrio payloads differ across seeds", calabrioBytes(7) != calabrioBytes(8))
      def rowsBytes(df: DataFrame): String =
        sha(df.collect().map(_.toString).sorted.iterator)
      def tpchBytes(seed: Long): String = {
        val t = Tpch(seed)
        sha(Iterator(
          rowsBytes(t.base(spark).filter(col("l_orderkey") <= 2000)),
          rowsBytes(t.lineitemFor(t.keysOf(spark, t.mergeKeys ++ t.fresh(1, t.delta / 2)), 2)),
          t.deleteKeys.mkString(","), t.streamUpdateKeys(3).mkString(","),
          s"${t.dv1Lo},${t.dv2Lo}"))
      }
      expect("tpch rows repeat per seed", tpchBytes(7) == tpchBytes(7))
      expect("tpch rows differ across seeds", tpchBytes(7) != tpchBytes(8))
      val t = Tpch(7)
      expect("delta key sets are disjoint",
        (t.mergeKeys.toSet & t.upsertKeys.toSet).isEmpty &&
          (t.deleteKeys.toSet & (t.mergeKeys ++ t.upsertKeys).toSet).isEmpty &&
          !t.deleteKeys.exists(o => t.inDv1(o) || t.inDv2(o)))

      // digest checker: accepts equal multisets in any order, rejects a
      // changed value, a dropped row and a duplicated row
      val good = t.lineitemFor(t.keysOf(spark, t.fresh(0, 50)), 1).cache()
      val d = Digest.of(good)
      expect("digest accepts a reordered copy",
        Checks.digest("x", Digest.of(good.orderBy(col("l_tax"), col("l_orderkey"))), d).isEmpty)
      val changed = good.withColumn("l_quantity",
        when(col("l_orderkey") === t.orders + 1 && col("l_linenumber") === 1, col("l_quantity") + 1)
          .otherwise(col("l_quantity")))
      expect("digest rejects a changed value", Checks.digest("x", Digest.of(changed), d).nonEmpty)
      expect("digest rejects a dropped row", Checks.digest("x", Digest.of(good.limit(199)), d).nonEmpty)
      expect("digest rejects a duplicated row",
        Checks.digest("x", Digest.of(good.unionByName(good.limit(1))), d).nonEmpty)

      // calabrio: row counts against the generator, A digests
      val g = Calabrio(7)
      val want = g.expectedRows('A')
      expect("target rows accept the generator's counts", Checks.targetRows(want, want).isEmpty)
      expect("target rows reject one count off",
        Checks.targetRows(want.updated("t_qa_evaluations", want("t_qa_evaluations") - 1), want).nonEmpty)
      expect("target rows reject a missing target", Checks.targetRows(want - "t_qa_transcripts", want).nonEmpty)
      expect("variant B drops evaluations", g.expectedRows('B')("t_qa_evaluations") < want("t_qa_evaluations"))
      val digests = Map("t_qa_forms" -> d, "t_qa_contacts" -> Digest(1, 2, 3))
      expect("A digests reject a corrupted target",
        Checks.same("A", digests.updated("t_qa_contacts", Digest(1, 2, 4)), digests).nonEmpty)

      // snapshot commits: replay must not commit; steady state
      expect("replay check accepts None", Checks.replayNoOp(None).isEmpty)
      expect("replay check rejects a committed replay", Checks.replayNoOp(Some(9L)).nonEmpty)
      expect("row check rejects off-by-one", Checks.rows("t", 600001L, 600000L).nonEmpty)
      expect("steady state accepts equal state", Checks.steady((8L, 100L), (8L, 100L)).isEmpty)
      expect("steady state rejects a grown table", Checks.steady((8L, 100L), (9L, 100L)).nonEmpty)
      expect("history check rejects a wrong op class",
        Checks.same("h", Seq(1L -> "create", 2L -> "append"), Seq(1L -> "create", 2L -> "content-diff")).nonEmpty)
    } finally spark.stop()
    failures.reverse.foreach(f => println(s"# FAILED $f"))
    println(s"selftest: $passed passed, ${failures.size} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
