package graft.ops

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** Latest-wins CDC merge: exact parity with a driver-side reference on
  * randomized change logs, the tie rule (changes outrank the snapshot at
  * equal seq), delete/resurrect ordering, and partitioning-invariance. */
class CdcSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def refMerge(snap: Seq[(Long, Long, String, Long)],
                       chg: Seq[(Long, Long, String, Long, String)])
      : Seq[(Long, Long, String, Long)] = {
    val all = snap.map { case (k, seq, a, b) => (k, seq, 0, "U", a, b) } ++
      chg.map { case (k, seq, a, b, op) => (k, seq, 1, op, a, b) }
    all.groupBy(_._1).toSeq.flatMap { case (k, rows) =>
      val w = rows.maxBy { case (_, seq, src, op, a, b) => (seq, src, op, a, b) }
      if (w._4 == "D") None else Some((k, w._2, w._5, w._6))
    }.sortBy(_._1)
  }

  private def runMerge(snap: Seq[(Long, Long, String, Long)],
                       chg: Seq[(Long, Long, String, Long, String)],
                       parts: Int = 4): Seq[(Long, Long, String, Long)] =
    Cdc.mergeLatest(
        snap.toDF("k", "seq", "pa", "pb").repartition(parts),
        chg.toDF("k", "seq", "pa", "pb", "op").repartition(parts),
        "k", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("randomized change logs match the driver-side reference (multi-seed)") {
    for (seed <- Seq(1, 7, 23)) {
      val rnd = new scala.util.Random(seed)
      val snap = (0L until 40L).map(k => (k, 1L, s"s$k", k * 10))
      val chg = (0 until 120).map { i =>
        val k = rnd.nextInt(50).toLong // some keys absent from snapshot
        val seq = (rnd.nextInt(4) + 1).toLong // seq 1 ties with snapshot
        val op = if (rnd.nextInt(4) == 0) "D" else "U"
        (k, seq, s"c$i", i.toLong, op)
      }
      assert(runMerge(snap, chg) == refMerge(snap, chg), s"seed=$seed")
    }
  }

  test("equal seq: the change row outranks the snapshot row") {
    val snap = Seq((1L, 5L, "old", 0L))
    val chg = Seq((1L, 5L, "new", 1L, "U"))
    assert(runMerge(snap, chg) == Seq((1L, 5L, "new", 1L)))
  }

  test("delete wins at the highest seq; a later upsert resurrects") {
    val snap = Seq((1L, 1L, "a", 0L), (2L, 1L, "b", 0L))
    val chg = Seq(
      (1L, 2L, "x", 1L, "U"), (1L, 3L, "", 2L, "D"), // update then delete
      (2L, 2L, "", 3L, "D"), (2L, 3L, "back", 4L, "U")) // delete then upsert
    assert(runMerge(snap, chg) == Seq((2L, 3L, "back", 4L)))
  }

  test("insert-only keys appear; untouched keys pass through; invariant to partitioning") {
    val snap = Seq((1L, 1L, "keep", 9L))
    val chg = Seq((99L, 1L, "ins", 7L, "U"))
    val exp = Seq((1L, 1L, "keep", 9L), (99L, 1L, "ins", 7L))
    assert(runMerge(snap, chg, parts = 1) == exp)
    assert(runMerge(snap, chg, parts = 7) == exp)
  }

  test("changes without the op column fail fast") {
    val snap = Seq((1L, 1L, "a", 0L)).toDF("k", "seq", "pa", "pb")
    val bad = Seq((1L, 2L, "b", 1L)).toDF("k", "seq", "pa", "pb")
    val e = intercept[IllegalArgumentException](Cdc.mergeLatest(snap, bad, "k", "seq"))
    assert(e.getMessage.contains("op"))
  }
}
