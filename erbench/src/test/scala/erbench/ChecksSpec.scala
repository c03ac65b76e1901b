package erbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  /** Full O(n*m) Levenshtein, the reference for the banded DP. */
  private def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    a.indices.foreach { i =>
      val cur = new Array[Int](b.length + 1)
      cur(0) = i + 1
      b.indices.foreach { j =>
        cur(j + 1) = math.min(math.min(cur(j), prev(j + 1)) + 1, prev(j) + (if (a(i) == b(j)) 0 else 1))
      }
      prev = cur
    }
    prev(b.length)
  }

  private def banded(a: String, b: String, band: Int) = Checks.bandedDistance(a.getBytes, b.getBytes, band)

  test("banded DP: goldens") {
    assert(banded("", "", 64) == 0)
    assert(banded("ACGT", "ACGT", 64) == 0)
    assert(banded("", "ACG", 64) == 3)
    assert(banded("ACG", "", 64) == 3)
    assert(banded("kitten", "sitting", 64) == 3)
    assert(banded("A" * 100, "C" * 100, 64) == 64)
    assert(banded("A" * 70, "", 64) == 64)
    assert(banded("A" * 63, "", 64) == 63)
    assert(banded("ACGT", "TGCA", 2) == 2)
  }

  test("banded DP equals min(full DP, band) on random mutated pairs") {
    val rng = new Rng(99)
    (0 until 400).foreach { _ =>
      val len = rng.between(0, 120)
      val a = (0 until len).map(_ => "ACGT"(rng.nextInt(4))).mkString
      val b = Gen.mutate(a, rng.nextInt(40), rng).map(c => if ("ACGT".contains(c)) c else "ACGT"(c % 4))
      val band = rng.between(1, 40)
      assert(banded(a, b, band) == math.min(levenshtein(a, b), band), s"$a / $b band $band")
    }
  }

  test("CIGAR replay: edit count on valid CIGARs, -1 on invalid ones") {
    def edits(p: String, t: String, c: String) = Checks.cigarEdits(p.getBytes, t.getBytes, c)
    assert(edits("ACGT", "ACGT", "4M") == 0)
    assert(edits("ACGT", "AGGT", "1M1X2M") == 1)
    assert(edits("ACGT", "ACGGT", "3M1I1M") == 1)
    assert(edits("ACGT", "AGT", "1M1D2M") == 1)
    assert(edits("", "AC", "2I") == 2)
    assert(edits("AC", "", "2D") == 2)
    assert(edits("ACGT", "AGGT", "4M") == -1, "M over a mismatch")
    assert(edits("ACGT", "ACGT", "1X3M") == -1, "X over a match")
    assert(edits("ACGT", "ACGT", "3M") == -1, "does not consume both")
    assert(edits("ACGT", "ACGT", "5M") == -1, "runs past the end")
    assert(edits("ACGT", "ACGT", "4Q") == -1)
    assert(edits("ACGT", "ACGT", "M") == -1)
    assert(edits("ACGT", "ACGT", "0M4M") == -1)
    assert(edits("ACGT", "ACGT", null) == -1)
  }

  test("pairwise F1 from contingency counts") {
    val label = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L)
    assert(Checks.pairwiseF1(label, label) == 1.0)
    // one of three true pairs found, no false pair: P = 1, R = 1/3
    val pred = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L)
    assert(math.abs(Checks.pairwiseF1(pred, label) - 0.5) < 1e-12)
    assert(Checks.pairwiseF1(Map(1L -> 1L, 2L -> 2L), Map(1L -> 1L, 2L -> 2L)) == 1.0)
  }

  test("attach F1: right entity, wrong entity, missed and spurious attachments") {
    val groupsOf = Map(10L -> Set(1L), 20L -> Set(2L))
    assert(Checks.attachF1(Seq(Some(10L), None), Seq(1L, -1L), groupsOf) == 1.0)
    // wrong entity counts as a false positive and a false negative
    assert(math.abs(Checks.attachF1(Seq(Some(20L), Some(10L)), Seq(1L, 1L), groupsOf) - 2.0 / 4) < 1e-12)
    assert(Checks.attachF1(Seq(None), Seq(1L), groupsOf) == 0.0)
    assert(Checks.attachF1(Seq(Some(10L)), Seq(-1L), groupsOf) == 0.0)
  }

  test("align check passes the kernel's output and catches tampered distances, CIGARs and verdicts") {
    val pairs = Gen.alignPairs(4, 600).map { case (p, t) => (p.getBytes, t.getBytes) }
    val ws = new graft.core.WfaWorkspace(AlignCigar.Band, withCigar = true)
    val rs = pairs.map { case (p, t) => graft.core.Wfa.align(p, t, ws) }
    def out = new AlignCigar.Out(rs.map(_.distance), rs.map(_.saturated), rs.map(_.cigar))
    assert(rs.exists(_.saturated) && rs.exists(r => !r.saturated && r.distance > 0))
    assert(AlignCigar.check(pairs, out, 2) == ((0, 1.0)))
    val i = rs.indexWhere(r => !r.saturated && r.distance > 1)
    val j = rs.indexWhere(_.saturated)
    val tampered = Seq[AlignCigar.Out => Unit](
      o => o.distance(i) -= 1,                                 // cheaper than possible
      o => { // a match run's first byte as delete + insert: replays, but is not minimal
        o.distance(i) += 2
        val c = o.cigar(i)
        val m = "(\\d+)M".r.findFirstMatchIn(c).get
        val rest = m.group(1).toInt - 1
        o.cigar(i) = c.substring(0, m.start) + "1D1I" + (if (rest > 0) s"${rest}M" else "") + c.substring(m.end)
      },
      o => o.cigar(i) = o.cigar(i).replace('M', 'X'),          // does not replay
      o => { o.saturated(j) = false; o.distance(j) = 10 },     // unsaturates a far pair
      o => o.saturated(i) = true)                              // saturates a near pair
    tampered.foreach { f =>
      val o = out
      f(o)
      val (bad, f1) = AlignCigar.check(pairs, o, 2)
      assert(bad == 1 && f1 < 1.0)
    }
  }

  test("sha256 hex matches a known digest") {
    assert(Checks.sha256Hex("abc") == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }
}
