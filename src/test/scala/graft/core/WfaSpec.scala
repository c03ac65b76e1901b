package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Golden + property tests pinning exact parity with the reference
  * semantics (FIXTURES.md F1/F4; SURVEY.md §5.2 items 1-2). Randomized
  * cases use fixed seeds — fully deterministic. */
class WfaSpec extends AnyFunSuite {

  private def run(p: String, t: String, band: Int = 64): WfaResult = {
    val ws = new WfaWorkspace(band)
    Wfa.align(p.getBytes("UTF-8"), t.getBytes("UTF-8"), ws)
  }

  private def randAcgt(rnd: Random, maxLen: Int): String = {
    val n = rnd.nextInt(maxLen + 1)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append("ACGT".charAt(rnd.nextInt(4))); i += 1 }
    sb.toString
  }

  private val CodeAlpha = "abcdefghij XYZ(){};.\n01"

  private def randCode(rnd: Random, maxLen: Int): String = {
    val n = rnd.nextInt(maxLen + 1)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(CodeAlpha.charAt(rnd.nextInt(CodeAlpha.length))); i += 1 }
    sb.toString
  }

  // --- golden cases (hand-traced against the reference algorithm) ---

  test("equal strings: d=0 fast path, all-match CIGAR") {
    val r = run("ACGT", "ACGT")
    assert(r.distance == 0 && !r.saturated && r.cigar == "4M")
  }

  test("both empty: d=0, empty CIGAR") {
    val r = run("", "")
    assert(r.distance == 0 && r.cigar == "")
  }

  test("single substitution mid-string") {
    val r = run("ACGT", "ATGT")
    assert(r.distance == 1 && r.cigar == "1M1X2M")
    assert(CigarOps.replay("ACGT", "ATGT", r.cigar))
  }

  test("single-char total mismatch: 1X (SUB wins over I+D)") {
    val r = run("A", "T")
    assert(r.distance == 1 && r.cigar == "1X")
  }

  test("empty pattern vs text: pure insertions (boundary diagonal k=+d)") {
    val r = run("", "AC")
    assert(r.distance == 2 && r.cigar == "2I")
  }

  test("empty text vs pattern: pure deletions (boundary diagonal k=-d)") {
    val r = run("ACG", "")
    assert(r.distance == 3 && r.cigar == "3D")
  }

  test("single insertion") {
    val r = run("ACGT", "ACGGT")
    assert(r.distance == 1)
    assert(CigarOps.replay("ACGT", "ACGGT", r.cigar))
    assert(CigarOps.counts(r.cigar) == CigarOps.Counts(4, 0, 1, 0))
  }

  test("single deletion") {
    val r = run("ACGGT", "ACGT")
    assert(r.distance == 1)
    assert(CigarOps.replay("ACGGT", "ACGT", r.cigar))
    assert(CigarOps.counts(r.cigar) == CigarOps.Counts(4, 0, 0, 1))
  }

  test("tie-break DEL > SUB > INS shapes the CIGAR (d invariant)") {
    // "AB" vs "BA": d=2 reachable as 2 subs or I+D; the reference's
    // piggybacked max (kernels.cu:140-152) resolves equal offsets by op
    // priority. Whatever the path, the CIGAR must replay and have 2 edits.
    val r = run("AB", "BA")
    assert(r.distance == 2)
    assert(CigarOps.replay("AB", "BA", r.cigar))
    assert(CigarOps.counts(r.cigar).edits == 2)
    // deterministic: same input -> same CIGAR
    assert(run("AB", "BA").cigar == r.cigar)
  }

  test("saturation at band: distance reported as band, null CIGAR") {
    val p = "A" * 100
    val t = "C" * 100
    val r = run(p, t, band = 8)
    assert(r.distance == 8 && r.saturated && r.cigar == null)
  }

  test("saturation edge: d = band-1 exact, d = band saturated") {
    def mutate(s: String, k: Int): String = {
      val a = s.toCharArray
      var i = 0
      while (i < k) { a(i * 7) = (if (a(i * 7) == 'A') 'C' else 'A'); i += 1 }
      new String(a)
    }
    val base = "A" * 200
    val b7 = run(base, mutate(base, 7), band = 8)
    assert(b7.distance == 7 && !b7.saturated)
    val b8 = run(base, mutate(base, 8), band = 8)
    assert(b8.distance == 8 && b8.saturated)
  }

  test("length-difference >= band short-circuits to saturated") {
    val r = run("A" * 100, "A" * 10, band = 16)
    assert(r.saturated && r.distance == 16)
    assert(r.cells == 1) // no wavefront work done
  }

  test("match run longer than 127 renders as a single run-length token") {
    val p = "A" * 300
    val t = "A" * 299 + "C"
    val r = run(p, t)
    assert(r.distance == 1 && r.cigar == "299M1X")
  }

  test("band generalizes beyond 64 (reference fixed cap, wavefront.cuh:462-465)") {
    val p = "A" * 500
    val t = "C" * 100 + "A" * 400
    val r = run(p, t, band = 128)
    assert(r.distance == 100 && !r.saturated)
    assert(CigarOps.replay(p, t, r.cigar))
  }

  // --- property-style tests with fixed seeds (F4) ---

  test("property: WFA == DP Levenshtein, CIGAR replays, edits == d (ACGT)") {
    val rnd = new Random(42)
    val ws = new WfaWorkspace(256)
    for (_ <- 1 to 400) {
      val p = randAcgt(rnd, 120)
      val t = randAcgt(rnd, 120)
      val r = Wfa.align(p.getBytes, t.getBytes, ws)
      val ref = Levenshtein.distance(p, t)
      if (ref < 256) {
        assert(r.distance == ref, s"p=$p t=$t")
        assert(!r.saturated)
        assert(CigarOps.replay(p, t, r.cigar), s"replay failed: $p / $t / ${r.cigar}")
        assert(CigarOps.counts(r.cigar).edits == r.distance)
      } else assert(r.saturated && r.distance == 256)
    }
  }

  test("property: WFA == DP Levenshtein on code-like byte strings") {
    val rnd = new Random(7)
    val ws = new WfaWorkspace(256, withCigar = false)
    for (_ <- 1 to 300) {
      val p = randCode(rnd, 150)
      val t = randCode(rnd, 150)
      val r = Wfa.align(p.getBytes("UTF-8"), t.getBytes("UTF-8"), ws)
      val ref = Levenshtein.distance(p, t)
      if (ref < 256) assert(r.distance == ref, s"p=[$p] t=[$t]")
      else assert(r.saturated)
    }
  }

  test("property: d(a,a) == 0 with all-M CIGAR") {
    val rnd = new Random(11)
    val ws = new WfaWorkspace(64)
    for (_ <- 1 to 100) {
      val a = randAcgt(rnd, 200)
      val r = Wfa.align(a.getBytes, a.getBytes, ws)
      assert(r.distance == 0)
      assert(r.cigar == (if (a.isEmpty) "" else s"${a.length}M"))
    }
  }

  test("property: d(a,b) == d(b,a)") {
    val rnd = new Random(13)
    val ws = new WfaWorkspace(256, withCigar = false)
    for (_ <- 1 to 200) {
      val a = randAcgt(rnd, 100)
      val b = randAcgt(rnd, 100)
      assert(Wfa.align(a.getBytes, b.getBytes, ws).distance ==
             Wfa.align(b.getBytes, a.getBytes, ws).distance)
    }
  }

  test("property: k seeded substitutions spaced apart give d == k") {
    val base = "ACGTTGCA" * 40
    val ws = new WfaWorkspace(64, withCigar = false)
    for (k <- 0 to 30) {
      val a = base.toCharArray
      var i = 0
      while (i < k) {
        val pos = i * 9 + 3
        a(pos) = (if (a(pos) == 'A') 'C' else 'A')
        i += 1
      }
      assert(Wfa.align(base.getBytes, new String(a).getBytes, ws).distance == k)
    }
  }

  test("property: mutated strings with k random edits have d <= k") {
    val rnd = new Random(99)
    val ws = new WfaWorkspace(128, withCigar = false)
    for (_ <- 1 to 100) {
      val base = randAcgt(rnd, 300)
      val k = rnd.nextInt(20)
      val sb = new StringBuilder(base)
      for (_ <- 0 until k if sb.nonEmpty) {
        rnd.nextInt(3) match {
          case 0 => sb.setCharAt(rnd.nextInt(sb.length), "ACGT".charAt(rnd.nextInt(4)))
          case 1 => sb.insert(rnd.nextInt(sb.length + 1), "ACGT".charAt(rnd.nextInt(4)))
          case 2 => sb.deleteCharAt(rnd.nextInt(sb.length))
        }
      }
      val d = Wfa.align(base.getBytes, sb.toString.getBytes, ws).distance
      assert(d <= k, s"d=$d k=$k")
    }
  }

  test("property: distance and CIGAR workspaces agree; cells = (d+1)^2, band^2 or 1") {
    val band = 64
    val rnd = new Random(23)
    val wsDist = new WfaWorkspace(band, withCigar = false)
    val wsCig = new WfaWorkspace(band)
    for (_ <- 1 to 500) {
      // bias toward shared affixes: mutate a base in the middle
      val base = randAcgt(rnd, 200)
      val other =
        if (rnd.nextBoolean()) {
          val sb = new StringBuilder(base)
          for (_ <- 0 until rnd.nextInt(8) if sb.nonEmpty)
            sb.setCharAt(rnd.nextInt(sb.length), "ACGT"(rnd.nextInt(4)))
          sb.toString
        } else randAcgt(rnd, 200)
      val p = base.getBytes
      val t = other.getBytes
      val dist = Wfa.align(p, t, wsDist)
      val cig = Wfa.align(p, t, wsCig)
      assert(dist.cigar == null)
      assert((dist.distance, dist.saturated, dist.cells) == (cig.distance, cig.saturated, cig.cells),
        s"$base / $other")
      val d = cig.distance.toLong
      val expectedCells =
        if (!cig.saturated) (d + 1) * (d + 1)
        else if (math.abs(p.length - t.length) >= band) 1L
        else band.toLong * band
      assert(cig.cells == expectedCells, s"$base / $other")
      if (!cig.saturated) {
        assert(CigarOps.replay(p, t, cig.cigar))
        assert(CigarOps.counts(cig.cigar).edits == cig.distance)
      }
    }
  }

  test("workspace reuse across pairs gives identical results to fresh workspaces") {
    val shared = new WfaWorkspace(64)
    val pairs = Seq("ACGT" -> "ACGT", "AAAA" -> "CCCC", "" -> "ACG", "ACGTACGT" -> "ACTTACGA")
    pairs.foreach { case (p, t) =>
      val fresh = new WfaWorkspace(64)
      assert(Wfa.align(p.getBytes, t.getBytes, shared) ==
             Wfa.align(p.getBytes, t.getBytes, fresh))
    }
  }

  // --- golden digest (pins the CIGAR bytes, not only their validity) ---

  /** `base` with `k` random substitutions, insertions and deletions drawn
    * from `alpha`. */
  private def mutate(rnd: Random, base: String, k: Int, alpha: String): String = {
    val sb = new StringBuilder(base)
    for (_ <- 0 until k) {
      val c = alpha.charAt(rnd.nextInt(alpha.length))
      rnd.nextInt(3) match {
        case 0 if sb.nonEmpty => sb.setCharAt(rnd.nextInt(sb.length), c)
        case 2 if sb.nonEmpty => sb.deleteCharAt(rnd.nextInt(sb.length))
        case _ => sb.insert(rnd.nextInt(sb.length + 1), c)
      }
    }
    sb.toString
  }

  test("golden: digest of (distance, saturated, cells, cigar) over 5,000 ACGT and 1,000 code-like pairs") {
    val rnd = new Random(20261020)
    val pairs =
      Seq.fill(5000) {
        val p = randAcgt(rnd, 300)
        (p, if (rnd.nextInt(8) == 0) randAcgt(rnd, 300) else mutate(rnd, p, rnd.nextInt(80), "ACGT"))
      } ++ Seq.fill(1000) {
        val p = randCode(rnd, 400)
        (p, if (rnd.nextInt(8) == 0) randCode(rnd, 400) else mutate(rnd, p, rnd.nextInt(80), CodeAlpha))
      }
    val wsCig = new WfaWorkspace(64)
    val wsDist = new WfaWorkspace(64, withCigar = false)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    pairs.foreach { case (p, t) =>
      val (pb, tb) = (p.getBytes("UTF-8"), t.getBytes("UTF-8"))
      val c = Wfa.align(pb, tb, wsCig)
      val d = Wfa.align(pb, tb, wsDist)
      md.update(s"${c.distance},${c.saturated},${c.cells},${c.cigar};${d.distance},${d.saturated},${d.cells},${d.cigar}\n"
        .getBytes("UTF-8"))
    }
    val digest = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(digest == "e76d6851f71f74b4e62b1e98649d7f6e6a9c9b887bd437ecad2fa6baf27b3e54", s"digest $digest")
  }

  // --- the 8-byte extend at its edges ---

  test("extend: shared byte runs ending at every offset mod 8 and at the last byte, any byte value") {
    val rnd = new Random(31)
    val edgeBytes = Array[Byte](0x00, 0xFF.toByte, 0x80.toByte, 0x7F, 'A', 0xC3.toByte)
    def bytes(n: Int): Array[Byte] = Array.fill(n) {
      if (rnd.nextBoolean()) edgeBytes(rnd.nextInt(edgeBytes.length)) else rnd.nextInt(256).toByte
    }
    val ws = new WfaWorkspace(64)
    def check(p: Array[Byte], t: Array[Byte]): Unit = {
      val r = Wfa.align(p, t, ws)
      val shown = s"${p.mkString(",")} / ${t.mkString(",")}"
      assert(r.distance == Levenshtein.distance(p, t), shown)
      assert(CigarOps.replay(p, t, r.cigar), s"$shown / ${r.cigar}")
      assert(CigarOps.counts(r.cigar).edits == r.distance, shown)
    }
    for (len <- 0 to 40; end <- 0 to len) {
      // p and every t below share the run [0, end)
      val p = bytes(len)
      val sub = p.clone()
      if (end < len) sub(end) = (sub(end) ^ (1 << rnd.nextInt(8))).toByte
      check(p, sub)
      check(p, p.take(end) ++ bytes(1) ++ p.drop(end))
      check(p, p.take(end) ++ p.drop(end + 1))
      check(p, p.take(end))
      check(p.take(end), p)
    }
  }

  test("workspace reuse from a long pair to a short one: no leftover byte extends a run") {
    val rnd = new Random(37)
    val shared = new WfaWorkspace(64)
    for (_ <- 1 to 200) {
      val long = Array.fill(100 + rnd.nextInt(200))(rnd.nextInt(256).toByte)
      Wfa.align(long, long.clone(), shared)
      // both sides are prefixes of the long pair, so any byte read past
      // their ends would match and lengthen a run
      val (n, m) = (rnd.nextInt(17), rnd.nextInt(17))
      val (p, t) = (long.take(n), long.take(m))
      val r = Wfa.align(p, t, shared)
      assert(r == Wfa.align(p, t, new WfaWorkspace(64)), s"n=$n m=$m")
      assert(r.distance == math.abs(n - m))
    }
  }

  test("a CIGAR band whose backtrace table an Int cannot index is rejected, naming the band") {
    for (band <- Seq(46341, 3000000)) {
      val e = intercept[IllegalArgumentException](new WfaWorkspace(band))
      assert(e.getMessage.contains(band.toString), e.getMessage)
    }
    // distance mode keeps no table, so its band is not bound by one
    assert(new WfaWorkspace(46341, withCigar = false).band == 46341)
  }
}
