package graft.core

/** Textbook O(n*m) two-row DP unit-cost Levenshtein. Test oracle for the
  * WFA scorer (cross-check per SURVEY.md §5.2), mirroring the role of the
  * reference's DEBUG_MODE CPU check (/root/reference/src/wavefront.cu:302-320).
  */
object Levenshtein {
  def distance(a: Array[Byte], b: Array[Byte]): Int = {
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    var prev = new Array[Int](m + 1)
    var curr = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      curr(0) = i
      val ai = a(i - 1)
      j = 1
      while (j <= m) {
        val cost = if (ai == b(j - 1)) 0 else 1
        var best = prev(j - 1) + cost
        val del = prev(j) + 1
        if (del < best) best = del
        val ins = curr(j - 1) + 1
        if (ins < best) best = ins
        curr(j) = best
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(m)
  }

  def distance(a: String, b: String): Int =
    distance(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  /** Myers/Hyyrö bit-parallel unit-cost Levenshtein — O(ceil(m/64) * n)
    * word operations instead of the O(n*m) DP or the O(d^2) wavefront.
    *
    * This is the UNBANDED exact distance: it computes the same value as
    * [[distance]] (property-pinned) and as `Wfa.align` with a band larger
    * than every possible distance (the er04 contract configuration, where
    * the band never binds and WFA degenerates to exact Levenshtein at
    * O(d^2) per pair — d is several hundred for the typical non-duplicate
    * candidate pair, which made the wavefront the wrong algorithm for
    * that query; the banded WFA in `Er.score` keeps its saturation
    * semantics and stays the reference-parity kernel).
    *
    * Recurrence is the block-extended Myers'99 form used by the widely
    * deployed C implementations (rapidfuzz/polyleven): per text column,
    * each 64-row block advances with three cross-block carries (the D0
    * addition carry and the two horizontal-delta shift carries); the +1
    * top-boundary horizontal delta is injected as block 0's HP shift-in.
    * Common prefix/suffix are trimmed first (edit distance is invariant
    * under common-affix removal, and the word count here grows with the
    * core's length — unlike `Wfa.align`'s cells, which depend only on the
    * distance) and the shorter side becomes the pattern, minimizing the
    * block count. */
  def bitParallel(a: Array[Byte], b: Array[Byte], ws: LevenshteinWorkspace): Int = {
    // trim common prefix and suffix
    val mm = java.util.Arrays.mismatch(a, 0, a.length, b, 0, b.length)
    if (mm < 0) return math.abs(a.length - b.length) // one is a prefix of the other
    val pre = mm
    var suf = 0
    val maxSuf = math.min(a.length, b.length) - pre
    while (suf < maxSuf && a(a.length - 1 - suf) == b(b.length - 1 - suf)) suf += 1
    val aLen = a.length - pre - suf
    val bLen = b.length - pre - suf
    // pattern = shorter core (fewer blocks); columns iterate the longer
    val (p, pLen, t, tLen) =
      if (aLen <= bLen) (a, aLen, b, bLen) else (b, bLen, a, aLen)
    if (pLen == 0) return tLen
    val w = (pLen + 63) >>> 6
    ws.ensure(w)
    val stride = ws.capacity
    val peq = ws.peq
    // build Peq for the pattern core [pre, pre + pLen)
    var i = 0
    while (i < pLen) {
      peq(((p(pre + i) & 0xFF) * stride) + (i >>> 6)) |= 1L << (i & 63)
      i += 1
    }
    var score = pLen
    val lastBit = 1L << ((pLen - 1) & 63)
    if (w == 1) {
      // one-word fast path: state in registers (the trimmed core of a
      // near-duplicate pair lands here)
      var vp = -1L
      var vn = 0L
      var j = 0
      while (j < tLen) {
        val eq = peq((t(pre + j) & 0xFF) * stride)
        val d0 = (((eq & vp) + vp) ^ vp) | eq | vn
        val hp = vn | ~(d0 | vp)
        val hn = vp & d0
        if ((hp & lastBit) != 0L) score += 1
        else if ((hn & lastBit) != 0L) score -= 1
        val hps = (hp << 1) | 1L
        val hns = hn << 1
        vp = hns | ~(d0 | hps)
        vn = hps & d0
        j += 1
      }
    } else {
      val vp = ws.vp
      val vn = ws.vn
      var bI = 0
      while (bI < w) { vp(bI) = -1L; vn(bI) = 0L; bI += 1 }
      val last = w - 1
      var j = 0
      while (j < tLen) {
        val cBase = (t(pre + j) & 0xFF) * stride
        var addC = 0L // D0 addition carry
        var hpC = 1L  // HP shift carry; 1 at block 0 = the +1 top boundary
        var hnC = 0L  // HN shift carry
        var blk = 0
        while (blk < w) {
          val eq = peq(cBase + blk)
          val vpB = vp(blk)
          val vnB = vn(blk)
          val x = eq & vpB
          val sum = x + vpB + addC
          // unsigned carry-out of x + vpB + addC (addC is 0 or 1)
          addC = (((x & vpB) | ((x | vpB) & ~sum)) >>> 63)
          val d0 = (sum ^ vpB) | eq | vnB
          val hp = vnB | ~(d0 | vpB)
          val hn = vpB & d0
          if (blk == last) {
            if ((hp & lastBit) != 0L) score += 1
            else if ((hn & lastBit) != 0L) score -= 1
          }
          val hps = (hp << 1) | hpC
          hpC = hp >>> 63
          val hns = (hn << 1) | hnC
          hnC = hn >>> 63
          vp(blk) = hns | ~(d0 | hps)
          vn(blk) = hps & d0
          blk += 1
        }
        j += 1
      }
    }
    // clear only the Peq entries this pattern touched
    i = 0
    while (i < pLen) {
      peq(((p(pre + i) & 0xFF) * stride) + (i >>> 6)) = 0L
      i += 1
    }
    score
  }
}

/** Reusable per-task scratch for [[Levenshtein.bitParallel]] (the
  * WfaWorkspace convention — allocate one per partition, no per-pair
  * churn; not thread-safe). Holds the 256-entry-per-block Peq table and
  * the two vertical-delta vectors, grown on demand. */
final class LevenshteinWorkspace(initialPatternLen: Int = 1024) {
  private[core] var capacity: Int = math.max(1, (initialPatternLen + 63) >>> 6)
  private[core] var peq: Array[Long] = new Array[Long](256 * capacity)
  private[core] var vp: Array[Long] = new Array[Long](capacity)
  private[core] var vn: Array[Long] = new Array[Long](capacity)

  private[core] def ensure(blocks: Int): Unit = {
    if (blocks > capacity) {
      capacity = blocks
      peq = new Array[Long](256 * capacity)
      vp = new Array[Long](capacity)
      vn = new Array[Long](capacity)
    }
  }
}
