package erbench

import java.security.MessageDigest

/** Output checks written independently of the code under test. */
object Checks {

  /** Unit-cost edit distance capped at `band`: the exact distance when it is
    * below `band`, else `band`. DP restricted to the diagonals d = j - i a
    * path of cost < band can touch: it needs |d| edits to reach diagonal d
    * and |(m - n) - d| more to reach the end, so |d| + |m - n - d| < band. */
  def bandedDistance(a: Array[Byte], b: Array[Byte], band: Int): Int = {
    val n = a.length
    val m = b.length
    val delta = m - n
    if (math.abs(delta) >= band) return band
    val slack = (band - 1 - math.abs(delta)) / 2
    val dlo = math.min(0, delta) - slack
    val w = math.max(0, delta) + slack - dlo + 1 // cell c of row i is column j = i + dlo + c
    val inf = band + 1
    var prev = Array.fill(w + 1)(inf)
    var cur = Array.fill(w + 1)(inf)
    var c = -dlo
    while (c < w && c + dlo <= m) { prev(c) = c + dlo; c += 1 }
    var i = 1
    while (i <= n) {
      val lo = math.max(0, -i - dlo)       // j = max(0, i + dlo)
      val hi = math.min(w - 1, m - i - dlo) // j = min(m, i + dhi)
      var left = inf
      c = lo
      if (lo == -i - dlo) { cur(c) = i; left = i; c += 1 } // j = 0
      var rowMin = left
      val ai = a(i - 1)
      while (c <= hi) {
        // (i-1, j-1) is prev(c); (i-1, j) is prev(c+1); (i, j-1) is left
        var v = prev(c) + (if (ai == b(i + dlo + c - 1)) 0 else 1)
        val up = prev(c + 1) + 1
        if (up < v) v = up
        if (left + 1 < v) v = left + 1
        cur(c) = v
        left = v
        if (v < rowMin) rowMin = v
        c += 1
      }
      if (rowMin >= band) return band
      if (lo > 0) cur(lo - 1) = inf
      cur(hi + 1) = inf
      val t = prev; prev = cur; cur = t
      i += 1
    }
    math.min(prev(delta - dlo), band)
  }

  /** Replays a run-length CIGAR from `pattern` to `text` ('M' equal bytes,
    * 'X' differing bytes, 'I' consumes text, 'D' consumes pattern) and
    * returns its edit count, or -1 when the CIGAR is malformed, does not
    * hold on the bytes, or does not consume both sequences exactly. */
  def cigarEdits(pattern: Array[Byte], text: Array[Byte], cigar: String): Int = {
    if (cigar == null) return -1
    var v = 0
    var h = 0
    var edits = 0
    var i = 0
    while (i < cigar.length) {
      var n = 0
      val start = i
      while (i < cigar.length && cigar.charAt(i) >= '0' && cigar.charAt(i) <= '9') {
        n = n * 10 + (cigar.charAt(i) - '0'); i += 1
      }
      if (i == start || i == cigar.length || n == 0) return -1
      cigar.charAt(i) match {
        case 'M' | 'X' =>
          val eq = cigar.charAt(i) == 'M'
          if (v + n > pattern.length || h + n > text.length) return -1
          var k = 0
          while (k < n) { if ((pattern(v + k) == text(h + k)) != eq) return -1; k += 1 }
          v += n; h += n
          if (!eq) edits += n
        case 'I' => h += n; edits += n
        case 'D' => v += n; edits += n
        case _ => return -1
      }
      i += 1
    }
    if (v == pattern.length && h == text.length) edits else -1
  }

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** Pairwise precision/recall F1 of a clustering against planted labels,
    * from contingency counts (no pair enumeration). Both maps share keys. */
  def pairwiseF1(entity: collection.Map[Long, Long], label: collection.Map[Long, Long]): Double = {
    def pairs(sizes: Iterable[Int]): Double = sizes.iterator.map(n => n.toDouble * (n - 1) / 2).sum
    val tp = pairs(entity.keys.groupBy(id => (entity(id), label(id))).values.map(_.size))
    val pred = pairs(entity.values.groupBy(identity).values.map(_.size))
    val truth = pairs(label.values.groupBy(identity).values.map(_.size))
    if (pred + truth == 0) 1.0 else 2 * tp / (pred + truth)
  }

  /** F1 of ingest attachment: a doc planted as a copy of snapshot group g
    * is a positive, and is found when it is attached to a snapshot entity
    * that holds a member of g. Attaching a doc planted as new, or to an
    * entity without its group, is a false positive.
    *
    * @param attached per batch doc: Some(snapshot entity) or None (new)
    * @param planted  per batch doc: planted group or -1
    * @param groupsOf snapshot entity -> planted groups of its members */
  def attachF1(attached: Seq[Option[Long]], planted: Seq[Long],
               groupsOf: collection.Map[Long, Set[Long]]): Double = {
    var tp = 0; var fp = 0; var fn = 0
    attached.zip(planted).foreach { case (a, g) =>
      val right = a.exists(e => g >= 0 && groupsOf.getOrElse(e, Set.empty[Long]).contains(g))
      if (right) tp += 1
      else {
        if (a.isDefined) fp += 1
        if (g >= 0) fn += 1
      }
    }
    if (tp + fp + fn == 0) 1.0 else 2.0 * tp / (2 * tp + fp + fn)
  }

  /** Median of a sample (0 when empty). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
