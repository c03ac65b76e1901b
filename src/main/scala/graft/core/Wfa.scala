package graft.core

import java.util.Arrays

/** Result of one pairwise alignment.
  *
  * @param distance  exact unit-cost edit distance, or `band` when saturated
  *                  (reference: distance==max_distance means ">= band",
  *                  /root/reference/src/kernels.cu:288-303)
  * @param saturated true when the band was exhausted before reaching the
  *                  target diagonal/offset
  * @param cigar     run-length CIGAR ("12M1X3M1D..."), null when saturated
  * @param cells     wavefront cells expanded (lineage metric)
  */
final case class WfaResult(distance: Int, saturated: Boolean, cigar: String, cells: Long)

/** Reusable per-task scratch space: two wavefront offset rows (with -1 init
  * and one padding cell per side so boundary diagonals need no branches,
  * mirroring /root/reference/src/kernels.cu:205-219) and two backtrace
  * buffers (2 bits/op, flattened `[diagonal][word]`, mirroring the 128-bit
  * packed backtraces of /root/reference/src/wavefront_structures.h:52-60,
  * generalized to any band).
  *
  * Allocate ONE per partition/thread and reuse across pairs — the north-star
  * "no per-pair object churn". Not thread-safe.
  */
final class WfaWorkspace(val band: Int, val withCigar: Boolean = true) {
  require(band >= 1, s"band must be >= 1, got $band")
  // offsets index of diagonal k is `center + k`; k ranges over [-band, band]
  // plus one -1 padding cell on each side.
  val center: Int = band + 1
  private[core] val size: Int = 2 * band + 3
  private[core] var curr: Array[Int] = new Array[Int](size)
  private[core] var next: Array[Int] = new Array[Int](size)
  // ops are appended at position d-1 for d in 1..band-1 -> max bit index
  // 2*(band-2)+1 -> words per diagonal:
  private[core] val btWords: Int = math.max(1, (band - 1 + 31) / 32)
  private[core] var btCurr: Array[Long] = if (withCigar) new Array[Long](size * btWords) else null
  private[core] var btNext: Array[Long] = if (withCigar) new Array[Long](size * btWords) else null

  private[core] def reset(): Unit = {
    Arrays.fill(curr, -1)
    Arrays.fill(next, -1)
    if (withCigar) {
      Arrays.fill(btCurr, 0L)
      Arrays.fill(btNext, 0L)
    }
  }
}

/** Banded wavefront alignment (WFA) for unit-cost edit distance + CIGAR.
  *
  * Spark-first re-expression of the reference CUDA kernel
  * `WF_edit_distance` (/root/reference/src/kernels.cu:182-310). One thread
  * processes one pair sequentially (the reference used a 64-thread block per
  * pair; on the JVM the parallelism unit is the Spark task, and the greedy
  * extend is vectorized by `java.util.Arrays.mismatch`).
  *
  * Exact-parity semantics preserved from the reference:
  *  - diagonal k = h - v, offset = h (text horizontal, pattern vertical;
  *    macros /root/reference/src/kernels.cuh:27-30)
  *  - target: k = tlen - plen reaching offset tlen (kernels.cu:243-245)
  *  - d=0 fast path: single extend from (0,0) (kernels.cu:249-258)
  *  - compute: del = prev[k+1], sub = prev[k]+1, ins = prev[k-1]+1, with the
  *    op piggybacked in the low 2 bits and an integer max, so ties resolve
  *    DEL(3) > SUB(2) > INS(1) — this *defines* CIGAR tie-breaking
  *    (kernels.cu:131-152)
  *  - -1 initialized rows with padding so boundary diagonals need no
  *    branches (kernels.cu:205-219)
  *  - saturation: d never reaches `band`; reported distance == band
  *    (kernels.cu:259,288-303 with max_distance=64)
  *  - backtrace replay re-runs extends to recover match runs
  *    (generate_cigars, kernels.cu:398-498), rendered run-length with the
  *    *intended* semantics of `generate_ascii_cigar`
  *    (/root/reference/src/wavefront.cuh:146-184; see SURVEY.md S10 bug note)
  */
object Wfa {

  val OpDel = 3 // k + 1
  val OpSub = 2 // k
  val OpIns = 1 // k - 1

  /** Greedy extend: longest common run from (v,h) = (off-k, off) down the
    * diagonal. Reference compares 16 packed bases per u32 via XOR+__clz
    * (kernels.cu:27-109); the JVM analogue is Arrays.mismatch (vectorized
    * intrinsic). Out-of-range starts return the offset unchanged, matching
    * the reference's `while (v < plen && h < tlen)` guard.
    */
  @inline private def extend(p: Array[Byte], plen: Int, t: Array[Byte], tlen: Int,
                             k: Int, off: Int): Int = {
    val v = off - k
    val h = off
    if (v < 0 || h < 0 || v >= plen || h >= tlen) return off
    val m = Arrays.mismatch(p, v, plen, t, h, tlen)
    if (m < 0) off + math.min(plen - v, tlen - h) else off + m
  }

  /** Align `pattern` against `text` within `ws.band`: the raw banded
    * wavefront, the direct re-expression of the reference kernel, in both
    * distance and CIGAR mode. Byte-exact on any byte alphabet (the
    * reference projects onto 2-bit ACGT; we keep full bytes — a superset
    * that agrees on ACGT inputs).
    *
    * The kernel never strips common affixes. Edit distance and the cell
    * count (`(d+1)²`, or `band²` when saturated) do not depend on them, but
    * the reference's piggybacked tie-break (DEL>SUB>INS) can choose a
    * different equal-cost path when the affix context is removed (found by
    * property test — e.g. ACTATACCGCACAG vs ACTATCCGGCACAG yields 1D...1I
    * raw but 1X...1X trimmed), and exact CIGAR parity with the reference
    * outranks speed. The greedy extend already crosses a shared prefix in
    * one vectorized `Arrays.mismatch`.
    */
  def align(pattern: Array[Byte], text: Array[Byte], ws: WfaWorkspace): WfaResult = {
    val plen = pattern.length
    val tlen = text.length
    val band = ws.band
    val c = ws.center
    ws.reset()
    val targetK = tlen - plen
    val targetKAbs = math.abs(targetK)
    val targetOff = tlen
    var cells = 1L

    ws.curr(c) = extend(pattern, plen, text, tlen, 0, 0)
    if (targetKAbs == 0 && ws.curr(c) == targetOff) {
      val cig = if (ws.withCigar) renderCigar(pattern, plen, text, tlen, 0, ws.btCurr, 0) else null
      return WfaResult(0, saturated = false, cig, cells)
    }
    if (targetKAbs >= band) {
      // |tlen - plen| >= band => distance >= band: saturated without work.
      // (generalization of the reference's implicit bound; a pure pre-filter)
      return WfaResult(band, saturated = true, null, cells)
    }

    var curr = ws.curr
    var next = ws.next
    var btCurr = ws.btCurr
    var btNext = ws.btNext
    val w = ws.btWords
    val withCigar = ws.withCigar

    var d = 1
    while (d < band) {
      var k = -d
      while (k <= d) {
        val del = curr(c + k + 1)
        val sub = curr(c + k) + 1
        val ins = curr(c + k - 1) + 1
        // op piggyback in low 2 bits; integer max => DEL > SUB > INS on ties
        val delP = (del << 2) | OpDel
        val subP = (sub << 2) | OpSub
        val insP = (ins << 2) | OpIns
        val maxP = math.max(math.max(delP, subP), insP)
        val off = maxP >> 2
        if (withCigar) {
          val op = maxP & 3
          // prev backtrace lives at diagonal k + (op - 2): DEL->k+1, SUB->k, INS->k-1
          val src = (c + k + (op - 2)) * w
          val dst = (c + k) * w
          val bitPos = (d - 1) << 1
          val word = bitPos >> 6
          var i = 0
          while (i < w) { btNext(dst + i) = btCurr(src + i); i += 1 }
          btNext(dst + word) |= op.toLong << (bitPos & 63)
        }
        next(c + k) = extend(pattern, plen, text, tlen, k, off)
        k += 1
      }
      cells += 2L * d + 1L

      if (targetKAbs <= d && next(c + targetK) == targetOff) {
        val cig = if (withCigar)
          renderCigar(pattern, plen, text, tlen, d, btNext, (c + targetK) * w)
        else null
        return WfaResult(d, saturated = false, cig, cells)
      }

      // swap double buffers (kernels.cu:272-283)
      val t0 = curr; curr = next; next = t0
      if (withCigar) { val t1 = btCurr; btCurr = btNext; btNext = t1 }
      d += 1
    }
    WfaResult(band, saturated = true, null, cells)
  }

  /** Replay the packed backtrace into a run-length CIGAR, re-running extends
    * on the original sequences to recover match runs — the same replay as
    * generate_cigars (/root/reference/src/kernels.cu:428-498) emitting the
    * corrected run-length rendering directly.
    */
  private def renderCigar(p: Array[Byte], plen: Int, t: Array[Byte], tlen: Int,
                          dist: Int, bt: Array[Long], btBase: Int): String = {
    val sb = new java.lang.StringBuilder(dist * 3 + 8)
    var lastOp: Char = 0
    var runLen = 0
    @inline def emit(op: Char, n: Int): Unit = {
      if (n == 0) return
      if (op == lastOp) runLen += n
      else {
        if (runLen > 0) { sb.append(runLen); sb.append(lastOp) }
        lastOp = op; runLen = n
      }
    }
    var off = 0
    var k = 0
    var d = 0
    while (d < dist) {
      val ext = extend(p, plen, t, tlen, k, off)
      emit('M', ext - off)
      off = ext
      val op = ((bt(btBase + (d >> 5)) >>> ((d & 31) << 1)) & 3L).toInt
      op match {
        case OpDel => emit('D', 1); k -= 1
        case OpSub => emit('X', 1); off += 1
        case OpIns => emit('I', 1); k += 1; off += 1
        case _ =>
          throw new IllegalStateException(
            s"corrupt backtrace op 0 at d=$d dist=$dist k=$k off=$off")
      }
      d += 1
    }
    val ext = extend(p, plen, t, tlen, k, off)
    emit('M', ext - off)
    if (runLen > 0) { sb.append(runLen); sb.append(lastOp) }
    sb.toString
  }
}
