package graft.core

import java.lang.invoke.MethodHandles
import java.nio.ByteOrder
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
  * mirroring the reference's kernels.cu:205-219) and, in CIGAR mode, a
  * triangular backtrace table of one op byte per wavefront cell: the op
  * that won cell (d, k) sits at `d*d + d + k`, so steps 1..band-1 fill
  * band² bytes. A CIGAR band is at most [[Wfa.MaxBand]], the largest whose
  * table an `Int` can index.
  *
  * Allocate ONE per partition/thread and reuse across pairs — the north-star
  * "no per-pair object churn". Not thread-safe.
  */
final class WfaWorkspace(val band: Int, val withCigar: Boolean = true) {
  require(band >= 1, s"band must be >= 1, got $band")
  require(!withCigar || band <= Wfa.MaxBand,
    s"a CIGAR band must be at most ${Wfa.MaxBand} (its backtrace table holds band² op bytes), got $band")
  // offsets index of diagonal k is `center + k`; k ranges over [-band, band]
  // plus one -1 padding cell on each side.
  val center: Int = band + 1
  private[core] val size: Int = 2 * band + 3
  private[core] val curr: Array[Int] = new Array[Int](size)
  private[core] val next: Array[Int] = new Array[Int](size)
  // the winning op of cell (d, k) at d*d + d + k, and one walk's ops in
  // forward order
  private[core] val ops: Array[Byte] = if (withCigar) new Array[Byte](band * band) else null
  private[core] val path: Array[Byte] = if (withCigar) new Array[Byte](band) else null

  private[core] def reset(): Unit = {
    Arrays.fill(curr, -1)
    Arrays.fill(next, -1)
  }
}

/** Banded wavefront alignment (WFA) for unit-cost edit distance + CIGAR.
  *
  * Spark-first re-expression of the reference CUDA kernel
  * `WF_edit_distance` (/root/reference/src/kernels.cu:182-310). One thread
  * processes one pair sequentially (the reference used a 64-thread block per
  * pair; on the JVM the parallelism unit is the Spark task, and the greedy
  * extend compares 8 bytes per `Long`).
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
  *
  * The reference carries a packed backtrace per diagonal and copies it from
  * cell to cell (wavefront_structures.h:52-60), a GPU layout. Here each cell
  * writes its winning op once and the CIGAR walks back from the target, as
  * in WFA as published (Marco-Sola et al., Bioinformatics 2021).
  */
object Wfa {

  val OpDel = 3 // k + 1
  val OpSub = 2 // k
  val OpIns = 1 // k - 1

  /** The largest band whose band² backtrace table an `Int` can index. */
  val MaxBand = 46340

  private val Bytes8 = MethodHandles.byteArrayViewVarHandle(classOf[Array[Long]], ByteOrder.LITTLE_ENDIAN)

  /** Greedy extend: longest common run from (v,h) = (off-k, off) down the
    * diagonal. The reference compares 16 packed bases per u32 via
    * XOR+__clz (kernels.cu:27-109); here the first 8 bytes of each side are
    * one little-endian `Long`, so the first differing byte is the XOR's
    * trailing zero count / 8. A run that fills that word continues through
    * `Arrays.mismatch` (a vectorized intrinsic), as does a run with fewer
    * than 8 bytes left, so no read passes either array's end. Out-of-range
    * starts return the offset unchanged, matching the reference's
    * `while (v < plen && h < tlen)` guard.
    */
  @inline private def extend(p: Array[Byte], plen: Int, t: Array[Byte], tlen: Int,
                             k: Int, off: Int): Int = {
    val v = off - k
    val h = off
    if (v < 0 || h < 0 || v >= plen || h >= tlen) return off
    val n = math.min(plen - v, tlen - h)
    if (n < 8) {
      val m = Arrays.mismatch(p, v, v + n, t, h, h + n)
      return if (m < 0) off + n else off + m
    }
    val x = (Bytes8.get(p, v): Long) ^ (Bytes8.get(t, h): Long)
    if (x != 0L) off + (java.lang.Long.numberOfTrailingZeros(x) >>> 3)
    else {
      val m = Arrays.mismatch(p, v + 8, v + n, t, h + 8, h + n)
      if (m < 0) off + n else off + 8 + m
    }
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
    * one pass.
    *
    * In CIGAR mode step d writes the op of each cell k in [-d, d] to
    * `ws.ops(d*d + d + k)`. The table is never reset, because the walk back
    * from (dist, targetK) reads only cells written for the current pair.
    * At step d, the previous row holds -1 outside [-(d-1), d-1] (reset, and
    * one padding cell per side), so a neighbour outside it offers at most
    * 0: -1 as DEL, 0 as SUB or INS. A neighbour inside offers at least 0 as
    * DEL and at least 1 as SUB or INS. The one tie, at k = -d, is DEL from
    * k+1 at offset 0 against SUB/INS at 0, and DEL wins it. So every cell's
    * winning source, (d-1, k + op - 2), lies in the previous wavefront,
    * and the walk reaches (0, 0) through this pair's cells only.
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
      val cig = if (ws.withCigar) renderCigar(pattern, plen, text, tlen, 0, 0, ws) else null
      return WfaResult(0, saturated = false, cig, cells)
    }
    if (targetKAbs >= band) {
      // |tlen - plen| >= band => distance >= band: saturated without work.
      // (generalization of the reference's implicit bound; a pure pre-filter)
      return WfaResult(band, saturated = true, null, cells)
    }

    var curr = ws.curr
    var next = ws.next
    val ops = ws.ops
    val withCigar = ws.withCigar

    var d = 1
    while (d < band) {
      val row = d * d + d
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
        if (withCigar) ops(row + k) = (maxP & 3).toByte
        next(c + k) = extend(pattern, plen, text, tlen, k, maxP >> 2)
        k += 1
      }
      cells += 2L * d + 1L

      if (targetKAbs <= d && next(c + targetK) == targetOff) {
        val cig = if (withCigar) renderCigar(pattern, plen, text, tlen, d, targetK, ws) else null
        return WfaResult(d, saturated = false, cig, cells)
      }

      // swap double buffers (kernels.cu:272-283)
      val t0 = curr; curr = next; next = t0
      d += 1
    }
    WfaResult(band, saturated = true, null, cells)
  }

  /** Walk the backtrace table back from (dist, targetK) to (0, 0), then
    * replay the ops forward into a run-length CIGAR, re-running extends on
    * the original sequences to recover match runs — the same replay as
    * generate_cigars (/root/reference/src/kernels.cu:428-498) emitting the
    * corrected run-length rendering directly.
    */
  private def renderCigar(p: Array[Byte], plen: Int, t: Array[Byte], tlen: Int,
                          dist: Int, targetK: Int, ws: WfaWorkspace): String = {
    val ops = ws.ops
    val path = ws.path
    var k = targetK
    var d = dist
    while (d > 0) {
      val op = ops(d * d + d + k)
      path(d - 1) = op
      k += op - 2 // DEL came from k+1, SUB from k, INS from k-1
      d -= 1
    }
    // the walk ends at (d, k) = (0, 0), where the forward replay starts

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
    while (d < dist) {
      val ext = extend(p, plen, t, tlen, k, off)
      emit('M', ext - off)
      off = ext
      path(d).toInt match {
        case OpDel => emit('D', 1); k -= 1
        case OpSub => emit('X', 1); off += 1
        case OpIns => emit('I', 1); k += 1; off += 1
        case op =>
          throw new IllegalStateException(
            s"corrupt backtrace op $op at d=$d dist=$dist k=$k off=$off")
      }
      d += 1
    }
    val ext = extend(p, plen, t, tlen, k, off)
    emit('M', ext - off)
    if (runLen > 0) { sb.append(runLen); sb.append(lastOp) }
    sb.toString
  }
}
