package erbench

import graft.AlignerCli
import graft.core.{Wfa, WfaWorkspace}
import graft.sources.SequenceFile
import java.util.concurrent.{Executors, TimeUnit}

/** The reference's own job: `AlignerCli.run` with CIGAR output over a
  * generated `>`/`<` ACGT pair file. */
object AlignCigar {
  val NPairs = 80000
  val Band = 64

  /** One run's output, indexed by pair id. */
  final class Out(val distance: Array[Int], val saturated: Array[Boolean], val cigar: Array[String]) {
    def sameAs(o: Out): Int = distance.indices.count { i =>
      distance(i) != o.distance(i) || saturated(i) != o.saturated(i) || cigar(i) != o.cigar(i)
    }
  }

  def collect(ctx: Ctx, cfg: AlignerCli.Config): Out = {
    val rows = AlignerCli.run(ctx.spark, cfg).collect()
    val out = new Out(Array.fill(NPairs)(-1), new Array[Boolean](NPairs), new Array[String](NPairs))
    rows.foreach { r =>
      val id = r.getLong(0).toInt
      out.distance(id) = r.getInt(1); out.saturated(id) = r.getBoolean(2); out.cigar(id) = r.getString(3)
    }
    out
  }

  /** Counts the pairs whose output fails the check, and returns the F1 of
    * the within-band verdict against the benchmark's DP. A pair passes
    * when, below the band, its CIGAR replays from pattern to text with
    * exactly `distance` edits (so the distance is at most that) and the
    * banded DP finds nothing cheaper; or, saturated, when it reads `Band`
    * and the DP finds nothing below `Band`. The DP runs on `threads`
    * threads. */
  def check(pairs: Array[(Array[Byte], Array[Byte])], out: Out, threads: Int): (Int, Double) = {
    val ok = new Array[Boolean](pairs.length)
    val truthIn = new Array[Boolean](pairs.length)
    val pool = Executors.newFixedThreadPool(threads)
    (0 until threads).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var i = t
          while (i < pairs.length) {
            val (p, x) = pairs(i)
            val d = out.distance(i)
            ok(i) =
              if (out.saturated(i)) d == Band && Checks.bandedDistance(p, x, Band) == Band
              else d >= 0 && d < Band && Checks.cigarEdits(p, x, out.cigar(i)) == d &&
                (d == 0 || Checks.bandedDistance(p, x, d) == d)
            truthIn(i) = if (ok(i)) !out.saturated(i) else Checks.bandedDistance(p, x, Band) < Band
            i += threads
          }
        }
      })
    }
    pool.shutdown()
    require(pool.awaitTermination(10, TimeUnit.MINUTES), "DP check timed out")
    var bad = 0; var tp = 0; var fp = 0; var fn = 0
    pairs.indices.foreach { i =>
      if (!ok(i)) bad += 1
      if (ok(i) && truthIn(i)) tp += 1
      else if (!ok(i)) { if (!out.saturated(i)) fp += 1; if (truthIn(i)) fn += 1 }
    }
    (bad, if (tp + fp + fn == 0) 1.0 else 2.0 * tp / (2 * tp + fp + fn))
  }

  def run(ctx: Ctx): Outcome = {
    val file = ctx.dir("pairs.seq")
    val reps = (0 until 3).map(_ => Util.time(Gen.alignPairs(ctx.seed, NPairs)))
    require(reps.forall(_._1.sameElements(reps.head._1)), "pair generator is not deterministic")
    val (_, writeS) = Util.time(Gen.writeSeqFile(reps.head._1, file))
    val genS = Checks.median(reps.map(_._2)) + writeS
    val pairs = reps.head._1.map { case (p, t) => (p.getBytes("US-ASCII"), t.getBytes("US-ASCII")) }
    val cfg = AlignerCli.Config(file = file.toString, band = Band)
    val (_, warmS) = Util.time(collect(ctx, cfg)) // compiles the plan, warms the kernel
    ctx.log(f"inputs ${genS}%.1fs, warm-up ${warmS}%.1fs")
    ctx.sampleHeap()
    val runs = Util.loop(ctx, 3) { _ =>
      val (out, t) = Util.time(collect(ctx, cfg))
      ctx.sampleHeap()
      (out, t)
    }
    // the first pass is checked pair by pair; a later pass fails where the
    // first did and wherever it differs from it
    val (bad0, f1) = check(pairs, runs.head._1, ctx.nproc)
    val failed = runs.map(r => bad0.toLong + r._1.sameAs(runs.head._1)).sum
    if (failed > 0) System.err.println(s"align_cigar: $failed pair outputs failed their check")
    val opS = runs.map(_._2)
    val itemsPerS = Checks.median(opS.map(NPairs / _))
    val e2e = Map(
      "setup_s" -> (ctx.sessionS + genS + warmS),
      "items_per_s" -> itemsPerS,
      "op_p50_s" -> Checks.median(opS),
      "quality_f1" -> f1)
    val attempted = NPairs.toLong * runs.length
    if (!ctx.traced) return Outcome(attempted, failed, failed == 0, e2e)

    val tr = new Tracer(ctx.spark.sparkContext, s"align_cigar-${ctx.seed}")
    val traced = tr.span("AlignerCli.run")(collect(ctx, cfg))
    tr.span("sources.SequenceFile.read") {
      SequenceFile.read(ctx.spark, file.toString).write.format("noop").mode("overwrite").save()
    }
    // the kernel alone: one thread, no Spark, same pairs and band, CIGAR on
    var cells = 0L
    var sat = 0L
    tr.span("core.Wfa.align") {
      val ws = new WfaWorkspace(Band, withCigar = true)
      pairs.foreach { case (p, x) =>
        val r = Wfa.align(p, x, ws)
        cells += r.cells
        if (r.saturated) sat += 1
      }
    }
    tr.drain()
    tr.write(ctx.out.resolve(s"spans/align_cigar-seed${ctx.seed}.jsonl"))
    val twinBad = traced.sameAs(runs.head._1)
    def s(n: String) = tr.seconds(n)
    def w(n: String)(f: SpanWork => Long) = tr.work(n).map(f).sum.toDouble
    val wfaS = s("core.Wfa.align")
    val pairsPer1t = NPairs / wfaS
    val sparkS = s("AlignerCli.run") + s("sources.SequenceFile.read")
    val layers = Map(
      "seqfile.read_s" -> s("sources.SequenceFile.read"),
      "seqfile.jobs" -> w("sources.SequenceFile.read")(_.jobs),
      "seqfile.shuffle_mb" -> w("sources.SequenceFile.read")(_.shuffleBytes) / 1048576.0,
      "aligncli.self_s" -> (s("AlignerCli.run") - s("sources.SequenceFile.read")),
      "aligncli.jobs" -> w("AlignerCli.run")(_.jobs),
      "aligncli.tasks" -> w("AlignerCli.run")(_.tasks),
      "wfa.pairs_per_s_1t" -> pairsPer1t,
      "wfa.cells" -> cells.toDouble,
      "wfa.cells_per_s_1t" -> cells / wfaS,
      "wfa.saturated_ratio" -> sat.toDouble / NPairs,
      "align.parallel_eff" -> itemsPerS / (ctx.nproc * pairsPer1t),
      "trace.overhead_ratio" -> s("AlignerCli.run") / Checks.median(opS),
      "peak_heap_mb" -> ctx.peakHeapMb,
      "setup.session_s" -> ctx.sessionS,
      "setup.gen_s" -> genS,
      "setup.snapshot_s" -> 0.0) ++ SparkTotals.of(tr, sparkS, ctx.nproc)
    Outcome(attempted + NPairs, failed + twinBad, failed == 0 && twinBad == 0, layers)
  }
}
