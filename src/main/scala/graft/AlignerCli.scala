package graft

import graft.core.{Wfa, WfaWorkspace}
import graft.sources.SequenceFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI with the reference's argument surface
  * (/root/reference/src/aligner.cu:75-139):
  *
  *   -f <file>        sequence file of `>pattern` / `<text` line pairs
  *   -n <num>         number of alignments to read (0 = all)
  *   -l <len>         max sequence length. The reference sizes each
  *                    sequence slot at 2*len bytes ("100% error rate",
  *                    utils/sequence_reader.h:66-71) and memcpy's lines in
  *                    UNCHECKED (utils/sequence_reader.cu:166-179) — an
  *                    over-length line silently overflows its slot. graft
  *                    enforces the same 2*len capacity: the task aligning
  *                    an over-length pair fails the job with an error
  *                    naming it; 0/absent = unbounded (buffers are sized
  *                    dynamically).
  *   -b <batch>       accepted for command-line parity and ignored. The
  *                    reference sizes each batch to fit GPU memory
  *                    (src/wavefront.cu:211-330); here each task streams
  *                    its pairs through one reused WfaWorkspace, and task
  *                    width comes from the sequence file's splits.
  *   -t <threads>     worker threads -> local[t] cores (0/absent = all)
  *   -p               print CIGARs ("idx: cigar", reference
  *                    src/wavefront.cu:293-300)
  *   -d <band>        max distance band (reference fixed 64,
  *                    wavefront_structures.h:62; configurable here up to
  *                    Wfa.MaxBand = 46,340: each task's backtrace table
  *                    holds band² bytes)
  *
  * A user of the reference CLI can run the same file through this entry
  * point and get the same distances and CIGARs (golden-tested).
  */
object AlignerCli {

  final case class Config(file: String = "", num: Long = 0, seqLen: Int = 0,
                          threads: Int = 0, print: Boolean = false,
                          band: Int = 64)

  private val Usage =
    "usage: AlignerCli -f|--file <file> [-n|--num-alignments num] [-l|--seq-len len] " +
      "[-t|--cpu-threads threads] [-d|--max-distance band] [-p|--print-cigars] " +
      "(-b|--batch-size is accepted and ignored: tasks take the read's partitions)"

  /** Accepts the reference's short AND long forms (its generic parser
    * matches either, /root/reference/utils/arg_handler.c:88-138; long
    * names from the options table, src/aligner.cu:77-136). A missing or
    * non-numeric value, a negative -n/-l/-b/-t and a band outside
    * 1..Wfa.MaxBand fail here, naming the option, rather than later inside
    * a Spark task (0 keeps its meaning: all pairs, unbounded, all cores). */
  def parseArgs(args: Array[String]): Config = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$msg; $Usage")
    def value(i: Int): String =
      if (i + 1 < args.length) args(i + 1) else fail(s"${args(i)} needs a value")
    def number[A](i: Int)(parse: String => A): A =
      try parse(value(i))
      catch {
        case _: NumberFormatException => fail(s"${args(i)} needs a number, got '${args(i + 1)}'")
      }
    def nonNegative[A](i: Int)(parse: String => A)(implicit n: Numeric[A]): A = {
      val x = number(i)(parse)
      if (n.lt(x, n.zero)) fail(s"${args(i)} must be 0 or more, got $x") else x
    }
    var c = Config()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-f" | "--file" => c = c.copy(file = value(i)); i += 2
        case "-n" | "--num-alignments" => c = c.copy(num = nonNegative(i)(_.toLong)); i += 2
        case "-l" | "--seq-len" => c = c.copy(seqLen = nonNegative(i)(_.toInt)); i += 2
        case "-b" | "--batch-size" => nonNegative(i)(_.toInt); i += 2 // checked, then ignored
        case "-t" | "--cpu-threads" => c = c.copy(threads = nonNegative(i)(_.toInt)); i += 2
        case "-p" | "--print-cigars" => c = c.copy(print = true); i += 1
        case "-d" | "--max-distance" => c = c.copy(band = number(i)(_.toInt)); i += 2
        case other => fail(s"unknown option $other")
      }
    }
    if (c.file.isEmpty) fail("-f|--file is required")
    if (c.band < 1) fail(s"-d|--max-distance must be at least 1, got ${c.band}")
    if (c.band > Wfa.MaxBand)
      fail(s"-d|--max-distance must be at most ${Wfa.MaxBand} (the backtrace table holds " +
        s"band² bytes per task), got ${c.band}")
    c
  }

  /** The alignment job: read pairs, score with banded WFA, return
    * (pair_id, distance, saturated, cigar). */
  def run(spark: SparkSession, c: Config): DataFrame = {
    import spark.implicits._
    // reference capacity parity: each slot holds 2*seq_len bytes (0 = unbounded),
    // checked per pair as it is aligned
    val seqLen = c.seqLen
    val cap = 2L * seqLen
    val band = c.band
    SequenceFile.readBytes(spark, c.file, c.num)
      .mapPartitions { it =>
        val ws = new WfaWorkspace(band, withCigar = true)
        it.map { case (id, p, t) =>
          require(cap <= 0 || (p.length <= cap && t.length <= cap),
            s"sequence pair $id exceeds --seq-len capacity " +
              s"(2*$seqLen = $cap bytes); the reference would silently " +
              "overflow its buffer here — rerun with a larger -l or drop it")
          val r = Wfa.align(p, t, ws)
          (id, r.distance, r.saturated, r.cigar)
        }
      }
      .toDF("pair_id", "distance", "saturated", "cigar")
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val cores = if (c.threads > 0) c.threads.toString else "*"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-aligner")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val out = run(spark, c).collect() // in pair_id order: splits and lines are in file order
    val wall = (System.nanoTime() - t0) / 1e9
    if (c.print) out.foreach { r =>
      println(s"${r.getLong(0)}: ${if (r.getBoolean(2)) "*" else r.getString(3)}")
    }
    println(f"Alignment executed. Pairs: ${out.length}, wall time $wall%.3fs")
    spark.stop()
  }
}
