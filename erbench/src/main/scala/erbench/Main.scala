package erbench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What one workload run measured. `values` holds end-to-end metrics in an
  * untraced run, per-layer metrics in a traced run (absent layers read 0). */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean, values: Map[String, Double])

/** Shared by the workloads of one process. */
final class Ctx(val spark: SparkSession, val out: Path, val work: Path, val seed: Long,
                val seconds: Double, val traced: Boolean, val sessionS: Double) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  private var heapMb = 0.0
  def peakHeapMb: Double = heapMb

  /** Old-generation usage after a full collection, kept as a running max;
    * called between operations, outside every timed interval. */
  def sampleHeap(): Unit = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = old.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    heapMb = math.max(heapMb, used / 1048576.0)
  }

  def dir(name: String): Path = work.resolve(name)

  /** Progress on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit =
    System.err.println(f"erbench [${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")
}

object Util {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  /** (bytes, parquet part files) under a directory. */
  def dirStats(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.count(_.getFileName.toString.startsWith("part-")).toLong)
    } finally s.close()
  }

  /** Runs `op` until `seconds` have passed since the first call (at least
    * `minOps` times); returns the per-call results. A traced run makes one
    * untraced call, the base of its tracing overhead. */
  def loop[T](ctx: Ctx, minOps: Int)(op: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[T]
    val least = if (ctx.traced) 1 else minOps
    var i = 0
    while (i < least || !ctx.traced && (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val (r, s) = Util.time(op(i))
      out += r
      i += 1
      ctx.log(f"op $i done in $s%.2fs with its checks")
    }
    out.result()
  }
}

object Main {

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val seed = opts.get("seed").map(_.toLong).getOrElse(1L)
    val seconds = opts.get("seconds").map(_.toDouble).getOrElse(10.0)
    val traced = opts.get("trace").contains("1")
    val out = Paths.get(opts.getOrElse("out", ".bench_build/erbench")).toAbsolutePath
    val run: Ctx => Outcome = workload match {
      case "er_batch" => ErBatch.run
      case "align_cigar" => AlignCigar.run
      case "er_ingest" => ErIngest.run
      case other =>
        System.err.println(s"unknown workload '$other' (er_batch, align_cigar, er_ingest)")
        sys.exit(2)
    }
    val work = out.resolve(s"work-$workload-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = Util.time {
      val s = SparkSession.builder()
        .master(s"local[$nproc]")
        .appName(s"erbench-$workload")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.range(1).count() // first job: scheduler and codegen start-up belong to the session
      s
    }
    val ctx = new Ctx(spark, out, work, seed, seconds, traced, sessionS)
    ctx.log(f"$workload: session up in $sessionS%.1fs")
    val outcome =
      try run(ctx)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(1, 1, correct = false, Map.empty)
      } finally {
        ctx.log(s"$workload: measured, stopping")
        spark.stop()
        Util.deleteTree(work)
      }
    // one line for run.py: it names and units the metrics from BENCHMARK.json
    val vals = outcome.values.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    println(s"""ERBENCH {"correct": ${outcome.correct}, "attempted": ${outcome.attempted}, """ +
      s""""failed": ${outcome.failed}, "values": {$vals}}""")
    sys.exit(if (outcome.correct) 0 else 1)
  }
}
