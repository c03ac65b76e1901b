package erbench

import graft.io.StageRunner
import graft.pipeline.{Corpus, Er, ErConfig, ErRunner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Path

/** Writes a generated corpus as the job's Parquet input and keeps the
  * truth the checks need. */
final class CorpusInput(spark: SparkSession, val gen: GenCorpus, val path: Path) {
  val label: Map[Long, Long] = gen.docs.iterator.map(d => d.id -> d.group).toMap
  lazy val sha: Map[Long, String] = gen.docs.iterator.map(d => d.id -> Checks.sha256Hex(d.content)).toMap

  def df: DataFrame = spark.read.parquet(path.toString)
}

object CorpusInput {
  def write(spark: SparkSession, gen: GenCorpus, path: Path): CorpusInput = {
    import spark.implicits._
    gen.docs.toSeq.map(d => (d.id, d.repo, d.path, d.commit, d.lang, d.content))
      .toDF("id", "repo", "path", "commit", "lang", "content")
      .repartition(8)
      .write.mode("overwrite").parquet(path.toString)
    new CorpusInput(spark, gen, path)
  }

  /** Generates the input three times (the median is the set-up cost, and
    * every repeat must reproduce the first bytes), then writes it once. */
  def setup(ctx: Ctx, nFiles: Int, seedStream: Long, name: String): (CorpusInput, Double) = {
    val reps = (0 until 3).map(_ => Util.time(Gen.corpus(ctx.seed ^ seedStream, nFiles)))
    val digests = reps.map(_._1.docs.toSeq)
    require(digests.forall(_ == digests.head), "corpus generator is not deterministic")
    val (input, writeS) = Util.time(write(ctx.spark, reps.head._1, ctx.dir(name)))
    (input, Checks.median(reps.map(_._2)) + writeS)
  }
}

/** Output checks shared by the batch and ingest workloads. */
object ErChecks {

  /** Entity table of one completed run as id -> entity; a failure message
    * when an input id is missing or repeated, or an unknown id appears. */
  def entities(spark: SparkSession, runDir: Path, input: CorpusInput): Either[String, Map[Long, Long]] = {
    val rows = spark.read.parquet(runDir.resolve("entities").toString)
      .select(col("id"), col("entity")).collect().map(r => r.getLong(0) -> r.getLong(1))
    val m = rows.toMap
    if (rows.length != m.size) Left(s"${rows.length - m.size} ids repeated in entities")
    else if (m.keySet != input.label.keySet) Left("entity ids differ from input ids")
    else if (!m.values.forall(m.contains)) Left("an entity id is not an input id")
    else Right(m)
  }

  /** The corpus checkpoint's sha256 column equals the generator's digest. */
  def sha(spark: SparkSession, runDir: Path, input: CorpusInput): Option[String] = {
    val got = spark.read.parquet(runDir.resolve("corpus").toString).select("id", "sha256")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    if (got == input.sha) None else Some(s"sha256 differs on ${input.sha.count { case (k, v) => !got.get(k).contains(v) }} rows")
  }
}

/** Nightly whole-corpus dedup: `ErRunner.run` over a generated corpus. */
object ErBatch {
  val NFiles = 6000
  val cfg: ErConfig = ErConfig()

  final case class Rep(seconds: Double, f1: Double, error: Option[String])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (input, genS) = CorpusInput.setup(ctx, NFiles, 0x0BA7C4L, "input")
    // two untimed runs: the first compiles the plans, the second lets the
    // JIT settle (a first warm run still reads up to a quarter slower)
    val (_, warmS) = Util.time((0 until 2).foreach { i =>
      ErRunner.run(spark, ctx.dir(s"warm$i").toString, cfg)(input.df)
      spark.catalog.clearCache()
      Util.deleteTree(ctx.dir(s"warm$i"))
    })
    ctx.log(f"inputs ${genS}%.1fs, warm-up ${warmS}%.1fs")
    ctx.sampleHeap()
    var first: Option[Map[Long, Long]] = None
    val reps = Util.loop(ctx, 1) { i =>
      val dir = ctx.dir(s"run$i")
      val (_, t) = Util.time(ErRunner.run(spark, dir.toString, cfg)(input.df))
      ctx.sampleHeap()
      spark.catalog.clearCache()
      val checked = ErChecks.entities(spark, dir, input).flatMap { ents =>
        ErChecks.sha(spark, dir, input).toLeft(ents)
      }
      if (i == 0) first = checked.toOption else Util.deleteTree(dir)
      checked match {
        case Right(ents) => Rep(t, Checks.pairwiseF1(ents, input.label), None)
        case Left(msg) => Rep(t, 0.0, Some(msg))
      }
    }
    reps.flatMap(_.error).distinct.foreach(m => System.err.println(s"er_batch check failed: $m"))
    val ok = reps.filter(_.error.isEmpty)
    val setupS = ctx.sessionS + genS + warmS
    val e2e = Map(
      "setup_s" -> setupS,
      "items_per_s" -> Checks.median(reps.map(NFiles / _.seconds)),
      "op_p50_s" -> Checks.median(reps.map(_.seconds)),
      "quality_f1" -> Checks.median(ok.map(_.f1)))
    val failed = reps.count(_.error.nonEmpty).toLong
    if (!ctx.traced) return Outcome(reps.length, failed, failed == 0, e2e)

    val runDir = ctx.dir("run0")
    val (twinOk, layers) = traced(ctx, input, first.getOrElse(Map.empty), Checks.median(reps.map(_.seconds)))
    val (bytes, files) = Util.dirStats(runDir)
    val stageS = ErRunner.Stages.map { s =>
      val r = spark.read.parquet(runDir.resolve(s"_lineage/$s").toString).select("wall_ms").head()
      s"ckpt.stage_s.$s" -> r.getDouble(0) / 1000
    }
    val all = layers ++ stageS ++ Map(
      "ckpt.bytes" -> bytes.toDouble,
      "ckpt.files" -> files.toDouble,
      "ckpt.bytes_per_input_byte" -> bytes.toDouble / input.gen.contentBytes,
      "peak_heap_mb" -> ctx.peakHeapMb,
      "setup.session_s" -> ctx.sessionS,
      "setup.gen_s" -> genS,
      "setup.snapshot_s" -> 0.0)
    Outcome(reps.length + 1, failed + (if (twinOk) 0 else 1), failed == 0 && twinOk, all)
  }

  /** The traced twin of `ErRunner.run`: the same calls in the same order,
    * each layer through its own `StageRunner.stage` inside a span. Its
    * entity table must equal the untraced run's. */
  def traced(ctx: Ctx, input: CorpusInput, expected: Map[Long, Long], untracedS: Double): (Boolean, Map[String, Double]) = {
    val spark = ctx.spark
    val tr = new Tracer(spark.sparkContext, s"er_batch-${ctx.seed}")
    val r = new StageRunner(spark, ctx.dir("twin").toString)
    var broadcast = false
    tr.span("ErRunner.run") {
      val corpus = tr.span("io.StageRunner.corpus")(r.stage("corpus", Seq("lang"))(Corpus.withDerived(input.df)))
      val blocks = tr.span("pipeline.Er.blocks")(r.stage("blocks", Seq("lang"))(Er.blocks(corpus, cfg)))
      val pairs = tr.span("pipeline.Er.candidatePairs") {
        r.stage("pairs", Seq("pair_bucket")) {
          Er.candidatePairs(blocks, cfg)
            .withColumn("pair_bucket", pmod(xxhash64(col("id_a")), lit(ErRunner.PairBuckets)).cast("int"))
        }
      }
      tr.span("pipeline.Er.blockingLineage")(r.lineage("blocking_policy", Er.blockingLineage(blocks, cfg)))
      val attached = tr.span("pipeline.Er.withContents") {
        val df = Er.withContents(pairs, corpus)
        broadcast = df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
        r.stage("attached")(df)
      }
      val scored = tr.span("pipeline.Er.score")(r.stage("scored")(Er.score(attached, cfg)))
      tr.span("pipeline.Er.scoreLineage")(r.lineage("scored_partitions", Er.scoreLineage(scored)))
      val edges = tr.span("pipeline.Er.edges")(r.stage("edges")(Er.edges(scored, cfg)))
      val comps = tr.span("pipeline.Er.connectedComponents")(r.stage("components")(Er.connectedComponents(edges)))
      tr.span("pipeline.Er.entities")(r.stage("entities")(Er.entities(corpus, comps)))
    }
    spark.catalog.clearCache()
    tr.drain()
    tr.write(ctx.out.resolve(s"spans/er_batch-seed${ctx.seed}.jsonl"))
    val twin = ErChecks.entities(spark, ctx.dir("twin"), input)
    val same = twin.toOption.contains(expected)
    if (!same) System.err.println(s"er_batch traced twin differs from the untraced run: ${twin.left.getOrElse("entity map")}")
    val ents = twin.getOrElse(Map.empty)
    val multi = ents.values.groupBy(identity).count(_._2.size > 1).toDouble
    def rows(stage: String) = r.readLineage(stage).select("rows").head().getLong(0).toDouble
    val dropped = r.readLineage("blocking_policy").select("n_rows_dropped").head().getLong(0).toDouble
    val sc = r.readLineage("scored_partitions")
      .agg(sum("pair_count"), sum("cells_expanded"), sum("saturated_count")).head()
    val (scoredRows, cells, saturated) = (sc.getLong(0).toDouble, sc.getLong(1).toDouble, sc.getLong(2).toDouble)
    val pairRows = rows("pairs")
    val edgeRows = rows("edges")

    def s(n: String) = tr.seconds(n)
    def w(n: String)(f: SpanWork => Long) = tr.work(n).map(f).sum.toDouble
    val mb = 1048576.0
    val scoreS = s("pipeline.Er.score")
    val clusterSpans = Seq("pipeline.Er.connectedComponents", "pipeline.Er.entities")
    val total = s("ErRunner.run")
    val layers = Map(
      "blocks.s" -> s("pipeline.Er.blocks"),
      "blocks.rows" -> rows("blocks"),
      "blocks.task_busy_s" -> w("pipeline.Er.blocks")(_.runMs) / 1000,
      "pairs.s" -> s("pipeline.Er.candidatePairs"),
      "pairs.count" -> pairRows,
      "pairs.stages" -> w("pipeline.Er.candidatePairs")(_.stages),
      "pairs.shuffle_mb" -> w("pipeline.Er.candidatePairs")(_.shuffleBytes) / mb,
      "pairs.spill_mb" -> w("pipeline.Er.candidatePairs")(_.spillBytes) / mb,
      "pairs.dropped_rows" -> dropped,
      "pairs.useful_ratio" -> edgeRows / math.max(1.0, pairRows),
      "attach.s" -> s("pipeline.Er.withContents"),
      "attach.shuffle_mb" -> w("pipeline.Er.withContents")(_.shuffleBytes) / mb,
      "attach.broadcast" -> (if (broadcast) 1.0 else 0.0),
      "score.s" -> scoreS,
      "score.pairs_per_s" -> scoredRows / scoreS,
      "score.cells" -> cells,
      "score.cells_per_pair" -> cells / math.max(1.0, scoredRows),
      "score.saturated_ratio" -> saturated / math.max(1.0, scoredRows),
      "score.task_busy_s" -> w("pipeline.Er.score")(_.runMs) / 1000,
      "score.task_skew" -> SpanWork.skew(tr.work("pipeline.Er.score")),
      "cluster.s" -> clusterSpans.map(s).sum,
      "cluster.jobs" -> clusterSpans.map(n => w(n)(_.jobs)).sum,
      "cluster.edges" -> edgeRows,
      "cluster.entities_multi" -> multi,
      "trace.overhead_ratio" -> total / untracedS) ++
      SparkTotals.of(tr, total, ctx.nproc)
    (same, layers)
  }
}

/** Whole-run Spark totals of a traced pass. */
object SparkTotals {
  def of(tr: Tracer, wallS: Double, nproc: Int): Map[String, Double] = {
    def sum(f: SpanWork => Long) = tr.allWork.map(f).sum.toDouble
    Map(
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.gc_s" -> sum(_.gcMs) / 1000,
      "spark.shuffle_mb" -> sum(_.shuffleBytes) / 1048576.0,
      "spark.busy_ratio" -> sum(_.runMs) / 1000 / (wallS * nproc))
  }
}
