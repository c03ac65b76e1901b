package erbench

import graft.io.StageRunner
import graft.pipeline.{Er, ErConfig, ErRunner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Path

/** Per-crawl ingest: a closed loop with one caller, each crawl a new tag
  * passed to `ErRunner.runIncremental` against one snapshot. */
object ErIngest {
  val SnapshotFiles = 2500
  val BatchDocs = 400
  val BucketCap = 256
  val cfg: ErConfig = ErConfig()

  /** One crawl: its time, per batch doc the snapshot entity it was
    * attached to (if any) and its planted group, and a failed check. */
  final case class Crawl(seconds: Double, attached: Seq[Option[Long]], planted: Seq[Long], error: Option[String])

  final class Snapshot(val input: CorpusInput, val entity: Map[Long, Long]) {
    val groupsOf: Map[Long, Set[Long]] =
      entity.toSeq.groupBy(_._2).map { case (e, ids) => e -> ids.map(i => input.label(i._1)).toSet }
    /** Snapshot docs per (lang, 64-byte length bucket): the ingest blocking key. */
    val bucketSize: Map[(String, Int), Int] =
      input.gen.docs.groupBy(d => (d.lang, d.content.length / 64)).map { case (k, v) => k -> v.length }
  }

  def writeBatch(spark: SparkSession, docs: Array[(Doc, Gen.Planted)], path: Path): DataFrame = {
    import spark.implicits._
    docs.toSeq.map(_._1).map(d => (d.id, d.repo, d.path, d.commit, d.lang, d.content))
      .toDF("id", "repo", "path", "commit", "lang", "content")
      .write.mode("overwrite").parquet(path.toString)
    spark.read.parquet(path.toString)
  }

  /** Checks one crawl's `assigned` output and scores it against the planted
    * truth: every batch doc appears once; a doc is attached exactly when it
    * has matches, and only to a snapshot entity; an exact copy whose length
    * bucket is under the cap must match (its source is at distance 0). */
  def checkCrawl(spark: SparkSession, snap: Snapshot, crawlDir: Path,
                 batch: Array[(Doc, Gen.Planted)]): Crawl = {
    val rows = spark.read.parquet(crawlDir.resolve("assigned").toString)
      .select("id", "entity", "n_matches").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val merged = spark.read.parquet(crawlDir.resolve("entities_merged").toString).count()
    val errors = Seq.newBuilder[String]
    if (rows.size != batch.length || !batch.forall(b => rows.contains(b._1.id)))
      errors += "assigned ids differ from batch ids"
    if (merged != snap.entity.size + batch.length) errors += s"entities_merged has $merged rows"
    val attached = batch.toSeq.map { case (d, p) =>
      val (e, n) = rows.getOrElse(d.id, (d.id, 0L))
      if ((e != d.id) != (n > 0)) errors += s"doc ${d.id}: entity and n_matches disagree"
      if (e != d.id && !snap.groupsOf.contains(e)) errors += s"doc ${d.id}: entity $e is not a snapshot entity"
      val uncapped = snap.bucketSize.getOrElse((d.lang, d.content.length / 64), 0) <= BucketCap
      if ((p.kind == "exact" || p.kind == "hot") && uncapped && n == 0) errors += s"exact copy ${d.id} not attached"
      if (e != d.id) Some(e) else None
    }
    val err = errors.result()
    Crawl(0.0, attached, batch.toSeq.map(_._2.group), err.headOption.map(m => s"${err.length} errors, first: $m"))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (input, genS) = CorpusInput.setup(ctx, SnapshotFiles, 0x1A6E57L, "snapshot-input")
    val snapDir = ctx.dir("snapshot")
    val (snap, snapS) = Util.time {
      ErRunner.run(spark, snapDir.toString, cfg)(input.df)
      spark.catalog.clearCache()
      val ents = ErChecks.entities(spark, snapDir, input)
        .fold(m => throw new IllegalStateException(s"snapshot run failed its check: $m"), identity)
      new Snapshot(input, ents)
    }
    def batch(k: Int) = Gen.crawl(ctx.seed, k, input.gen, BatchDocs, (1L << 40) + (k + 1L) * (1L << 20))
    def crawl(tag: String, docs: Array[(Doc, Gen.Planted)]): Crawl = {
      val src = writeBatch(spark, docs, ctx.dir(s"batches/$tag"))
      val (_, t) = Util.time(ErRunner.runIncremental(spark, snapDir.toString, tag, cfg, BucketCap)(src))
      ctx.sampleHeap()
      spark.catalog.clearCache()
      checkCrawl(spark, snap, snapDir.resolve(s"ingest/$tag"), docs).copy(seconds = t)
    }
    // two untimed crawls: the first compiles the plans, the second lets the JIT settle
    val (_, warmS) = Util.time(Seq(-1, -2).foreach(k => crawl(s"warm$k", batch(k))))
    ctx.log(f"inputs ${genS}%.1fs, snapshot ${snapS}%.1fs, warm-up ${warmS}%.1fs")
    val crawls = Util.loop(ctx, 2)(k => crawl(s"c$k", batch(k)))
    crawls.flatMap(_.error).distinct.foreach(m => System.err.println(s"er_ingest check failed: $m"))
    val failed = crawls.count(_.error.nonEmpty).toLong
    val opS = crawls.map(_.seconds)
    val e2e = Map(
      "setup_s" -> (ctx.sessionS + genS + snapS + warmS),
      "items_per_s" -> Checks.median(opS.map(BatchDocs / _)),
      "op_p50_s" -> Checks.median(opS),
      // pooled over every crawl of the run: one F1 over all batch docs
      "quality_f1" -> Checks.attachF1(crawls.flatMap(_.attached), crawls.flatMap(_.planted), snap.groupsOf))
    if (!ctx.traced) return Outcome(crawls.length, failed, failed == 0, e2e)

    // traced twin of runIncremental on crawl 0's batch, under a new tag;
    // its assignment must equal the untraced crawl's
    val tr = new Tracer(spark.sparkContext, s"er_ingest-${ctx.seed}")
    val twinDir = snapDir.resolve("ingest/twin")
    tr.span("ErRunner.runIncremental") {
      val corpus = spark.read.parquet(snapDir.resolve("corpus").toString)
      val entities = spark.read.parquet(snapDir.resolve("entities").toString)
      val snapshot = corpus.select("id", "lang", "content").join(entities, "id")
      val r = new StageRunner(spark, twinDir.toString)
      val b = tr.span("io.StageRunner.batch")(r.stage("batch", Seq("lang"))(spark.read.parquet(ctx.dir("batches/c0").toString)))
      val assigned = tr.span("pipeline.Er.assignIncremental")(r.stage("assigned")(Er.assignIncremental(snapshot, b, cfg, BucketCap)))
      tr.span("pipeline.Er.incrementalDroppedStats")(r.lineage("ingest_dropped", Er.incrementalDroppedStats(snapshot, BucketCap)))
      tr.span("io.StageRunner.entities_merged")(r.stage("entities_merged")(entities.unionByName(assigned.select("id", "entity"))))
    }
    spark.catalog.clearCache()
    tr.drain()
    tr.write(ctx.out.resolve(s"spans/er_ingest-seed${ctx.seed}.jsonl"))
    def assigned(dir: Path) = spark.read.parquet(dir.resolve("assigned").toString).collect().map(_.toString).toSet
    val c0 = snapDir.resolve("ingest/c0")
    val twinOk = assigned(twinDir) == assigned(c0)
    if (!twinOk) System.err.println("er_ingest traced twin assignment differs from the untraced crawl")
    val dropped = spark.read.parquet(c0.resolve("_lineage/ingest_dropped").toString).head()
    val (bytes, files) = Util.dirStats(c0)
    val stageS = Seq("batch", "assigned", "entities_merged").map { s =>
      s"ckpt.stage_s.$s" -> spark.read.parquet(c0.resolve(s"_lineage/$s").toString).select("wall_ms").head().getDouble(0) / 1000
    }
    val total = tr.seconds("ErRunner.runIncremental")
    val layers = stageS.toMap ++ Map(
      "ckpt.bytes" -> bytes.toDouble,
      "ckpt.files" -> files.toDouble,
      "ckpt.bytes_per_input_byte" -> bytes.toDouble / batch(0).map(_._1.content.length.toLong).sum,
      "ingest.assign_s" -> tr.seconds("pipeline.Er.assignIncremental"),
      "ingest.dropped_buckets" -> dropped.getAs[Long]("n_buckets_dropped").toDouble,
      "ingest.dropped_rows" -> dropped.getAs[Long]("n_rows_dropped").toDouble,
      "ingest.attached_ratio" -> crawls.flatMap(_.attached).count(_.isDefined).toDouble / crawls.map(_.attached.length).sum,
      "trace.overhead_ratio" -> total / Checks.median(opS),
      "peak_heap_mb" -> ctx.peakHeapMb,
      "setup.session_s" -> ctx.sessionS,
      "setup.gen_s" -> genS,
      "setup.snapshot_s" -> snapS) ++ SparkTotals.of(tr, total, ctx.nproc)
    Outcome(crawls.length + 1, failed + (if (twinOk) 0 else 1), failed == 0 && twinOk, layers)
  }
}
