package graft.pipeline

import graft.io.StageRunner
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Checkpointed end-to-end ER run: each stage is a resumable Parquet
  * checkpoint; scoring writes per-partition lineage. The stage graph is
  * the Spark re-expression of the reference's single fixed pipeline
  * (E1 lifecycle, SURVEY.md §3).
  *
  * Checkpoint layout: four stages, each one a resume point that saves a
  * recomputation worth more than its write. Where a stage lives, when it
  * is complete (its commit record) and how it is read belong to
  * [[StageRunner]] alone; this object names stages and reads them only
  * through it. Every stage is a flat table: every reader scans all of
  * it, so partitioning by `lang` would only sort each write and split it
  * into more files. `pairs` computes the MinHash blocks inline (no blocks
  * table: they are read once); the blocking-policy counts ride its write.
  * `scored` holds every scored pair; `entities` clusters the match edges
  * read from `scored` with the threshold filter pushed into the scan (no
  * edges table). */
object ErRunner {

  val Stages: Seq[String] = Seq("corpus", "pairs", "scored", "entities")

  /** Hash-bucket fan-out of the `pair_bucket` layout that `pairs` no
    * longer uses; kept only because erbench's traced twin of [[run]]
    * still writes that layout and compiles against this constant. */
  val PairBuckets = 16

  /** @param corpusSource computed only when the `corpus` stage is absent */
  def run(spark: SparkSession, workDir: String, cfg: ErConfig)
         (corpusSource: => DataFrame): StageRunner = {
    val r = new StageRunner(spark, workDir)
    val corpus = r.stage("corpus")(Corpus.withDerived(corpusSource))
    // recall-policy observability: mass discarded by the mega-block drop,
    // observed on the per-block rows the pairs write aggregates anyway
    val policy = Observation("graft_blocking_policy")
    val pairs = r.stage("pairs") {
      val rules = Er.blockingPolicy(cfg)
      val members = Er.blockMembers(Er.blocks(corpus, cfg), cfg)
        .observe(policy, rules.head, rules.tail: _*)
      Er.blockPairs(members, cfg)
    }
    if (r.computed.contains("pairs")) {
      policyLineage(r, "blocking_policy", policy)(Er.blockingLineage(Er.blocks(corpus, cfg), cfg))
    }
    val scored = r.stage("scored")(Er.score(Er.withContents(pairs, corpus), cfg))
    if (r.computed.contains("scored")) {
      r.lineage("scored_partitions", Er.scoreLineage(scored))
    }
    r.stage("entities") {
      Er.entities(corpus, Er.connectedComponents(Er.edges(scored, cfg)))
    }
    r
  }

  /** Checkpointed incremental ingest — the per-crawl loop a 10^12-file
    * corpus actually runs between full clusterings: attach `batchSource`
    * to a COMPLETED full run's `corpus`/`entities` checkpoints via
    * [[Er.assignIncremental]], with the same resume semantics as [[run]]
    * (a killed ingest resumes at the assignment checkpoint instead of
    * re-scoring the batch). Each crawl gets its own `ingest/<tag>/`
    * stage directory, so successive crawls never clobber each other. Every
    * crawl attaches to the full run's `entities`; no API seeds a crawl
    * from an earlier crawl's `entities_merged`.
    *
    * Three checkpoint writes (`batch`, `assigned`, `entities_merged`)
    * are the whole Spark cost of a crawl. The snapshot is read with the
    * schemas the full run committed (a missing or incomplete `corpus` or
    * `entities` fails naming the stage), so reading it starts no job. The
    * bucket-cap dropped-mass row ([[Er.incrementalDroppedStats]]'s
    * `ingest_dropped`, the observable recall cost of the hot-block
    * policy) is observed on the bucket-size aggregation the assignment
    * runs anyway, over `corpus` alone (sizes need only lang and length).
    *
    * @return the runner; `entities_merged` is the updated entity table
    *   (old entities ∪ batch assignments) for downstream readers. */
  def runIncremental(spark: SparkSession, workDir: String, tag: String,
                     cfg: ErConfig, bucketCap: Int = 256)
                    (batchSource: => DataFrame): StageRunner = {
    val full = new StageRunner(spark, workDir)
    val corpus = full.read("corpus")
    val entities = full.read("entities")
    val snapshot = corpus.select("id", "lang", "content").join(entities, "id")
    val r = new StageRunner(spark, s"$workDir/ingest/$tag")
    val batch = r.stage("batch")(batchSource)
    val dropped = Observation("graft_ingest_dropped")
    val assigned = r.stage("assigned") {
      val rules = Er.ingestDroppedPolicy(bucketCap)
      val buckets = Er.ingestBuckets(corpus).observe(dropped, rules.head, rules.tail: _*)
      Er.attachBuckets(snapshot, batch, buckets, cfg, bucketCap)
    }
    if (r.computed.contains("assigned")) {
      policyLineage(r, "ingest_dropped", dropped)(Er.incrementalDroppedStats(corpus, bucketCap))
    }
    r.stage("entities_merged")(
      entities.unionByName(assigned.select("id", "entity")))
    r
  }

  /** Writes the policy row `o` observed on a stage write as the lineage
    * table `name`, or `standalone`'s row when nothing was observed: an
    * empty input lets AQE prune the plan before the observed aggregation
    * runs, and the observation then comes back with no columns. */
  private def policyLineage(r: StageRunner, name: String, o: Observation)
                           (standalone: => DataFrame): Unit = {
    val row = Await.result(o.future, Duration.Inf)
    if (row.length > 0) r.lineage(name, row) else r.lineage(name, standalone)
  }
}
