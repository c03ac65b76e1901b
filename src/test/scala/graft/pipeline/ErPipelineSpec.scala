package graft.pipeline

import graft.SparkTestBase
import graft.core.{Hashing, Levenshtein}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end ER pipeline tests: pairwise F1 >= 0.99 against exact
  * DP-oracle ground truth (BASELINE.json metric), connected-components
  * correctness, resume-from-checkpoint, and the sha256 invariant
  * (SURVEY.md §5.2 items 3, 4, 6). */
class ErPipelineSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {

  private val cfg = ErConfig()
  private val genCfg = Corpus.GenConfig(nGroups = 120, partitions = 8)

  private lazy val corpus = Corpus.withDerived(
    Corpus.generate(spark, genCfg).toDF()).cache()

  /** Exact ground truth: all intra-group pairs labeled by DP distance <= tau.
    * Cross-group pairs are non-matches by construction (independent random
    * bases, length >= 300 - even the closest cross pair is far above tau;
    * spot-checked below). */
  private lazy val truePairs: Set[(Long, Long)] = {
    val byGroup = corpus.select("id", "content").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1 / Corpus.IdStride)
    val out = Set.newBuilder[(Long, Long)]
    byGroup.values.foreach { members =>
      for {
        i <- members.indices
        j <- (i + 1) until members.length
      } {
        val (ida, ca) = members(i)
        val (idb, cb) = members(j)
        if (Levenshtein.distance(ca, cb) <= cfg.tau)
          out += ((math.min(ida, idb), math.max(ida, idb)))
      }
    }
    out.result()
  }

  test("corpus generation is deterministic and well-formed") {
    val again = Corpus.withDerived(Corpus.generate(spark, genCfg).toDF())
    assert(corpus.count() == again.count())
    assert(corpus.except(again).isEmpty && again.except(corpus).isEmpty)
    assert(corpus.where(col("content").isNull || length(col("content")) === 0).isEmpty)
    // planted structure exists
    assert(truePairs.nonEmpty, "generator must plant duplicate pairs")
  }

  test("cross-group pairs are far above tau (ground-truth sanity)") {
    val sample = corpus.select("id", "content").collect()
      .map(r => (r.getLong(0), r.getString(1))).take(30)
    val cross = for {
      (ida, ca) <- sample; (idb, cb) <- sample
      if ida / Corpus.IdStride < idb / Corpus.IdStride
    } yield Levenshtein.distance(ca, cb)
    assert(cross.nonEmpty && cross.min > cfg.tau * 2)
  }

  test("pipeline pairwise F1 >= 0.99 against DP-oracle labels") {
    val scored = Er.score(
      Er.withContents(Er.candidatePairs(Er.blocks(corpus, cfg), cfg), corpus), cfg)
    val predicted = Er.edges(scored, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val tp = (predicted intersect truePairs).size.toDouble
    val fp = (predicted diff truePairs).size.toDouble
    val fn = (truePairs diff predicted).size.toDouble
    val precision = if (tp + fp == 0) 1.0 else tp / (tp + fp)
    val recall = if (tp + fn == 0) 1.0 else tp / (tp + fn)
    val f1 = if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
    info(f"truth=${truePairs.size} predicted=${predicted.size} P=$precision%.4f R=$recall%.4f F1=$f1%.4f")
    assert(f1 >= 0.99, f"pairwise F1 $f1%.4f below 0.99 (P=$precision%.4f R=$recall%.4f)")
    // WFA scoring makes precision exact by construction
    assert(precision == 1.0)
  }

  test("scored distances match the DP oracle exactly (sampled)") {
    val scored = Er.score(
      Er.withContents(Er.candidatePairs(Er.blocks(corpus, cfg), cfg), corpus), cfg)
    val contents = corpus.select("id", "content").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = scored.limit(200).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ida, idb, d, sat) = (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3))
      val ref = Levenshtein.distance(contents(ida), contents(idb))
      if (sat) assert(ref >= cfg.band, s"pair ($ida,$idb): saturated but ref=$ref")
      else assert(d == ref, s"pair ($ida,$idb): wfa=$d ref=$ref")
    }
  }

  test("assignIncremental: matches a driver-side reference; near-dups attach, novel docs self") {
    import spark.implicits._
    withWorkDir("er-assign") { dir =>
      val entities = ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF())
        .read("entities")
      val snap = corpus.select("id", "lang", "content").join(entities, "id")
      val snapLocal = snap.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      // batch: every 10th snapshot doc minus its last 4 chars (distance 4
      // -> must attach) + novel z-docs far from everything (-> self)
      val nearLocal = snapLocal.filter(_._1 % 10 == 0).map { case (id, lang, c, _) =>
        (id + 10000000L, lang, c.dropRight(4)) }
      val novelLocal = (0 until 7).map(i =>
        (90000000L + i, snapLocal(i % snapLocal.length)._2, "z" * 400 + i))
      val batchLocal = nearLocal.toSeq ++ novelLocal
      val buckets = snapLocal.groupBy(s => (s._2, s._3.length / 64))
      // ground-truth sanity: no hot bucket, so the attach assertions below hold
      assert(buckets.values.map(_.length).max <= 256, "test corpus grew a hot bucket")
      def assign(cap: Int) = Er.assignIncremental(snap,
          batchLocal.toDF("id", "lang", "content"), cfg, bucketCap = cap)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // independent reference: same blocking contract, DP distances
      def reference(cap: Int) = {
        val okB = buckets.filter(_._2.length <= cap).keySet
        batchLocal.map { case (id, lang, c) =>
          val b = c.length / 64
          val cands = (b - 1 to b + 1).flatMap(bb =>
            if (okB((lang, bb))) buckets((lang, bb)) else Array.empty[(Long, String, String, Long)])
            .filter(s => math.abs(s._3.length - c.length) < 64)
          val ms = cands.filter(s => Levenshtein.distance(c, s._3) <= cfg.tau)
          if (ms.isEmpty) id -> (id, 0L) else id -> (ms.map(_._4).min, ms.size.toLong)
        }.toMap
      }
      val (got, capped) = (assign(256), assign(2))
      assert(got == reference(256))
      // a binding cap: buckets drop, and with them some candidates
      assert(capped == reference(2))
      assert(capped != got, "cap 2 changes no answer")
      // semantics: every near-dup attached to its original's entity
      val entOf = snapLocal.map(s => s._1 -> s._4).toMap
      nearLocal.foreach { case (bid, _, _) =>
        assert(got(bid)._1 == entOf(bid - 10000000L), s"near-dup $bid")
        assert(got(bid)._2 >= 1L)
      }
      // every novel doc opened its own entity
      novelLocal.foreach { case (bid, _, _) => assert(got(bid) == (bid, 0L)) }
    }
  }

  test("incrementalDroppedStats counts exactly the over-cap (lang, bucket) groups") {
    val snapLocal = corpus.select("id", "lang", "content").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val sizes = snapLocal.groupBy(s => (s._2, s._3.length / 64)).view.mapValues(_.length)
    for (cap <- Seq(0, 2, 1000000)) {
      val over = sizes.filter(_._2 > cap)
      val row = Er.incrementalDroppedStats(
        corpus.select("id", "lang", "content"), cap).head()
      assert(row.getLong(0) == over.size.toLong, s"cap=$cap groups")
      assert(row.getLong(1) == over.values.sum.toLong, s"cap=$cap rows")
    }
  }

  test("assignIncremental links a pair whose length gap is past 64 but within tau") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val base = Seq.fill(300)("ACGT"(rnd.nextInt(4))).mkString
    val snap = Seq((1L, "go", base, 1L)).toDF("id", "lang", "content", "entity")
    // appended chars: distance = length gap. 80 is past the 64-wide
    // bucket but within tau 100 (attach); 101 is past tau (new entity)
    val batch = Seq((2L, "go", base + "x" * 80), (3L, "go", base + "x" * 101))
      .toDF("id", "lang", "content")
    val got = Er.assignIncremental(snap, batch, ErConfig(band = 128, tau = 100))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq((2L, 1L, 1L), (3L, 3L, 0L)))
  }

  test("blocks: 21 rows per doc, the band hashes of its 5-shingle, 63-hash, seed-42 MinHash") {
    import spark.implicits._
    val docs = corpus.select("id", "lang", "content").orderBy("id").limit(3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq :+
      ((-1L, "go", "abc")) // shorter than a shingle
    val got = Er.blocks(docs.toDF("id", "lang", "content"), cfg).collect()
      .groupBy(_.getAs[Long]("id"))
    assert(got.keySet == docs.map(_._1).toSet)
    docs.foreach { case (id, lang, content) =>
      val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val want = Hashing.bandHashes(Hashing.minHashSignature(bytes, 5, 63, 42L), 21)
      val rows = got(id).sortBy(_.getAs[Int]("band"))
      assert(rows.map(_.getAs[Int]("band")).toSeq == (0 until 21), s"doc $id")
      assert(rows.map(_.getAs[Long]("bhash")).toSeq == want.toSeq, s"doc $id")
      rows.foreach { r =>
        assert(r.getAs[Int]("len") == bytes.length && r.getAs[String]("lang") == lang)
      }
    }
  }

  test("connected components: known graph") {
    import spark.implicits._
    // components: {1,2,3,4,5} (path), {10,11} and {20} implicit singleton
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comps = Er.connectedComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(comps(_) == 1L))
    assert(comps(10L) == 10L && comps(11L) == 10L)
  }

  test("connected components: random graphs match a union-find oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 3) {
      val n = 150
      val edges = (1 to 220).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expected = componentMinima(edges)
      for (coalesce <- Seq(true, false)) withCoalescing(coalesce) {
        val got = Er.connectedComponents(edges.toDF("id_a", "id_b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"trial $trial, coalescing $coalesce")
      }
    }
  }

  test("connected components: 200-node path converges (log-round algorithm)") {
    import spark.implicits._
    val e = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (coalesce <- Seq(true, false)) withCoalescing(coalesce) {
      val comps = Er.connectedComponents(e).collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(comps.length == 200)
      assert(comps.forall(_._2 == 0L))
    }
  }

  test("connected components: fails loud when the round cap exhausts before convergence") {
    import spark.implicits._
    // a 200-node path needs several large/small-star rounds; cap 1 cannot
    // converge, and an incomplete contraction must raise, not return wrong
    // entities silently (round-4 verdict). Coalescing off scatters the
    // path over every shuffle partition: coalesced, its 199 edges land in
    // one task, whose union-find finishes them without a round
    val e = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    withCoalescing(on = false) {
      val ex = intercept[IllegalArgumentException] {
        Er.connectedComponents(e, maxIters = 1).collect()
      }
      assert(ex.getMessage.contains("did not converge"))
    }
  }

  test("connectedComponents finishes an ER-shaped graph without star rounds") {
    import spark.implicits._
    // 3,000 duplicate groups of 2-6 documents (a random spanning tree plus
    // extra intra-group pairs) and one 96-node chain, over shuffled ids
    val rnd = new scala.util.Random(5)
    val ids = rnd.shuffle((0L until 20000L).toVector).iterator
    val groups = Seq.fill(3000)(Vector.fill(2 + rnd.nextInt(5))(ids.next())) :+
      Vector.fill(96)(ids.next())
    val edges = groups.flatMap { g =>
      val tree = (1 until g.length).map(i => (g(rnd.nextInt(i)), g(i)))
      val extra = Seq.fill(g.length / 2)((g(rnd.nextInt(g.length)), g(rnd.nextInt(g.length))))
        .filter { case (a, b) => a != b }
      (tree ++ extra).map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    }
    val expected = componentMinima(edges)
    val e = rnd.shuffle(edges).toDF("id_a", "id_b").repartition(8)
    def comps() = Er.connectedComponents(e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (coalesce <- Seq(true, false)) withCoalescing(coalesce) {
      assert(comps() == expected, s"coalescing $coalesce")
    }
    // coalesced, the edges reach one task: the edge shuffle, the
    // contraction and the parents aggregation that is both the star-forest
    // test and the result, with no large/small-star round
    val jobs = withCoalescing(on = true)(jobsStartedBy(comps()))
    assert(jobs <= 8, s"$jobs jobs")
  }

  test("connected components: empty edges") {
    import spark.implicits._
    val e = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Er.connectedComponents(e).isEmpty)
  }

  test("entities: transitive clustering groups duplicates; sha256 invariant holds") {
    withWorkDir("er-entities") { dir =>
      val entities = ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF())
        .read("entities")
      assert(entities.count() == corpus.count())
      // sha256 multiset is preserved end-to-end (join back on id)
      val joined = corpus.join(entities, "id")
      assert(joined.count() == corpus.count())
      val shaIn = corpus.agg(sum(crc32(col("sha256")))).head().getLong(0)
      val shaOut = joined.agg(sum(crc32(col("sha256")))).head().getLong(0)
      assert(shaIn == shaOut)
      // every true pair ends in the same entity (transitivity may merge more)
      val ent = entities.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val violations = truePairs.filterNot { case (a, b) => ent(a) == ent(b) }
      assert(violations.size <= math.max(1, truePairs.size / 100),
        s"${violations.size}/${truePairs.size} true pairs split across entities")
    }
  }

  test("salted triangle join finds exactly the pairs a direct self-join would") {
    import spark.implicits._
    // one mid-size block (size 40: salted path), one small block (size 5),
    // one mega block (size 100: dropped)
    val rows =
      (0 until 40).map(i => (i.toLong, 500 + (i % 30), "scala", 0, 111L)) ++
      (100L until 105L).map(i => (i, 500, "scala", 0, 222L)) ++
      (200 until 300).map(i => (i.toLong, 500, "scala", 0, 333L))
    val blocks = rows.toDF("id", "len", "lang", "band", "bhash")
    val got = Er.candidatePairs(blocks, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (
      (for { i <- 0 until 40; j <- (i + 1) until 40
             if math.abs((500 + i % 30) - (500 + j % 30)) < cfg.band }
        yield (i.toLong, j.toLong)) ++
      (for { i <- 100L until 105L; j <- (i + 1) until 105L } yield (i, j))
    ).toSet
    assert(got == expected, s"missing=${expected diff got} extra=${got diff expected}")
  }

  test("score keeps its input's partitions and results") {
    val pairs = Er.candidatePairs(Er.blocks(corpus, cfg), cfg)
    val wide = Er.withContents(pairs, corpus)
    val narrow = wide.repartition(2)
    // the bench's interleaved legs pin concurrency through the input's
    // partition count: score must neither widen nor coalesce it
    val scored = Er.score(narrow, cfg)
    assert(scored.rdd.getNumPartitions == 2)
    val a = scored.drop("part_id", "cells")
    val b = Er.score(wide, cfg).drop("part_id", "cells")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("building the scoring frames starts no Spark job") {
    val pairs = Er.candidatePairs(Er.blocks(corpus, cfg), cfg)
    val snap = corpus.select(col("id"), col("lang"), col("content"), col("id").as("entity"))
    val batch = corpus.where(col("id") % 10 === 0).select("id", "lang", "content")
    assert(jobsStartedBy(Er.score(Er.withContents(pairs, corpus), cfg)) == 0)
    assert(jobsStartedBy(Er.assignIncremental(snap, batch, cfg)) == 0)
  }

  test("withContents broadcasts the corpus once and reuses it for side b") {
    // a checkpointed (parquet) corpus, as ErRunner reads it: Spark does not
    // match exchanges over two scans of one in-memory cache, so a cached
    // corpus is broadcast per side whatever the attach plan looks like
    withWorkDir("er-attach") { dir =>
      corpus.write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      val attached = Er.withContents(Er.candidatePairs(Er.blocks(stored, cfg), cfg), stored)
      attached.collect()
      // the final AQE plan, read after the action: reuse is decided as
      // stages materialize, so the initial plan still lists two exchanges
      val plan = attached.queryExecution.executedPlan
      val corpusSide = collect(plan) {
        case e: BroadcastExchangeExec if e.output.exists(_.dataType == BinaryType) => e }
      assert(corpusSide.size == 1, plan)
      assert(collect(plan) { case e: ReusedExchangeExec => e }.size == 1, plan)
    }
  }

  /** The final plans of the file writes `body` runs, by the name of the
    * directory each one writes. */
  private def writePlans(body: => Any): Map[String, Seq[SparkPlan]] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // jobTasks returns once the listener bus has delivered every event
    try jobTasks(body)
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq.flatMap { p =>
      collect(p) { case w: DataWritingCommandExec => w.cmd }
        .collect { case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName -> p }
    }.groupMap(_._1)(_._2)
  }

  test("a crawl's assignment broadcasts the exploded batch and shuffles no snapshot content") {
    withWorkDir("er-attach-plan") { dir =>
      ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF())
      val batch = nearCopies(dir)
      val plans = writePlans(ErRunner.runIncremental(spark, dir, "crawl", cfg)(batch))
      val assigned = plans.getOrElse("assigned", Nil)
      assert(assigned.size == 1, plans)
      val plan = assigned.head
      val batchSide = collect(plan) {
        case e: BroadcastExchangeExec if e.output.map(_.name).containsSlice(Seq("content", "len", "bucket")) => e }
      assert(batchSide.size == 1, plan)
      val contentShuffles = collect(plan) {
        case e: ShuffleExchangeExec if e.output.exists(a => a.name == "content" || a.name == "content_s") => e }
      assert(contentShuffles.isEmpty, plan)
    }
  }

  /** Component minimum of every node of an undirected edge list: the
    * driver-side union-find oracle for [[Er.connectedComponents]]. */
  private def componentMinima(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  /** Runs `body` with AQE partition coalescing set `on`, unset after. Off,
    * a small edge set scatters over every shuffle partition, so its
    * components split across tasks and need large/small-star rounds. */
  private def withCoalescing[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, on)
    try body finally spark.conf.unset(key)
  }

  /** Spark jobs started while `body` runs on this thread. */
  private def jobsStartedBy(body: => Any): Int = jobTasks(body).length

  test("resume: completed stages are not recomputed; output identical") {
    withWorkDir("er-resume") { dir =>
      val r1 = ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF())
      assert(r1.computed == ErRunner.Stages)
      val ent1 = spark.read.parquet(s"$dir/entities").collect().toSet

      // kill after 'scored': drop the downstream checkpoint, re-run
      val r2 = new graft.io.StageRunner(spark, dir)
      r2.invalidate("entities")
      val r3 = ErRunner.run(spark, dir, cfg)(
        sys.error("corpus must not be recomputed on resume"))
      assert(r3.computed == Seq("entities"))
      val ent2 = spark.read.parquet(s"$dir/entities").collect().toSet
      assert(ent1 == ent2)

      // untouched second run resumes everything
      val r4 = ErRunner.run(spark, dir, cfg)(
        sys.error("corpus must not be recomputed on full resume"))
      assert(r4.computed.isEmpty)

      // per-partition scoring lineage was written and accounts for all pairs
      val lin = r1.readLineage("scored_partitions")
      val pairTotal = spark.read.parquet(s"$dir/scored").count()
      assert(lin.agg(sum("pair_count")).head().getLong(0) == pairTotal)
      assert(lin.agg(sum("cells_expanded")).head().getLong(0) > 0L)

      // blocking-policy lineage: the mega-block recall policy is observable
      val policy = r1.readLineage("blocking_policy").head()
      assert(policy.schema.fieldNames.toSeq ==
        Seq("n_blocks_dropped", "n_rows_dropped", "max_block_size"))
      assert(policy.getLong(0) >= 0L && policy.getLong(2) >= 1L)
    }
  }

  test("incremental ingest: checkpointed assignment resumes; merged entities cover corpus + batch") {
    import spark.implicits._
    withWorkDir("er-ingest") { dir =>
      ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF())
      val snapLocal = spark.read.parquet(s"$dir/corpus")
        .select("id", "lang", "content").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val batchRows = snapLocal.filter(_._1 % 10 == 0).map { case (id, lang, c) =>
        (id + 10000000L, lang, c.dropRight(4)) }.toSeq :+
        ((90000001L, snapLocal.head._2, "z" * 400))
      val r1 = ErRunner.runIncremental(spark, dir, "crawl1", cfg)(
        batchRows.toDF("id", "lang", "content"))
      assert(r1.computed == Seq("batch", "assigned", "entities_merged"))
      val merged = spark.read.parquet(s"$dir/ingest/crawl1/entities_merged")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(merged.size == snapLocal.length + batchRows.size)
      // near-dup batch docs attached to their original's entity; the novel
      // z-doc opened its own
      val ent = spark.read.parquet(s"$dir/entities").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      batchRows.dropRight(1).foreach { case (bid, _, _) =>
        assert(merged(bid) == ent(bid - 10000000L), s"batch doc $bid") }
      assert(merged(90000001L) == 90000001L)
      // resume: nothing recomputed (the batch thunk would throw)
      val r2 = ErRunner.runIncremental(spark, dir, "crawl1", cfg)(
        sys.error("batch must not be recomputed on resume"))
      assert(r2.computed.isEmpty)
      // dropped-mass lineage rides next to the assignment
      val lin = r1.readLineage("ingest_dropped").head()
      assert(lin.schema.fieldNames.toSeq == Seq("n_buckets_dropped", "n_rows_dropped"))
      val snapshot = spark.read.parquet(s"$dir/corpus").select("id", "lang", "content")
      assert(lin == Er.incrementalDroppedStats(snapshot, 256).head())
      // ingest without a completed full run fails fast, naming the stage
      val missing = intercept[IllegalArgumentException](ErRunner.runIncremental(
        spark, s"$dir/missing", "t", cfg)(sys.error("unreachable")))
      assert(missing.getMessage.contains("stage corpus") &&
        missing.getMessage.contains(s"$dir/missing/corpus"), missing.getMessage)
    }
  }

  test("ErRunner writes corpus and a crawl's batch flat: no lang= directory, no sort in the write") {
    withWorkDir("er-flat") { dir =>
      val run = writePlans(ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF()))
      val crawl = writePlans(ErRunner.runIncremental(spark, dir, "crawl", cfg)(nearCopies(dir)))
      for ((stage, base, plans) <- Seq(("corpus", dir, run), ("batch", s"$dir/ingest/crawl", crawl))) {
        val dirs = new java.io.File(s"$base/$stage").listFiles().filter(_.isDirectory).map(_.getName)
        assert(!dirs.exists(_.startsWith("lang=")), s"$stage: ${dirs.mkString(", ")}")
        val writes = plans.getOrElse(stage, Nil)
        assert(writes.size == 1, plans)
        assert(collect(writes.head) { case sort: SortExec => sort }.isEmpty, writes.head)
      }
    }
  }

  test("a work directory with a lang-partitioned corpus resumes and crawls as a flat one does") {
    withWorkDir("er-old-layout") { dir =>
      val source = Corpus.generate(spark, genCfg).toDF()
      // the earlier layout: corpus Hive-partitioned by lang, with a byte-length column
      new graft.io.StageRunner(spark, s"$dir/old").stage("corpus", Seq("lang"))(
        Corpus.withDerived(source).withColumn("len", octet_length(col("content"))))
      assert(new java.io.File(s"$dir/old/corpus").list().exists(_.startsWith("lang=")))
      val first = ErRunner.run(spark, s"$dir/old", cfg)(sys.error("corpus must not be recomputed"))
      assert(first.computed == Seq("pairs", "scored", "entities"))
      val resumed = ErRunner.run(spark, s"$dir/old", cfg)(sys.error("corpus must not be recomputed"))
      assert(resumed.computed.isEmpty)
      ErRunner.run(spark, s"$dir/flat", cfg)(source)
      def rows(path: String) = spark.read.parquet(path).collect().toSet
      assert(rows(s"$dir/old/entities") == rows(s"$dir/flat/entities"))
      val batch = nearCopies(s"$dir/flat")
      for (layout <- Seq("old", "flat")) ErRunner.runIncremental(spark, s"$dir/$layout", "crawl", cfg)(batch)
      val assigned = rows(s"$dir/flat/ingest/crawl/assigned")
      assert(assigned.exists(_.getAs[Long]("n_matches") > 0L))
      assert(rows(s"$dir/old/ingest/crawl/assigned") == assigned)
    }
  }

  test("blockingLineage counts exactly the blocks over the salted cap") {
    import spark.implicits._
    // 70 docs sharing one boilerplate block key vs the default cap of 64:
    // craft blocks directly (the policy unit, independent of MinHash)
    val hot = (0 until 70).map(i => (i.toLong, 100, "x", 0, 7L))
    val cold = Seq((100L, 100, "x", 0, 8L), (101L, 100, "x", 0, 8L))
    val blocks = (hot ++ cold).toDF("id", "len", "lang", "band", "bhash")
    val row = Er.blockingLineage(blocks, cfg).head()
    assert(row.getLong(0) == 1L)   // one block over cap
    assert(row.getLong(1) == 70L)  // its member rows
    assert(row.getLong(2) == 70L)  // max block size
    // and candidatePairs drops it: only the cold pair survives
    val pairs = Er.candidatePairs(blocks, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L)))
  }

  test("blockMembers equals a per-block oracle: every count, members up to the cap") {
    import spark.implicits._
    val cap = 8
    val capped = cfg.copy(saltedMaxBlockSize = cap)
    val rnd = new scala.util.Random(11)
    // sizes at the cap's edges plus random ones, rows dealt round-robin
    // over 8 partitions so every block is merged from partial buffers
    val sizes = Seq(1, 2, cap - 1, cap, cap + 1, 2 * cap) ++ Seq.fill(60)(1 + rnd.nextInt(3 * cap))
    val rows = sizes.zipWithIndex.flatMap { case (n, b) =>
      Seq.fill(n)((rnd.nextInt(400).toLong, 100 + rnd.nextInt(80),
        if (b % 2 == 0) "x" else "y", b % 3, b.toLong))
    }
    val blocks = rnd.shuffle(rows).toDF("id", "len", "lang", "band", "bhash").repartition(8)
    val got = Er.blockMembers(blocks, capped).collect().map { r =>
      (r.getString(0), r.getInt(1), r.getLong(2)) ->
        (r.getLong(3), r.getSeq[Long](4).zip(r.getSeq[Int](5)).sorted)
    }.toMap
    val expected = rows.groupBy(r => (r._3, r._4, r._5)).map { case (k, ms) =>
      k -> (ms.length.toLong,
        if (ms.length <= cap) ms.map(m => (m._1, m._2)).sorted else Seq.empty)
    }
    assert(got == expected)
    assert(got.values.exists(_._1 == 2 * cap) && got.values.exists(_._1 == cap))
  }

  test("candidatePairs shuffles twice and caches nothing") {
    import spark.implicits._
    val rows = (0 until 40).map(i => (i.toLong, 500 + i % 30, "scala", i % 2, (i % 5).toLong)) ++
      (200 until 300).map(i => (i.toLong, 500, "scala", 0, 9L))
    val pairs = Er.candidatePairs(rows.toDF("id", "len", "lang", "band", "bhash"), cfg)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 2, plan)
    assert(collect(plan) { case s: InMemoryTableScanExec => s }.isEmpty, plan)
    assert(pairs.queryExecution.optimizedPlan.collect { case m: InMemoryRelation => m }.isEmpty)
  }

  test("ErRunner.run on the spec corpus starts at most 14 jobs") {
    withWorkDir("er-jobs") { dir =>
      val source = Corpus.generate(spark, genCfg).toDF()
      val jobs = jobsStartedBy(ErRunner.run(spark, dir, cfg)(source))
      info(s"$jobs jobs")
      assert(jobs <= 14, s"$jobs jobs")
    }
  }

  /** Near copies (last 4 chars cut) of every 10th doc of a completed
    * run's corpus, as a local batch: each one attaches to its original. */
  private def nearCopies(dir: String) = {
    import spark.implicits._
    spark.read.parquet(s"$dir/corpus").where(col("id") % 10 === 0)
      .select("id", "lang", "content").as[(Long, String, String)].collect()
      .map { case (id, lang, c) => (id + 10000000L, lang, c.dropRight(4)) }.toSeq
      .toDF("id", "lang", "content")
  }

  test("ErRunner.runIncremental on the spec corpus starts at most 9 jobs") {
    withWorkDir("er-ingest-jobs") { dir =>
      ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF())
      val batch = nearCopies(dir)
      val jobs = jobsStartedBy(ErRunner.runIncremental(spark, dir, "crawl", cfg)(batch))
      info(s"$jobs jobs")
      assert(jobs <= 9, s"$jobs jobs")
    }
  }

  test("a resumed ErRunner.run and a resumed crawl start no Spark job") {
    withWorkDir("er-resume-jobs") { dir =>
      ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF())
      ErRunner.runIncremental(spark, dir, "crawl", cfg)(nearCopies(dir))
      val run = jobsStartedBy(assert(ErRunner.run(spark, dir, cfg)(
        sys.error("corpus must not be recomputed on resume")).computed.isEmpty))
      val crawl = jobsStartedBy(assert(ErRunner.runIncremental(spark, dir, "crawl", cfg)(
        sys.error("batch must not be recomputed on resume")).computed.isEmpty))
      assert(run == 0 && crawl == 0, s"resumed run $run jobs, resumed crawl $crawl jobs")
    }
  }

  test("ErRunner.run on an empty corpus writes no entities and a zero blocking_policy row") {
    withWorkDir("er-empty") { dir =>
      val r = ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF().limit(0))
      assert(r.computed == ErRunner.Stages)
      assert(r.read("entities").count() == 0L)
      assert(r.readLineage("blocking_policy").collect().toSeq.map(_.toSeq) == Seq(Seq(0L, 0L, 0L)))
    }
  }

  test("runIncremental writes the ingest_dropped row incrementalDroppedStats computes") {
    // a cap of 2 drops every (lang, length bucket) of three or more docs
    withWorkDir("er-ingest-policy") { dir =>
      ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF())
      val snapshot = spark.read.parquet(s"$dir/corpus").select("id", "lang", "content")
      val expected = Er.incrementalDroppedStats(snapshot, 2)
      for ((tag, batch) <- Seq("near" -> nearCopies(dir), "empty" -> nearCopies(dir).limit(0))) {
        val r = ErRunner.runIncremental(spark, dir, tag, cfg, bucketCap = 2)(batch)
        val written = r.readLineage("ingest_dropped")
        assert(written.schema.fieldNames.toSeq == expected.schema.fieldNames.toSeq, tag)
        assert(written.collect().toSeq == expected.collect().toSeq, tag)
        assert(written.head().getLong(0) > 0L, tag)
      }
    }
  }

  test("every stage reads back as written; lineage tables read back as Spark writes them") {
    withWorkDir("er-schema") { dir =>
      val source = Corpus.generate(spark, genCfg).toDF()
      // ErRunner.run's and runIncremental's stages, through one runner each,
      // and `blocks` partitioned by lang as erbench's traced twin writes it
      val r = new graft.io.StageRunner(spark, s"$dir/run")
      val corpus = r.stage("corpus")(Corpus.withDerived(source))
      val blocks = r.stage("blocks", Seq("lang"))(Er.blocks(corpus, cfg))
      val pairs = r.stage("pairs")(Er.candidatePairs(Er.blocks(corpus, cfg), cfg))
      val scored = r.stage("scored")(Er.score(Er.withContents(pairs, corpus), cfg))
      val entities = r.stage("entities")(Er.entities(corpus, Er.connectedComponents(Er.edges(scored, cfg))))
      val i = new graft.io.StageRunner(spark, s"$dir/ingest")
      val batch = i.stage("batch")(
        corpus.where(col("id") % 10 === 0).select((col("id") + 10000000L).as("id"), col("lang"), col("content")))
      val snapshot = corpus.select("id", "lang", "content").join(entities, "id")
      val assigned = i.stage("assigned")(Er.assignIncremental(snapshot, batch, cfg))
      val merged = i.stage("entities_merged")(entities.unionByName(assigned.select("id", "entity")))
      val stages = Seq("run/corpus" -> corpus, "run/blocks" -> blocks, "run/pairs" -> pairs,
        "run/scored" -> scored, "run/entities" -> entities, "ingest/batch" -> batch,
        "ingest/assigned" -> assigned, "ingest/entities_merged" -> merged)
      // as Spark infers it from the files, and as a resumed runner reads it
      def resumed(name: String) = {
        val Array(base, stage) = name.split("/")
        new graft.io.StageRunner(spark, s"$dir/$base").read(stage)
      }
      for ((name, df) <- stages; stored <- Seq(spark.read.parquet(s"$dir/$name"), resumed(name))) {
        assert(df.schema == stored.schema, name)
        assert(df.exceptAll(stored).isEmpty && stored.exceptAll(df).isEmpty, name)
      }
      assert(blocks.columns.last == "lang")

      // lineage: each stage's row, and tables of the types Spark would write
      def sparkWritten(name: String, df: DataFrame): StructType = {
        df.write.mode("overwrite").parquet(s"$dir/spark/$name")
        spark.read.parquet(s"$dir/spark/$name").schema
      }
      val stageRow = StructType(Seq(StructField("stage", StringType), StructField("rows", LongType),
        StructField("wall_ms", DoubleType)))
      for ((name, df) <- stages) {
        val (runner, stage) = if (name.startsWith("run/")) (r, name.drop(4)) else (i, name.drop(7))
        val lin = runner.readLineage(stage)
        assert(lin.schema == stageRow, name)
        assert(lin.head().getString(0) == stage && lin.head().getLong(1) == df.count(), name)
      }
      val policy = Er.blockingLineage(Er.blocks(corpus, cfg), cfg)
      val parts = Er.scoreLineage(scored)
      val dropped = Er.incrementalDroppedStats(snapshot, 2)
      for ((name, df) <- Seq("blocking_policy" -> policy, "scored_partitions" -> parts,
          "ingest_dropped" -> dropped)) {
        r.lineage(name, df)
        assert(r.readLineage(name).schema == sparkWritten(name, df), name)
        assert(r.readLineage(name).collect().toSet == df.collect().toSet, name)
      }
      // a re-run replaces the table: one part file, the new rows
      r.lineage("scored_partitions", parts.limit(1))
      val files = new java.io.File(s"$dir/run/_lineage/scored_partitions").list()
        .filterNot(f => f.startsWith(".") || f.startsWith("_"))
      assert(files.length == 1, files.mkString(", "))
      assert(r.readLineage("scored_partitions").count() == 1L)
    }
  }

  test("ErRunner.run writes the blocking_policy row blockingLineage computes") {
    // a cap of 2 drops every block of three or more members
    val capped = cfg.copy(saltedMaxBlockSize = 2)
    withWorkDir("er-policy") { dir =>
      val r = ErRunner.run(spark, dir, capped)(Corpus.generate(spark, genCfg).toDF())
      val written = r.readLineage("blocking_policy")
      val expected = Er.blockingLineage(
        Er.blocks(spark.read.parquet(s"$dir/corpus"), capped), capped)
      assert(written.schema.fieldNames.toSeq == expected.schema.fieldNames.toSeq)
      assert(written.collect().toSeq == expected.collect().toSeq)
      assert(written.head().getLong(0) > 0L)
    }
  }

  test("resume: a recomputed stage recomputes every later stage") {
    withWorkDir("er-recompute") { dir =>
      ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF())
      val ent1 = spark.read.parquet(s"$dir/entities").collect().toSet
      new graft.io.StageRunner(spark, dir).invalidate("pairs")
      val r = ErRunner.run(spark, dir, cfg)(
        sys.error("corpus must not be recomputed on resume"))
      assert(r.computed == Seq("pairs", "scored", "entities"))
      assert(spark.read.parquet(s"$dir/entities").collect().toSet == ent1)
    }
  }

  test("a stage whose data and _SUCCESS exist but whose commit record does not is recomputed, with every later stage") {
    withWorkDir("er-record") { dir =>
      ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF())
      val ent1 = spark.read.parquet(s"$dir/entities").collect().toSet
      // a killed write, or a checkpoint from before commit records
      val record = new java.io.File(s"$dir/pairs/_stage.json")
      assert(record.delete() && new java.io.File(s"$dir/pairs/_SUCCESS").exists())
      val r = ErRunner.run(spark, dir, cfg)(
        sys.error("corpus must not be recomputed on resume"))
      assert(r.computed == Seq("pairs", "scored", "entities"))
      assert(spark.read.parquet(s"$dir/entities").collect().toSet == ent1)
    }
  }

  test("a file:// URI work directory runs and fully resumes") {
    withWorkDir("er-uri") { local =>
      val dir = new java.io.File(local).toURI.toString
      assert(dir.startsWith("file:/"))
      val r1 = ErRunner.run(spark, dir, cfg)(Corpus.generate(spark, genCfg).toDF())
      assert(r1.computed == ErRunner.Stages)
      val r2 = ErRunner.run(spark, dir, cfg)(
        sys.error("corpus must not be recomputed on resume"))
      assert(r2.computed.isEmpty)
      val batch = spark.read.parquet(s"$dir/corpus").where(col("id") % 10 === 0)
        .select((col("id") + 10000000L).as("id"), col("lang"), col("content"))
      val i1 = ErRunner.runIncremental(spark, dir, "crawl", cfg)(batch)
      assert(i1.computed == Seq("batch", "assigned", "entities_merged"))
      val i2 = ErRunner.runIncremental(spark, dir, "crawl", cfg)(
        sys.error("batch must not be recomputed on resume"))
      assert(i2.computed.isEmpty)
      val runner = new graft.io.StageRunner(spark, dir)
      assert(runner.readLineage("corpus").head().getLong(1) == Corpus.generate(spark, genCfg).count())
      assert(i1.readLineage("assigned").head().getLong(1) == batch.count())
      runner.invalidate("entities")
      assert(!runner.isComplete("entities") && runner.isComplete("scored"))
    }
  }
}
