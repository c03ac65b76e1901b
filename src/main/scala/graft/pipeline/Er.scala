package graft.pipeline

import graft.core.{Hashing, Wfa, WfaWorkspace}
import graft.ops.Buckets
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** ER pipeline configuration (the Spark re-expression of the reference's
  * CLI surface, /root/reference/src/aligner.cu:75-139: band generalizes the
  * fixed max_distance 64; MinHash-LSH blocking replaces the positional
  * pairing, with the fixed shape of [[Er.blocks]]). */
final case class ErConfig(
    band: Int = 64,              // WFA band; distances >= band saturate
    tau: Int = 63,               // match threshold: edge iff distance <= tau (< band)
    saltedMaxBlockSize: Int = 64 // pairing cap: blocks beyond it are dropped
                                 // as boilerplate (pair work grows as
                                 // sum(blockSize^2)); also bounds the
                                 // per-block member buffer
) {
  require(tau < band, s"tau ($tau) must be < band ($band)")
}

/** Blocking -> candidate pairs -> WFA scoring -> transitive clustering.
  *
  * Dataflow (SURVEY.md §2.2): every heavy op is a declarative DataFrame op
  * so Catalyst handles pushdown/pruning/AQE; only the scorer itself is a
  * typed mapPartitions (the reference's GPU kernel slot, SURVEY.md S7).
  */
object Er {

  // ---------------------------------------------------------------- blocking

  /** MinHash-LSH shape of [[blocks]]: 5-char shingles, 63 hashes in 21
    * bands of 3 rows, seed 42. er08's DuckHash oracle pins these values;
    * the two must change together. */
  private val ShingleK = 5
  private val NumHashes = 63
  private val LshBands = 21
  private val LshSeed = 42L

  /** LSH blocks: (id, len, lang, band, bhash). One row per (doc, LSH band).
    * MinHash over char k-shingles; docs sharing any (lang, band, bhash) key
    * become candidates. Implemented as a typed flatMap: one signature pass
    * per doc (cheaper and clearer than exploding shingles to rows, which
    * would shuffle |doc|*|shingles| rows at 100 TB). The shape is the
    * fixed one above; no `cfg` field changes it.
    */
  def blocks(corpus: DataFrame, cfg: ErConfig): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select($"id".as[Long], $"lang".as[String],
        $"content".cast("binary").as[Array[Byte]])
      .flatMap { case (id, lang, bytes) =>
        val sig = Hashing.minHashSignature(bytes, ShingleK, NumHashes, LshSeed)
        val bands = Hashing.bandHashes(sig, LshBands)
        val len = bytes.length
        Iterator.tabulate(bands.length)(b => (id, len, lang, b, bands(b)))
      }
      .toDF("id", "len", "lang", "band", "bhash")
  }

  // ------------------------------------------------------- candidate pairs

  /** All (id_a < id_b) pairs co-blocked under (lang, band, bhash), for
    * blocks of 2..saltedMaxBlockSize members; larger blocks (shared
    * boilerplate — the license-header pathology) are dropped outright,
    * and the length-difference pre-filter (|lenA-lenB| >= band implies
    * distance >= band, see Wfa.align) kills pairs before the pair-dedup
    * shuffle.
    *
    * Two exchanges, none wider than (keys, id, len): one map-side-combinable
    * aggregation per block ([[blockMembers]]), whose buffer holds at most
    * saltedMaxBlockSize members, so a mega-block never buffers more than
    * its count; then a task-local pair loop over every block of 2..cap
    * members and the pair dedup. A one-shot run's cost tracks its stage
    * count (per-stage codegen and shuffle setup; CLAUDE.md lesson 4),
    * which is why sizing, the cap and the member lists are one
    * aggregation rather than a sizing aggregation, an eligibility join and
    * a grouping. Both are the LSH operators' own, from
    * [[graft.ops.Buckets]]. `blocks` is read once. Output is pinned by
    * ErPipelineSpec's F1/invariant suite. */
  def candidatePairs(blocks: DataFrame, cfg: ErConfig): DataFrame =
    blockPairs(blockMembers(blocks, cfg), cfg)

  /** One row per block: its keys (lang, band, bhash), its member count
    * `n`, and its members' `ids` and `lens` when n <= saltedMaxBlockSize
    * (empty past it) — [[graft.ops.Buckets.cappedGroups]] under ER's
    * keys. The one aggregation behind both the pairs and the
    * blocking-policy lineage. */
  private[graft] def blockMembers(blocks: DataFrame, cfg: ErConfig): DataFrame =
    Buckets.cappedGroups(blocks, Seq("lang", "band", "bhash"), cfg.saltedMaxBlockSize)

  /** Pairs of the [[blockMembers]] rows ([[graft.ops.Buckets.groupPairs]])
    * with the |len diff| < band pre-filter applied in the pair loop. */
  private[graft] def blockPairs(members: DataFrame, cfg: ErConfig): DataFrame = {
    val band = cfg.band
    Buckets.groupPairs(members, cfg.saltedMaxBlockSize, (a, b) => math.abs(a - b) < band)
  }

  /** The mega-block drop (> saltedMaxBlockSize, the shared-boilerplate
    * recall policy) as aggregate expressions over [[blockMembers]] rows:
    * (n_blocks_dropped, n_rows_dropped, max_block_size). The policy is a
    * constant, so its cost must be observable at scale (round-1 verdict);
    * ErRunner observes these on the pairs write, [[blockingLineage]]
    * aggregates them on their own. */
  private[graft] def blockingPolicy(cfg: ErConfig): Seq[Column] = {
    val (blocks, rows) = Buckets.overCap(col("n"), cfg.saltedMaxBlockSize)
    Seq(blocks.as("n_blocks_dropped"), rows.as("n_rows_dropped"),
      coalesce(max("n"), lit(0L)).as("max_block_size"))
  }

  /** Blocking-policy lineage: how many blocks (and member rows) the
    * mega-block drop discards. One row: (n_blocks_dropped,
    * n_rows_dropped, max_block_size). */
  def blockingLineage(blocks: DataFrame, cfg: ErConfig): DataFrame = {
    val policy = blockingPolicy(cfg)
    blockMembers(blocks, cfg).agg(policy.head, policy.tail: _*)
  }

  /** Attach both contents (two equi-joins against the corpus — ids-only
    * pairs stay skinny through the dedup shuffle; content is joined in
    * last, once per pair side).
    *
    * Round 6 (guide §3.1/§8): when the projected (id, bytes) corpus side
    * is estimated under [[ContentBroadcastLimitBytes]], both attach joins are
    * explicit broadcast-hash joins — the pairs side is then never
    * shuffled by content at all (the old plan paid THREE payload
    * exchanges: corpus by id_a, the half-attached pairs + corpus again by
    * id_b). Past the limit the plan falls back to the shuffled equi-join
    * unchanged — the 100-TB shape, where the corpus can never broadcast
    * and skinny-pairs-then-attach is already the right layout. The limit
    * is scale-adaptive (plan statistics), not a local[32] constant. */
  def withContents(pairs: DataFrame, corpus: DataFrame): DataFrame = {
    val c = corpus.select(col("id"), col("content").cast("binary").as("bytes"))
    val small = fitsBroadcast(c)
    def side(sfx: String): DataFrame = {
      val s = c.select(col("id").as(s"id_$sfx"), col("bytes").as(s"bytes_$sfx"))
      if (small) broadcast(s) else s
    }
    // broadcast branch: the skinny pair frame often arrives AQE-coalesced
    // to one or two partitions (a million id pairs is only ~16 MB), which
    // would serialize the whole map-side attach through one task — an
    // explicit repartition of the ID-ONLY rows (cheap: no payload yet)
    // restores attach parallelism. The shuffled branch re-partitions by
    // the join key anyway, so it needs no widening here.
    val p =
      if (small)
        pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism * 2)
      else pairs
    p.join(side("a"), "id_a").join(side("b"), "id_b")
      .select("id_a", "id_b", "bytes_a", "bytes_b")
  }

  /** Size gate of [[withContents]]' broadcast branch: 256 MB, a small
    * fraction of typical executor memory and far under Spark's 8 GB
    * broadcast cap, so an optimizer estimate that is off by an order of
    * magnitude still broadcasts safely. */
  private val ContentBroadcastLimitBytes = BigInt(256L << 20)

  /** True when the optimizer's size estimate for `df` fits under
    * [[ContentBroadcastLimitBytes]]. Estimates come from plan statistics,
    * so the decision adapts to the input scale instead of being a
    * local-mode constant: a 100-TB corpus reports terabytes and keeps the
    * shuffled join. */
  private def fitsBroadcast(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= ContentBroadcastLimitBytes

  // ----------------------------------------------------------------- scoring

  /** The core operator (reference kernel WF_edit_distance,
    * /root/reference/src/kernels.cu:182-310): one distance-only
    * WfaWorkspace per partition (primitive arrays reused across pairs — no
    * per-pair churn), sequential banded WFA per pair. Emits per-pair
    * lineage inputs (cells expanded, partition id) alongside the score.
    *
    * Scores the partitions it is given — one task per input partition —
    * and building the frame starts no Spark job. `id_a` and `id_b` are
    * passed through untouched: they only label the pair, and
    * [[attachBuckets]] passes a snapshot entity as `id_b`. Width is set by
    * the code that builds the rows: [[withContents]] widens the skinny
    * pairs in its broadcast branch, [[attachBuckets]] repartitions its
    * candidates.
    */
  def score(pairsWithContents: DataFrame, cfg: ErConfig): DataFrame = {
    val spark = pairsWithContents.sparkSession
    import spark.implicits._
    val band = cfg.band
    pairsWithContents
      .select($"id_a".as[Long], $"id_b".as[Long],
        $"bytes_a".as[Array[Byte]], $"bytes_b".as[Array[Byte]])
      .mapPartitions { it =>
        val ws = new WfaWorkspace(band, withCigar = false)
        val part = TaskContext.getPartitionId()
        it.map { case (ida, idb, a, b) =>
          val r = Wfa.align(a, b, ws)
          (ida, idb, r.distance, r.saturated, r.cells, part)
        }
      }
      .toDF("id_a", "id_b", "distance", "saturated", "cells", "part_id")
  }

  /** Per-partition lineage for the scoring stage (BASELINE.json north_star:
    * pair count, wavefront cells expanded per partition). */
  def scoreLineage(scored: DataFrame): DataFrame =
    scored.groupBy("part_id").agg(
      count(lit(1)).as("pair_count"),
      sum("cells").as("cells_expanded"),
      sum(when(col("saturated"), 1L).otherwise(0L)).as("saturated_count"))

  // -------------------------------------------------------------- clustering

  /** Match edges: scored pairs at or under the threshold. */
  def edges(scored: DataFrame, cfg: ErConfig): DataFrame =
    scored.where(!col("saturated") && col("distance") <= lit(cfg.tau))
      .select("id_a", "id_b")

  /** Connected components of the match graph. Returns (id, entity) for
    * every node of `edgeDf` (self-loops aside); entity is the component's
    * minimum id. Ids are integral and come back as longs.
    *
    * One pass on ER-shaped graphs (many small components): the edges are
    * shuffled once by `id_a` — AQE sizes that exchange, so a small edge
    * set lands in one task and a large one stays spread — and each task
    * contracts its edges with a union-find ([[contract]]) into a star
    * forest of the same connectivity, every edge pointing from a child to
    * a smaller parent. One aggregation gives every node its parents
    * ([[parents]]). When no node has two distinct parents and no parent is
    * itself a child ([[isStarForest]]), the stars are exactly the
    * components and their roots are the component minima, so each node's
    * entity is read off that same table, with no further shuffle. Only
    * components whose edges were split across tasks leave the forest
    * unfinished; large-star/small-star rounds finish them (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" — O(log n) rounds,
    * each shuffle-bounded; the scale-safe alternative to label
    * propagation, whose round count is the component diameter), each
    * followed by the same aggregation and test.
    *
    * @param maxIters round cap — a backstop, not a tuning knob: large-star/
    *   small-star converges in O(log n) rounds, so 50 covers ~2^50 nodes.
    *   Exhausting it means the star contraction is incomplete and the
    *   entities would be WRONG, so the loop fails loud rather than
    *   returning silently (round-4 verdict). */
  def connectedComponents(edgeDf: DataFrame, maxIters: Int = 50): DataFrame = {
    val spark = edgeDf.sparkSession
    import spark.implicits._
    // lineage cut after the contraction, each round and each parents
    // table: reliable checkpoint when the session has a checkpoint dir
    // (the cluster path — survives executor loss and keeps the plan O(1)
    // regardless of round count); localCheckpoint otherwise (single-box
    // path: RDD blocks on local storage). Checkpoint files of superseded
    // rounds accumulate until GC'd — long-lived cluster sessions should
    // set spark.cleaner.referenceTracking.cleanCheckpoints=true (see
    // SCALING.md). The localCheckpoint is lazy: the isStarForest test
    // after it is the action that materializes it, so the cut costs no
    // job of its own. The reliable checkpoint stays eager: a lazy one
    // would compute its plan a second time when writing the files.
    def cut(df: DataFrame): DataFrame =
      if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint(eager = false)

    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy("u")
        .agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      bidir.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orient each edge toward the larger endpoint: (hi, lo)
      val oriented = e.select(
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy("u").agg(min("v").as("m"))
      val moved = oriented.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
      val self = mins.select(col("u"), col("m").as("v"))
      moved.union(self).where(col("u") =!= col("v")).distinct()
    }

    // the filter drops self-loops (and null ids) before the one shuffle
    var e = cut(edgeDf
      .where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .repartition(col("id_a"))
      .as[(Long, Long)]
      .mapPartitions(contract)
      .toDF("u", "v"))
    var nodes = cut(parents(e))
    var done = isStarForest(nodes)
    var iters = 0
    while (!done && iters < maxIters) {
      e = cut(smallStar(largeStar(e)))
      nodes = cut(parents(e))
      done = isStarForest(nodes)
      iters += 1
    }
    require(done,
      s"connected components did not converge within $maxIters rounds — " +
        "star contraction incomplete, entities would be wrong")
    // in a star forest a node's one parent is its component's root
    nodes.select(col("n").as("id"), coalesce(col("lo"), col("n")).as("entity"))
  }

  /** One task's share of the edges as a star forest with the same
    * connectivity: union-find (union by smaller root, path compression)
    * over a primitive-keyed map holding at most two nodes per edge, then
    * (node, root) for every node that is not its component's root. Roots
    * are minima, so every emitted parent is below its child. */
  private def contract(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      var c = x
      while (r != c) { c = r; r = parent(c) }
      c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val nodes = new mutable.ArrayBuilder.ofLong
    parent.foreachKey(nodes += _)
    nodes.result().iterator.map(n => (n, find(n))).filter { case (n, r) => n != r }
  }

  /** One row per node of the (u -> v) edges: its smallest and largest
    * parent (null for a root) and whether it is itself a parent. One
    * aggregation over (n = u, its parent v) and (n = v, marked as a
    * parent). */
  private def parents(e: DataFrame): DataFrame =
    e.select(col("u").as("n"), col("v").as("p"))
      .union(e.select(col("v").as("n"), lit(null).cast("long").as("p")))
      .groupBy("n")
      .agg(min("p").as("lo"), max("p").as("hi"),
        (count(lit(1)) > count(col("p"))).as("is_parent"))

  /** True when the edges behind [[parents]] form a forest of stars: no
    * node has two distinct parents and no parent is itself a child. */
  private def isStarForest(nodes: DataFrame): Boolean =
    nodes.where(col("lo") =!= col("hi") || (col("lo").isNotNull && col("is_parent")))
      .isEmpty

  /** Final entity table: every corpus id mapped to its entity (singletons
    * map to themselves). */
  def entities(corpus: DataFrame, components: DataFrame): DataFrame =
    corpus.select(col("id"))
      .join(components, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("entity"), col("id")).as("entity"))

  /** Incremental entity assignment — attach a NEW batch of documents to
    * an existing entity table without re-clustering the snapshot: the
    * way a 10^12-file corpus actually absorbs a crawl. Candidate
    * generation and scoring touch only batch x blocked-snapshot rows —
    * never snapshot x snapshot — so per-crawl work is proportional to
    * the batch, not the corpus.
    *
    * Blocking is the er03 contract family's (lang, 64-wide length
    * bucket) scheme adapted to the CROSS shape: the SMALL batch side
    * explodes into buckets b-r..b+r, r = ceil(tau/64) ({b-1, b, b+1} at
    * tau < 64), while every snapshot doc stays in its single home bucket,
    * so any pair with |lenA - lenB| <= tau meets in exactly ONE bucket
    * (no pair dedup needed, unlike the self-join) and the big side is
    * never replicated. Snapshot buckets with more than `bucketCap` docs
    * are dropped — the [[graft.ops.Buckets]] policy: one hot boilerplate
    * block must not turn the ingest quadratic. The |len diff| <= tau
    * filter is sound, not just a heuristic: WFA distance >= |len diff|.
    *
    * [[ingestBuckets]] (the bucket sizes) then [[attachBuckets]] (the
    * cap, the candidates, scoring and the per-doc answer); ErRunner
    * observes [[ingestDroppedPolicy]] on the sizes between the two.
    *
    * @param snapshot (id, lang, content, entity) — the clustered corpus
    * @param batch    (id, lang, content) — new docs, ids disjoint
    * @param cfg      band/tau as in [[score]]
    * @return (id, entity, n_matches) per batch doc: entity = the
    *   smallest matched snapshot entity, or the batch id itself when
    *   nothing matches (a brand-new entity); n_matches = matched
    *   snapshot docs (0 for new entities). Batch-internal duplicates
    *   are deliberately NOT linked here — two new copies of the same
    *   new document each open their own entity until the next full
    *   clustering run (the attach-or-queue convention; linking them
    *   would re-introduce the batch self-join this operator exists to
    *   avoid). */
  def assignIncremental(snapshot: DataFrame, batch: DataFrame,
                        cfg: ErConfig, bucketCap: Int = 256): DataFrame =
    attachBuckets(snapshot, batch, ingestBuckets(snapshot), cfg, bucketCap)

  /** One row per (lang, 64-wide length bucket) of `docs` (lang, content):
    * its doc count `gsz`. The one aggregation behind both the ingest bucket
    * cap and its dropped-mass lineage; skinny keys only, never content. */
  private[graft] def ingestBuckets(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"), lenBucket(col("content")).as("bucket"))
      .agg(count(lit(1)).as("gsz"))

  /** A doc's 64-wide length bucket, the ingest blocking key next to lang. */
  private def lenBucket(content: Column): Column = floor(length(content) / 64)

  /** [[assignIncremental]] given the snapshot's [[ingestBuckets]] rows.
    * The cap filters the snapshot: only docs of buckets with at most
    * `bucketCap` docs meet the exploded batch, which the planner
    * broadcasts while the snapshot streams (a batch too big to broadcast
    * takes Spark's shuffled join), so over-cap buckets never cross an
    * exchange. Candidates carry the snapshot doc's entity as `id_b`
    * ([[score]] passes it through), so one aggregation over the batch ids
    * and their matches answers every batch doc, with no join back.
    * Batch ids must be unique: a repeated id gets one answer. */
  private[graft] def attachBuckets(snapshot: DataFrame, batch: DataFrame, buckets: DataFrame,
                                   cfg: ErConfig, bucketCap: Int): DataFrame = {
    val home = lenBucket(col("content"))
    val sn = snapshot.select(col("lang"), home.as("bucket"), col("content").as("content_s"),
        length(col("content")).as("len_s"), col("entity"))
      .join(buckets.where(col("gsz") <= bucketCap).select("lang", "bucket"), Seq("lang", "bucket"))
    // |len diff| <= tau spans at most ceil(tau/64) buckets either way
    val r = math.ceil(cfg.tau / 64.0).toInt
    val bt = batch.select(col("id"), col("lang"), col("content"),
      length(col("content")).as("len"),
      explode(array((-r to r).map(home + _): _*)).as("bucket"))
    val cand = bt.join(sn, Seq("lang", "bucket"))
      .where(abs(col("len") - col("len_s")) <= cfg.tau)
    // the candidates keep the snapshot scan's few partitions (few bytes,
    // much WFA work): widen them so scoring runs on every core
    val matches = score(cand.select(col("id").as("id_a"), col("entity").as("id_b"),
        col("content").cast("binary").as("bytes_a"),
        col("content_s").cast("binary").as("bytes_b"))
      .repartition(cand.sparkSession.sparkContext.defaultParallelism * 2), cfg)
      .where(!col("saturated") && col("distance") <= cfg.tau)
    batch.select(col("id"), lit(null).as("m"))
      .unionByName(matches.select(col("id_a").as("id"), col("id_b").as("m")))
      .groupBy("id")
      .agg(coalesce(min("m"), col("id")).as("entity"), count("m").as("n_matches"))
  }

  /** The ingest bucket cap as aggregate expressions over [[ingestBuckets]]
    * rows: (n_buckets_dropped, n_rows_dropped), the observable recall cost
    * of the hot-block policy. ErRunner.runIncremental observes these on the
    * assignment write; [[incrementalDroppedStats]] aggregates them on
    * their own. */
  private[graft] def ingestDroppedPolicy(bucketCap: Int): Seq[Column] = {
    val (buckets, rows) = Buckets.overCap(col("gsz"), bucketCap)
    Seq(buckets.as("n_buckets_dropped"), rows.as("n_rows_dropped"))
  }

  /** Lineage for [[assignIncremental]]'s snapshot-bucket cap (the
    * [[graft.ops.RangeJoin.droppedStats]] shape): how many (lang,
    * length-bucket) groups the cap removed and how many snapshot rows
    * they carried — the row ingest runners write next to the assignment
    * output. One map-side-combinable aggregation of skinny keys
    * ([[ingestBuckets]]) and a global one; never touches content bytes. */
  def incrementalDroppedStats(snapshot: DataFrame, bucketCap: Int): DataFrame = {
    val policy = ingestDroppedPolicy(bucketCap)
    ingestBuckets(snapshot).agg(policy.head, policy.tail: _*)
  }
}
