package graft.ops

import graft.core.Hashing
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  * Brute-force exact cosine as the correctness baseline; hyperplane-LSH
  * bucketing as the scale path (bounded candidate sets instead of the
  * full cross product). All vector math stays in codegen'd built-ins
  * (`zip_with`/`aggregate`) — no UDFs. */
object Similarity {

  /** Cosine similarity of two array<double> columns (0 for zero vectors;
    * null on null elements or length mismatch). Since round 3 this is
    * the native codegen'd [[graft.expr.CosineSim]] expression — the HOF
    * fold it replaces paid per-row lambda dispatch and element boxing
    * (measured 1.1M vs 6.4M rows/s at dim 64; see BASELINE.md) with
    * bit-identical IEEE results (same sequential accumulation). Requires
    * [[graft.expr.GraftExtensions]] on the session, like the sampling
    * gate. [[cosineHof]] remains as the pure-built-in parity oracle. */
  def cosine(a: Column, b: Column): Column =
    graft.expr.functions.cosine_sim(a, b)

  /** The pure higher-order-function formulation (aggregate/zip_with) —
    * kept as the extension-free fallback and the exact-parity oracle for
    * the native expression (OpsSpec pins cosine == cosineHof). Null
    * propagation deliberately mirrors [[graft.expr.CosineEval]] in EVERY
    * corner: length mismatch or any null element -> null BEFORE the
    * zero-norm -> 0.0 rule is consulted (a round-3 review found the old
    * zero-norm-first ordering returned 0.0 where the native expression
    * returns null, e.g. a=[0.0] vs b=[1.0, 2.0]). Each accumulator is its
    * own sequential fold, so surviving values are IEEE-bit-identical. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
    val na2 = aggregate(a, lit(0.0d), (acc, v) => acc + v * v)
    val nb2 = aggregate(b, lit(0.0d), (acc, v) => acc + v * v)
    when(size(a) =!= size(b) || dot.isNull, lit(null).cast("double"))
      .otherwise(when(na2 === 0.0 || nb2 === 0.0, 0.0)
        .otherwise(dot / (sqrt(na2) * sqrt(nb2))))
  }

  /** Session-aware cosine: the native codegen expression when
    * [[graft.expr.GraftExtensions]] is on the session, else the
    * bit-identical [[cosineHof]] fallback — so library callers on a
    * vanilla session get correct (if slower) results instead of Spark's
    * generic UNRESOLVED_ROUTINE analysis error (round-3 advice). BOTH
    * kernel functions are probed (a session with a foreign UDF that
    * happens to be named cosine_sim must not be mistaken for a graft
    * session and then fail on l2sq_int). Deliberately NOT memoized: the
    * probe is a driver-side catalog lookup at plan-construction time,
    * and a session-keyed cache would pin stopped sessions for the JVM's
    * life (round-4 review). */
  private[ops] def hasNativeFns(spark: SparkSession): Boolean =
    spark.catalog.functionExists("cosine_sim") &&
      spark.catalog.functionExists("l2sq_int")
  def cosineFor(spark: SparkSession): (Column, Column) => Column =
    if (hasNativeFns(spark)) cosine else cosineHof

  /** Exact brute-force top-k: for each query vector, the k most cosine-
    * similar corpus vectors. The query side should be small (broadcast);
    * the corpus side streams. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val cos = cosineFor(corpus.sparkSession)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("item_id"), col("embedding").as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("item_id"))
      .select(col("query_id"), col("item_id"), cos(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("item_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** IVF-flat approximate top-k (the inverted-file ANN scale path): the
    * corpus is coarse-quantized into `nCells` cells — centroids default
    * to the `nCells` lowest-id corpus vectors (deterministic,
    * training-free, seed-stable), or pass `centroids`(cent_id, cv) from
    * [[KMeans.train]] via [[KMeans.dequantizeCentroids]] for trained
    * cells (ann05 wires exactly that) — and each query searches only its
    * `nProbe` most-similar cells instead of the whole corpus.
    *
    * Scale shape: the centroid table is tiny and broadcast to both
    * assignment cross-joins; cell assignment reduces via a map-side-
    * combinable groupBy max(struct) argmax (no window over the corpus);
    * the probe is an equi-join on cell id, so per-query work is bounded
    * by the probed cells' sizes. With nProbe == nCells this is exactly
    * bruteForceTopK (property-tested).
    *
    * @param nCells cell count for the DEFAULT lowest-id centroids; when
    *   `centroids` is supplied the actual cell count is that frame's row
    *   count and `nCells` has no effect — size `nProbe` against the
    *   supplied frame, not this parameter. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 2,
              centroids: Option[DataFrame] = None): DataFrame = {
    val cos = cosineFor(corpus.sparkSession)
    val cents = centroids.getOrElse(corpus.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv")))
    // corpus cell assignment: argmax_centroid cosine, ties to lowest cent_id
    val asgn = corpus.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"),
        cos(col("embedding"), col("cv")).as("sim"), col("cent_id"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("cent_id")).as("negc"))).as("best"),
        first("embedding").as("embedding"))
      .select(col("vec_id").as("item_id"), (-col("best.negc")).as("cell"),
        col("embedding").as("iv"))
    // query probe list: the nProbe most-similar cells per query
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("cent_id"))
    val qcells = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"),
        cos(col("qv"), col("cv")).as("sim"), col("cent_id"))
      .withColumn("rk", row_number().over(probeW))
      .where(col("rk") <= nProbe)
      .select(col("query_id"), col("qv"), col("cent_id").as("cell"))
    val rankW = Window.partitionBy("query_id").orderBy(col("cos").desc, col("item_id"))
    qcells.join(asgn, "cell")
      .where(col("query_id") =!= col("item_id"))
      .select(col("query_id"), col("item_id"), cos(col("qv"), col("iv")).as("cos"))
      .withColumn("rank", row_number().over(rankW))
      .where(col("rank") <= k)
  }

  /** Multi-table random-hyperplane LSH near-neighbor pairs (Charikar,
    * STOC'02): each of `nTables` independent tables assigns every vector a
    * bucket of `nPlanes` dot-product sign bits; candidates are vectors
    * co-bucketed in ANY table (union raises recall like MinHash banding),
    * then the exact cosine filter runs on deduped pairs only.
    *
    * Scale shape (round-1 verdict): skinny (tbl, bucket, id) rows ride the
    * capped grouping — embeddings are re-joined after pair dedup; buckets
    * above `maxBucket` members keep only their count in the map-side-
    * combinable aggregation and never reach the pair loop
    * ([[Buckets.cappedSelfJoinPairs]]), so one degenerate bucket cannot
    * go quadratic. Bucket
    * bits come from [[graft.core.Hashing.hyperplaneBucket]] (splitmix64
    * components, sequential-fold dots) so the DuckDB oracle reproduces
    * bucket assignment bit-for-bit. */
  def lshCosinePairs(embeddings: DataFrame, threshold: Double,
                     nPlanes: Int = 8, seed: Long = 42L,
                     nTables: Int = 1, maxBucket: Int = 256): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bucketed = embeddings
      .select(col("vec_id").as[Long], col("embedding").as[Array[Double]])
      .flatMap { case (id, v) =>
        Iterator.tabulate(nTables) { t =>
          (id, t, Hashing.hyperplaneBucket(v, nPlanes, Hashing.tableSeed(seed, t)))
        }
      }
      .toDF("id", "tbl", "bucket")
    val pairs = Buckets.cappedSelfJoinPairs(bucketed, Seq("tbl", "bucket"), maxBucket)
    val va = embeddings.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val vb = embeddings.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        cosineFor(embeddings.sparkSession)(col("va"), col("vb")).as("cos"))
      .where(col("cos") >= threshold)
  }
}
