package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed Lloyd k-means over INTEGER-QUANTIZED embeddings — the
  * trained-centroid path for [[Similarity.ivfTopK]]'s coarse quantizer
  * (whose doc promises a k-means swap-in; this is it).
  *
  * Why quantized: float k-means is order-of-summation dependent, so its
  * results shift with partitioning and can never have a value-level
  * oracle. Quantizing each coordinate to `floor(x * scale) + shift`
  * (shift chosen so every value is non-negative) makes every step exact
  * BIGINT arithmetic: squared-L2 distances are integer sums, the centroid
  * update is an elementwise floor-division mean (truncating division ==
  * floor for non-negative operands, identical in Spark's `div` and
  * DuckDB's `//`), argmin ties break to the lowest cell id, and empty
  * cells keep their previous centroid. The whole training run is
  * bit-reproducible on any cluster size — and DuckDB-oracle-checkable.
  *
  * Scale shape (the MLlib KMeans pattern): centroids are tiny and ride
  * the plan as literals; assignment is a single zero-shuffle argmin
  * projection (round 6 — see [[assign]]; no cross join, no groupBy, no
  * window over the corpus); the update aggregates (cell, dim) partial
  * sums map-side and collects only k x dim rows per iteration to the
  * driver (k=8, dim=64 -> 512 rows), exactly like MLlib's per-iteration
  * centroid reduce. */
object KMeans {

  /** Quantize `embeddings`(vec_id, embedding: array<float|double>) to
    * (vec_id, qv: array<bigint>) with all-non-negative coordinates.
    * `shift` must exceed `-scale * min(x)`; the default covers |x| < 2. */
  def quantize(embeddings: DataFrame, scale: Int = 1000, shift: Int = 2000): DataFrame =
    embeddings.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * scale).cast("long") + shift).as("qv"))

  /** Integer squared-L2 distance as the pure HOF fold — kept as the
    * extension-free fallback and the exact-parity oracle for the native
    * [[graft.expr.L2SqInt]] (KMeansSpec pins them equal), exactly like
    * [[Similarity.cosineHof]]. The native expression replaces this in the
    * assignment hot loop: the fold pays per-row lambda dispatch + element
    * boxing x k centroids x corpus rows (the shape measured 10.5x slower
    * than codegen for cosine; round-3 verdict #2, recorded in BASELINE.md
    * "Native l2sq_int kernel"). */
  private[ops] def dist2Hof(a: org.apache.spark.sql.Column,
                            b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** Session-aware dist2: native codegen when GraftExtensions is on the
    * session, bit-identical HOF otherwise (the [[Similarity.cosineFor]]
    * convention — both functions register together, so one probe serves). */
  private[ops] def dist2For(spark: SparkSession):
      (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
    if (Similarity.hasNativeFns(spark)) graft.expr.functions.l2sq_int else dist2Hof

  /** Assign every vector to its nearest centroid.
    *
    * Round 6 (guide §2.4 "remove shuffles outright"): the old plan was a
    * k-way broadcast cross join + a full-corpus `groupBy(vec_id)
    * min(struct)` — one exchange of every (qv, d2, cell) row per
    * assignment. But the centroid table is k rows by contract (it is
    * collected to the driver by [[train]] anyway), so the argmin is now a
    * single codegen'd projection over literal centroids:
    * `array_min(array(struct(d2_0, cell_0), ...))` — zero exchanges, zero
    * row replication, identical values (same l2sq kernel, and array_min
    * uses the same lexicographic struct ordering as the old min(struct)
    * aggregate, so the lowest-cell tie-break is preserved bit-for-bit).
    * One row out per input row; vec_ids are unique by contract (the old
    * groupBy shape would have silently collapsed duplicate ids instead).
    * @param quantized (vec_id, qv) from [[quantize]]
    * @param centroids (cell: bigint, cv: array<bigint>) — k rows, tiny
    * @return (vec_id, cell, dist2) */
  def assign(quantized: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cell").cast("long"), col("cv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    assignLiteral(quantized, cents)
  }

  /** The literal-centroid argmin as a single Column ([[assign]]'s
    * scaladoc): array_min over k (d2, cell) structs built against literal
    * centroid vectors — the ONE place the bit-identity-pinned argmin
    * expression is constructed (assign and train's iteration both use it). */
  private def bestCentroidExpr(spark: SparkSession,
                               cents: Array[(Long, Array[Long])]) = {
    require(cents.nonEmpty, "no centroids to assign against")
    val dist2 = dist2For(spark)
    array_min(array(cents.map { case (cell, cv) =>
      struct(dist2(col("qv"), typedLit(cv.toSeq)).as("d2"), lit(cell).as("cell"))
    }.toSeq: _*))
  }

  private def assignLiteral(quantized: DataFrame,
                            cents: Array[(Long, Array[Long])]): DataFrame = {
    val best = bestCentroidExpr(quantized.sparkSession, cents)
    quantized.select(col("vec_id"), best.getField("cell").as("cell"),
      best.getField("d2").as("dist2"))
  }

  /** Train `k` centroids with `iters` Lloyd iterations. Init = the `k`
    * lowest-vec_id vectors (deterministic, the same convention as
    * [[Similarity.ivfTopK]]'s training-free cells; k-means|| seeding
    * would slot in here without touching the iteration).
    *
    * Scale shape per iteration (round 6): exactly ONE scan of the corpus
    * through the zero-shuffle literal-centroid argmin projection (see
    * [[assign]]); the only exchange is the skinny map-side-combinable
    * (cell, pos) partial-sum aggregation, and only k x dim rows reach the
    * driver. The input is persisted for the run when the caller hasn't
    * already done so (released on exit) — at 100 TB that is `iters`
    * cached passes instead of `2 x iters` source re-reads.
    * @return (cell: bigint, cv: array<bigint>) */
  def train(quantized: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = quantized.sparkSession
    import spark.implicits._
    val ownPersist = quantized.storageLevel == StorageLevel.NONE
    val q = if (ownPersist) quantized.persist(StorageLevel.MEMORY_AND_DISK)
            else quantized
    try {
      var cents: Array[(Long, Array[Long])] =
        q.orderBy("vec_id").limit(k).select("qv").as[Array[Long]]
          .collect().zipWithIndex.map { case (v, i) => (i.toLong, v) }
      require(cents.length == k, s"corpus has ${cents.length} < k=$k vectors")
      for (_ <- 1 to iters) {
        // round 6: assignment is the literal-centroid argmin projection
        // (see [[assign]]) — the old crossJoin + groupBy(vec_id) shape
        // exchanged the full (qv, d2, cell) corpus once per iteration;
        // now the only exchange per iteration is the skinny (cell, pos)
        // partial-sum aggregation (map-side combinable, k x dim rows out)
        val sums = assignLiteralWithQv(q, cents)
          .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
          .groupBy("cell", "pos")
          // floor-division mean: all coords non-negative, so truncation ==
          // floor; `div` is Spark's integral division (no ANSI float detour)
          .agg(expr("sum(v) div count(*)").as("m"))
          .select(col("cell").as[Long], col("pos").as[Int], col("m").as[Long])
          .collect()
        val updated = sums.groupBy(_._1).map { case (cell, rs) =>
          cell -> rs.sortBy(_._2).map(_._3) }
        cents = cents.map { case (cell, old) => (cell, updated.getOrElse(cell, old)) }
      }
      centroidFrame(spark, cents)
    } finally {
      // the returned frame is driver-local (collected centroids) — safe
      // to release the corpus cache before the caller uses it
      if (ownPersist) { q.unpersist(blocking = false); () }
    }
  }

  /** [[assignLiteral]] keeping the quantized vector on the row (for the
    * in-iteration centroid update; vec_ids are unique by contract so the
    * row sets match the old groupBy(vec_id) shape exactly). */
  private def assignLiteralWithQv(quantized: DataFrame,
                                  cents: Array[(Long, Array[Long])]): DataFrame = {
    val best = bestCentroidExpr(quantized.sparkSession, cents)
    quantized.select(best.getField("cell").as("cell"), col("qv"))
  }

  private def centroidFrame(spark: SparkSession,
                            cents: Array[(Long, Array[Long])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.toDF("cell", "cv")
  }

  /** Map trained quantized centroids back to embedding space for
    * [[Similarity.ivfTopK]]: (cell, cv: array<bigint>) ->
    * (cent_id, cv: array<double>) with cv_d = (cv - shift) / scale.
    * Each step is one exact-integer-to-double conversion and one IEEE
    * division — bit-identical in the DuckDB oracle's
    * `CAST(cv[i] - shift AS DOUBLE) / scale`. */
  def dequantizeCentroids(centroids: DataFrame,
                          scale: Int = 1000, shift: Int = 2000): DataFrame =
    centroids.select(col("cell").as("cent_id"),
      transform(col("cv"), x => (x - shift).cast("double") / scale).as("cv"))

  /** Deterministic initial centroids as a DataFrame (for callers that
    * want the untrained init, e.g. oracle mirrors): the `k` lowest-vec_id
    * quantized vectors, cells numbered 0..k-1 in vec_id order. */
  def initCentroids(quantized: DataFrame, k: Int): DataFrame = {
    val w = Window.orderBy("vec_id")
    quantized.orderBy("vec_id").limit(k)
      .withColumn("cell", (row_number().over(w) - 1).cast("long"))
      .select(col("cell"), col("qv").as("cv"))
  }
}
