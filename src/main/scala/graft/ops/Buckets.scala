package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Shared bucket-capped self-join used by every LSH family operator
  * (MinHash, SimHash, hyperplane-LSH). Scale discipline (round-1 verdict):
  *  - group sizes via `groupBy(...).count()` — map-side combinable; never
  *    a `count().over(Window)`, which ships every row of a hot key to a
  *    single task with no partial aggregation;
  *  - groups larger than `maxGroup` are dropped outright (the shared-
  *    boilerplate pathology: join work grows as sum(groupSize^2));
  *  - singleton groups are dropped before the join (they produce no pairs
  *    and are the vast majority of buckets);
  *  - only skinny (keys, id) rows ride the self-join shuffle — payloads
  *    (signatures, vectors, content) are re-joined after pair dedup.
  */
object Buckets {

  /** Per-group row counts for `rows` keyed by `keys`. */
  def sizes(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("gsz"))

  /** Lineage of the cap policy: how many groups/rows the `maxGroup` cap
    * drops — observable recall cost, written by pipeline runners. */
  def droppedStats(rows: DataFrame, keys: Seq[String], maxGroup: Int): DataFrame =
    sizes(rows, keys).where(col("gsz") > maxGroup)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_groups_dropped"),
        coalesce(sum("gsz"), lit(0L)).as("n_rows_dropped"))

  /** Distinct (id_a < id_b) pairs co-bucketed under `keys`, skipping groups
    * with more than `maxGroup` members. `rows` must have an `id` column;
    * expect `rows` to be cheap to recompute or cached (it is traversed for
    * sizing and for the grouping pass).
    *
    * Round 6 (guide §2.4): pair generation is a collect_list groupBy plus
    * a task-local i<j loop instead of the old a/b self-join — two fewer
    * exchanges and stages per LSH operator, with identical output (same
    * pair set, same orientation). The collect_list buffer is bounded by
    * `maxGroup` because the eligibility join runs BEFORE the grouping —
    * over-cap (boilerplate) buckets never reach it; per-task pair
    * emission is at most maxGroup*(maxGroup-1)/2 (~2k at the default
    * caps), far under a task's work quantum, so the task-skew argument
    * for join-cell splitting does not apply under a cap. */
  def cappedSelfJoinPairs(rows: DataFrame, keys: Seq[String], maxGroup: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val kc = keys.map(col)
    val eligibleKeys = sizes(rows, keys)
      .where(col("gsz") >= 2 && col("gsz") <= maxGroup)
      .select(kc: _*)
    // eligibleKeys is tiny relative to rows (distinct multi-member buckets
    // only) — AQE turns this into a broadcast join when it fits
    rows.join(eligibleKeys, keys)
      .groupBy(kc: _*)
      .agg(collect_list(col("id")).as("ids"))
      .select($"ids".as[Seq[Long]])
      .flatMap(ids => localPairs[Long](ids, maxGroup, identity, (_, _) => true))
      .toDF("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Task-local normalized pair emission over ONE capped bucket's member
    * list: every i<j pair with distinct ids passing `keep`, oriented
    * (min, max). The single source of the cap-bounded triangle loop —
    * [[cappedSelfJoinPairs]] and Er.candidatePairs both route through it,
    * so the bounded-buffer/orientation invariants live in one place.
    * A bucket of more than `cap` members is a caller bug (its pair
    * buffer would grow quadratically past the cap) and fails loud. */
  private[graft] def localPairs[T](ms: Seq[T], cap: Int, id: T => Long,
                                   keep: (T, T) => Boolean): Seq[(Long, Long)] = {
    val n = ms.length
    require(n <= cap, s"bucket of $n members exceeds the pairing cap $cap")
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](n * (n - 1) / 2)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val a = ms(i); val b = ms(j)
        val ida = id(a); val idb = id(b)
        if (ida != idb && keep(a, b)) {
          out += ((math.min(ida, idb), math.max(ida, idb)))
        }
        j += 1
      }
      i += 1
    }
    out.toSeq
  }

  /** One block as [[CappedMembers]] aggregates it: its member count `n`,
    * and its members' ids and lengths while `n` is at most the cap (empty
    * past it). */
  final case class CappedBlock(n: Long, ids: Array[Long], lens: Array[Int])

  /** Block aggregation with a buffer bounded by construction: counts every
    * (id, len) row of a block, but keeps the members only while the count
    * is at most `cap`, so a mega-block's buffer is a bare count however
    * many rows it has. A partial count never exceeds the block's total, so
    * a block of at most `cap` rows keeps every member through any order of
    * updates and merges. Use through `functions.udaf` so it runs as one
    * map-side-combinable aggregation. */
  final class CappedMembers(cap: Int)
      extends Aggregator[(Long, Int), CappedBlock, CappedBlock] {
    private def countOnly(n: Long) = CappedBlock(n, Array.emptyLongArray, Array.emptyIntArray)
    def zero: CappedBlock = countOnly(0L)
    def reduce(b: CappedBlock, m: (Long, Int)): CappedBlock =
      if (b.n < cap) CappedBlock(b.n + 1, b.ids :+ m._1, b.lens :+ m._2)
      else countOnly(b.n + 1)
    def merge(x: CappedBlock, y: CappedBlock): CappedBlock =
      if (x.n + y.n <= cap) CappedBlock(x.n + y.n, x.ids ++ y.ids, x.lens ++ y.lens)
      else countOnly(x.n + y.n)
    def finish(b: CappedBlock): CappedBlock = b
    def bufferEncoder: Encoder[CappedBlock] = Encoders.product[CappedBlock]
    def outputEncoder: Encoder[CappedBlock] = Encoders.product[CappedBlock]
  }
}
