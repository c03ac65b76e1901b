package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The block cap, in one place: the one capped grouping and the one pair
  * loop behind every candidate-pair generator — the LSH family operators
  * (MinHash, SimHash, hyperplane-LSH, SemDeDup cells) through
  * [[cappedSelfJoinPairs]], ER blocking through Er.candidatePairs.
  * Scale discipline (round-1 verdict):
  *  - one map-side-combinable aggregation per group ([[cappedGroups]]):
  *    its buffer is the group's count, plus its members only while the
  *    count is at most the cap — never a `count().over(Window)`, which
  *    ships every row of a hot key to a single task with no partial
  *    aggregation;
  *  - groups larger than the cap are dropped outright (the shared-
  *    boilerplate pathology: pair work grows as sum(groupSize^2)), and a
  *    dropped group costs its count, not its members;
  *  - only skinny (keys, id, len) rows ride the aggregation shuffle —
  *    payloads (signatures, vectors, content) are re-joined after pair
  *    dedup.
  */
object Buckets {

  /** Per-group row counts for `rows` keyed by `keys`. */
  def sizes(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("gsz"))

  /** Lineage of the cap policy: how many groups/rows the `maxGroup` cap
    * drops — observable recall cost, written by pipeline runners. */
  def droppedStats(rows: DataFrame, keys: Seq[String], maxGroup: Int): DataFrame = {
    val (groups, dropped) = overCap(col("gsz"), maxGroup)
    sizes(rows, keys).agg(groups.as("n_groups_dropped"), dropped.as("n_rows_dropped"))
  }

  /** The cap policy's recall cost as two aggregates over one row per
    * group, `size` being its member count: the groups over `cap`, and the
    * rows they carry (bigint, 0 when no group is over). Every dropped-mass
    * lineage row (ER blocks, ingest buckets, [[droppedStats]]) is these
    * two under its own names. */
  private[graft] def overCap(size: Column, cap: Int): (Column, Column) = {
    val over = size > cap
    (count(when(over, 1L)), coalesce(sum(when(over, size)), lit(0L)))
  }

  /** Distinct (id_a < id_b) pairs co-bucketed under `keys`, skipping groups
    * with more than `maxGroup` members. `rows` must have an `id` column
    * (any integral type); it is read once.
    *
    * The LSH operators' form of the shared path: [[groupPairs]] over
    * [[cappedGroups]] with every length 0 and no length rule — two
    * exchanges (the per-group aggregation and the pair dedup), no join. */
  def cappedSelfJoinPairs(rows: DataFrame, keys: Seq[String], maxGroup: Int): DataFrame =
    groupPairs(cappedGroups(rows.withColumn("len", lit(0)), keys, maxGroup),
      maxGroup, (_, _) => true)

  /** One row per group of `rows` under `keys`: the keys, the member count
    * `n`, and the members' `ids` and `lens` while `n` is at most `cap`
    * (empty past it; see [[CappedMembers]]). One map-side-combinable
    * aggregation over (id, len); `rows` needs `id` and `len` columns. */
  def cappedGroups(rows: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val members = udaf(new CappedMembers(cap),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt))
    rows.groupBy(keys.map(col): _*)
      .agg(members(col("id").cast("long"), col("len")).as("g"))
      .select(keys.map(col) :+ col("g.*"): _*)
  }

  /** Distinct (id_a < id_b) pairs of the [[cappedGroups]] rows: the
    * task-local pair loop ([[localPairs]]) over every group of 2..cap
    * members, keeping a pair when `keep` holds for its two lengths, then
    * the pair dedup (a pair co-grouped under several keys is emitted once
    * per group). */
  def groupPairs(groups: DataFrame, cap: Int, keep: (Int, Int) => Boolean): DataFrame = {
    val spark = groups.sparkSession
    import spark.implicits._
    groups.where(col("n") >= 2 && col("n") <= cap)
      .select($"ids".as[Array[Long]], $"lens".as[Array[Int]])
      .flatMap { case (ids, lens) =>
        localPairs[Int](ids.indices, cap, ids(_), (i, j) => keep(lens(i), lens(j)))
      }
      .toDF("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Task-local normalized pair emission over ONE capped group's member
    * list: every i<j pair with distinct ids passing `keep`, oriented
    * (min, max). The one cap-bounded triangle loop, run by [[groupPairs]];
    * per task it emits at most cap*(cap-1)/2 pairs per group (~2k at the
    * default caps), far under a task's work quantum, so join-cell
    * splitting buys nothing under a cap. A group of more than `cap`
    * members is a caller bug (its pair buffer would grow quadratically
    * past the cap) and fails loud. */
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

  /** One group (an ER block, an LSH bucket) as [[CappedMembers]]
    * aggregates it: its member count `n`, and its members' ids and
    * lengths while `n` is at most the cap (empty past it). */
  final case class CappedBlock(n: Long, ids: Array[Long], lens: Array[Int])

  /** Group aggregation with a buffer bounded by construction: counts every
    * (id, len) row of a group, but keeps the members only while the count
    * is at most `cap`, so a mega-group's buffer is a bare count however
    * many rows it has. A partial count never exceeds the group's total, so
    * a group of at most `cap` rows keeps every member through any order of
    * updates and merges. Runs through `functions.udaf` in [[cappedGroups]]
    * as one map-side-combinable aggregation. */
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
