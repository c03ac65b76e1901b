package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** As-of (temporal point-in-time) join — an operator Spark has no built-in
  * for. For each left row, attach the single most recent right row with
  * the same key whose timestamp is at or before the left row's timestamp
  * (ties on timestamp broken toward the greatest `tieCol`, so the result
  * is deterministic); left rows with no eligible right row keep nulls.
  *
  * Implementation is the union + running-`last` window composition rather
  * than a range join: both sides are tagged and unioned, then one window
  * pass per key (ordered by ts, with right rows sorting before left rows
  * at equal ts for inclusive `>=` semantics) carries the latest right
  * payload forward; left rows read it and drop the tags.
  *
  * Scale shape: exactly ONE shuffle (hash by key) + a per-key sort — the
  * same cost as any window aggregation, with no range-explosion and no
  * per-row probe joins. The right payload rides the shuffle once as a
  * single struct column (whole-row atomicity: a right row with nulls in
  * some payload field can never mix fields with an older right row, which
  * per-column `last(ignoreNulls)` would do). Skew = one hot key's full
  * history in one task; at 100 TB, pre-bucket hot keys by coarse time
  * range and as-of within buckets (the key list is observable from block
  * stats) — the composition below is unchanged.
  */
object AsOf {

  /** @param left     left rows (keys, `tsCol`, any payload)
    * @param right    right rows (keys, `tsCol`, `tieCol`, payload); all
    *                 non-key columns are emitted as `prefix`+name
    * @param keys     equi-join key columns (present on both sides)
    * @param tsCol    event-time column name (both sides; orderable type)
    * @param tieCol   right-side unique tiebreaker (e.g. an event id) —
    *                 greatest wins among equal timestamps
    * @param prefix   prefix for the matched right columns in the output
    * @return left columns + `prefix`-prefixed right payload columns
    *         (null when no right row is at or before the left row) */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, tieCol: String,
               prefix: String = "matched_"): DataFrame = {
    val rightPayload = right.columns.filterNot(keys.contains).toSeq
    val leftOnly = left.columns.filterNot(keys.contains).toSeq
    val clash = leftOnly.toSet.intersect(rightPayload.map(prefix + _).toSet)
    require(clash.isEmpty, s"prefixed right columns collide with left: $clash")
    val payloadType = StructType(rightPayload.map(c => right.schema(c)))

    // a null-ts right row would sort NULLS FIRST and become a matchable
    // "earliest" row for every left row with no true prior match — as-of
    // semantics (and any `ts <= ts` SQL spec) exclude it, so drop it here
    val rightTagged = right.where(col(tsCol).isNotNull).select(
      keys.map(col) ++ Seq(
        col(tsCol).as("_asof_ts"), lit(0).as("_asof_side"),
        col(tieCol).cast(right.schema(tieCol).dataType).as("_asof_tie"),
        struct(rightPayload.map(col): _*).as("_asof_r")) ++
        leftOnly.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val leftTagged = left.select(
      keys.map(col) ++ Seq(
        col(tsCol).as("_asof_ts"), lit(1).as("_asof_side"),
        lit(null).cast(right.schema(tieCol).dataType).as("_asof_tie"),
        lit(null).cast(payloadType).as("_asof_r")) ++
        leftOnly.map(col): _*)

    // right rows (side 0) sort before left rows (side 1) at equal ts, so a
    // right row exactly at the left timestamp IS visible (inclusive as-of);
    // among right rows with equal ts the greatest tie sorts last and wins.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_asof_ts"), col("_asof_side"), col("_asof_tie"))
      .rowsBetween(Window.unboundedPreceding, 0)

    rightTagged.unionByName(leftTagged)
      .withColumn("_asof_r", last(col("_asof_r"), ignoreNulls = true).over(w))
      .where(col("_asof_side") === 1)
      .select(keys.map(col) ++ leftOnly.map(col) ++
        rightPayload.map(c => col(s"_asof_r.$c").as(prefix + c)): _*)
  }

  /** Hot-key variant of [[asofJoin]] (round-3 verdict #3): identical
    * result, but one key's history is SPLIT across (key, time-bucket)
    * window partitions instead of funneling through one task. Three
    * steps, all bounded:
    *  1. per-(key, bucket) right summaries — `max_by((ts, tie, payload),
    *     (ts, tie))`, a map-side-combinable aggregate (one skinny row per
    *     bucket, never the history);
    *  2. boundary stitch — over the tiny summary frame, a running `last`
    *     per key carries "the latest right row of any STRICTLY earlier
    *     bucket" to each left bucket (a summary of bucket b becomes
    *     available at b+1, so in-bucket rows are never duplicated);
    *  3. the [[asofJoin]] union + running-last composition, now
    *     partitioned by (key, bucket), with the carry row injected as one
    *     extra right-tagged row per bucket (its real timestamp keeps the
    *     inclusive `>=` ordering exact).
    * The per-task work bound drops from O(hottest key's history) to
    * O(hottest (key, bucket) + that key's bucket count on the stitch
    * frame). Both sides' `tsCol` must be castable to timestamp
    * (microsecond ordering — exact for timestamp inputs); pick
    * `bucketWidthUs` so a hot key's per-bucket density is task-sized.
    * Default stays [[asofJoin]]: at benign skew one shuffle beats three
    * small ones (measured in SCALING.md's as-of rows — quote the asymmetry).
    * Note the composition reads each input twice (summaries/markers +
    * tagged rows — four pruned scans vs asofJoin's two); for expensive
    * upstream inputs, persist before calling. */
  def asofJoinBucketed(left: DataFrame, right: DataFrame, keys: Seq[String],
                       tsCol: String, tieCol: String, bucketWidthUs: Long,
                       prefix: String = "matched_"): DataFrame = {
    require(bucketWidthUs > 0, "bucketWidthUs must be positive")
    val rightPayload = right.columns.filterNot(keys.contains).toSeq
    val leftOnly = left.columns.filterNot(keys.contains).toSeq
    val clash = leftOnly.toSet.intersect(rightPayload.map(prefix + _).toSet)
    require(clash.isEmpty, s"prefixed right columns collide with left: $clash")
    val payloadType = StructType(rightPayload.map(c => right.schema(c)))
    val tieType = right.schema(tieCol).dataType
    val lastType = StructType(Seq(StructField("_asof_us", LongType),
      StructField("_asof_tie", tieType), StructField("_asof_r", payloadType)))
    val kc = keys.map(col)
    def us(c: Column) = unix_micros(c.cast("timestamp"))
    val bucket = expr(s"_asof_us div ${bucketWidthUs}L")

    // null-ts right rows are excluded exactly as in asofJoin
    val r0 = right.where(col(tsCol).isNotNull)
      .select(kc ++ Seq(us(col(tsCol)).as("_asof_us"),
        col(tieCol).as("_asof_tie"),
        struct(rightPayload.map(col): _*).as("_asof_r")): _*)
      .withColumn("_asof_b", bucket)
    val l0 = left
      .select(kc ++ Seq(us(col(tsCol)).as("_asof_us")) ++ leftOnly.map(col): _*)
      .withColumn("_asof_b", bucket)

    // 1. one summary row per (key, right bucket)
    val summ = r0.groupBy((keys :+ "_asof_b").map(col): _*)
      .agg(max_by(struct(col("_asof_us"), col("_asof_tie"), col("_asof_r")),
        struct(col("_asof_us"), col("_asof_tie"))).as("_asof_last"))

    // 2. stitch: each left bucket reads the latest summary of any earlier
    // bucket (summaries become available at b+1; ties order summaries
    // before markers, and _avail values within a side are distinct per key)
    val sTag = summ.select(kc ++ Seq((col("_asof_b") + 1).as("_avail"),
      lit(0).as("_s"), col("_asof_last")): _*)
    val mTag = l0.select((keys :+ "_asof_b").map(col): _*).distinct()
      .select(kc ++ Seq(col("_asof_b").as("_avail"), lit(1).as("_s"),
        lit(null).cast(lastType).as("_asof_last")): _*)
    val stitchW = Window.partitionBy(kc: _*).orderBy(col("_avail"), col("_s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carry = sTag.unionByName(mTag)
      .withColumn("_carry", last(col("_asof_last"), ignoreNulls = true).over(stitchW))
      .where(col("_s") === 1 && col("_carry").isNotNull)
      .select(kc ++ Seq(col("_avail").as("_asof_b"), col("_carry")): _*)

    // 3. the asofJoin composition per (key, bucket), carry row injected
    val nullLeft = leftOnly.map(c => lit(null).cast(left.schema(c).dataType).as(c))
    val rightTagged = r0.select(
      kc ++ Seq(col("_asof_b"), col("_asof_us"), lit(0).as("_asof_side"),
        col("_asof_tie"), col("_asof_r")) ++ nullLeft: _*)
    val carryTagged = carry.select(
      kc ++ Seq(col("_asof_b"), col("_carry._asof_us").as("_asof_us"),
        lit(0).as("_asof_side"), col("_carry._asof_tie").as("_asof_tie"),
        col("_carry._asof_r").as("_asof_r")) ++ nullLeft: _*)
    val leftTagged = l0.select(
      kc ++ Seq(col("_asof_b"), col("_asof_us"), lit(1).as("_asof_side"),
        lit(null).cast(tieType).as("_asof_tie"),
        lit(null).cast(payloadType).as("_asof_r")) ++ leftOnly.map(col): _*)
    val w = Window.partitionBy((keys :+ "_asof_b").map(col): _*)
      .orderBy(col("_asof_us"), col("_asof_side"), col("_asof_tie"))
      .rowsBetween(Window.unboundedPreceding, 0)

    rightTagged.unionByName(carryTagged).unionByName(leftTagged)
      .withColumn("_asof_r", last(col("_asof_r"), ignoreNulls = true).over(w))
      .where(col("_asof_side") === 1)
      .select(kc ++ leftOnly.map(col) ++
        rightPayload.map(c => col(s"_asof_r.$c").as(prefix + c)): _*)
  }

  /** Advisor for the asofJoin-vs-[[asofJoinBucketed]] choice (round-4
    * verdict #8, making the SCALING.md asymmetry queryable): ONE
    * map-side-combinable aggregation over the union of both sides'
    * (key, ts) rows returns a 1-row frame with the skew facts and a
    * concrete recommendation:
    *
    *  - `max_key_rows` / `mean_key_rows` / `skew_ratio`: is there a hot
    *    key at all? The measured crossover (SCALING.md: one 16M-row key
    *    13-17 s windowed vs 7.3-9.4 s bucketed; benign skew the
    *    opposite) is what `hotKeyThreshold` defaults encode — below it,
    *    use [[asofJoin]] (one shuffle beats three).
    *  - `recommended_bucket_width_us`: the hottest key's time span
    *    divided so its history splits into ~(max_key_rows /
    *    targetRowsPerBucket) buckets — i.e. per-(key, bucket) tasks of
    *    ~`targetRowsPerBucket` rows, clamped to >= 1 bucket.
    *  - `use_bucketed`: the one-bit verdict (skew_ratio >=
    *    hotKeyThreshold AND max_key_rows > 2 * targetRowsPerBucket —
    *    splitting below that just adds the stitch overhead).
    *
    * The aggregation never materializes a history: per key it keeps
    * (count, min ts, max ts), then one tiny max_by reduce. Null-ts rows
    * are ignored (both as-of variants exclude them). */
  def bucketAdvisor(left: DataFrame, right: DataFrame, keys: Seq[String],
                    tsCol: String, targetRowsPerBucket: Long = 1000000L,
                    hotKeyThreshold: Double = 8.0): DataFrame = {
    require(targetRowsPerBucket > 0 && hotKeyThreshold >= 1.0)
    val kc = keys.map(col)
    val both = left.select(kc :+ col(tsCol).as("_adv_ts"): _*)
      .unionByName(right.select(kc :+ col(tsCol).as("_adv_ts"): _*))
      .where(col("_adv_ts").isNotNull)
      .select(kc :+ unix_micros(col("_adv_ts").cast("timestamp")).as("_adv_us"): _*)
    val perKey = both.groupBy(kc: _*).agg(
      count(lit(1)).as("_n"), min("_adv_us").as("_lo"), max("_adv_us").as("_hi"))
    // coalesce everything: on an empty (or all-null-ts) input the global
    // agg still emits ONE row, and the documented one-bit read
    // (getAs[Boolean]("use_bucketed")) must not NPE on a null — empty
    // input is definitionally the no-skew verdict (review finding)
    perKey.agg(
      max("_n").as("max_key_rows"),
      (sum("_n").cast("double") / count(lit(1))).as("mean_key_rows"),
      max_by(struct(col("_n"), (col("_hi") - col("_lo")).as("_span")), col("_n"))
        .as("_hot"))
      .select(
        coalesce(col("max_key_rows"), lit(0L)).as("max_key_rows"),
        coalesce(col("mean_key_rows"), lit(0.0)).as("mean_key_rows"),
        coalesce(col("max_key_rows") / col("mean_key_rows"), lit(1.0)).as("skew_ratio"),
        coalesce(greatest(lit(1L),
          (col("_hot._span") /
            greatest(col("_hot._n").cast("double") / targetRowsPerBucket, lit(1.0))
          ).cast("long")), lit(1L)).as("recommended_bucket_width_us"),
        coalesce(col("max_key_rows") / col("mean_key_rows") >= hotKeyThreshold &&
          col("max_key_rows") > 2L * targetRowsPerBucket, lit(false)).as("use_bucketed"))
  }
}
