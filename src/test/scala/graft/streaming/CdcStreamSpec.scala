package graft.streaming

import graft.SparkTestBase
import graft.ops.Cdc
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming CDC merge: the last emitted winner per key must equal the
  * batch [[Cdc.mergeLatest]] fold of the same change log, across
  * micro-batches, with delete tombstones blocking late resurrection. */
class CdcStreamSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def runStream(batches: Seq[Seq[CdcStream.Change]], name: String)
      : Map[Long, (Long, String, String)] = withWorkDir(s"cdc-$name") { dir =>
    batches.zipWithIndex.foreach { case (rows, i) =>
      val p = s"$dir/b$i"
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(p)
      new java.io.File(p).listFiles().foreach(_.setLastModified(1000000L * (i + 1)))
    }
    val src = spark.readStream
      .schema(spark.read.parquet(s"$dir/b0").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*").as[CdcStream.Change]
    val q = CdcStream.mergeLatestStreaming(src)
      .writeStream.outputMode("update")
      .format("memory").queryName(s"cdc_$name")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    if (batches.size > 1)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2, "expected >= 2 micro-batches")
    // memory sink in update mode appends every per-batch update; a key's
    // winner only moves UP in (seq, op, payload) rank, so the final state
    // is the per-key max — no reliance on sink row order
    spark.table(s"cdc_$name").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getString(3)))
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
  }

  private def batchFold(changes: Seq[CdcStream.Change]): Map[Long, (Long, String, String)] =
    changes.groupBy(_.key).map { case (k, rows) =>
      val w = rows.maxBy(c => (c.seq, c.op, c.payload))
      k -> (w.seq, w.op, w.payload)
    }

  test("randomized change log across 3 micro-batches equals the batch fold") {
    val rnd = new scala.util.Random(5)
    val log = (0 until 240).map { i =>
      CdcStream.Change(rnd.nextInt(40).toLong, (rnd.nextInt(5) + 1).toLong,
        if (rnd.nextInt(4) == 0) "D" else "U", s"p$i")
    }
    val got = runStream(log.grouped(80).toSeq, "rand")
    assert(got == batchFold(log))
    // and the live winners match the BATCH OPERATOR on the same log
    // (empty snapshot; payload rides as the single payload column)
    val snap = Seq.empty[(Long, Long, String)].toDF("key", "seq", "payload")
    val chg = log.map(c => (c.key, c.seq, c.payload, c.op))
      .toDF("key", "seq", "payload", "op")
    val opExp = Cdc.mergeLatest(snap, chg, "key", "seq").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val gotLive = got.filter(_._2._2 != "D").map { case (k, (seq, _, p)) => k -> (seq, p) }
    assert(gotLive == opExp)
  }

  test("delete tombstone blocks a late lower-seq upsert across batches") {
    val b1 = Seq(CdcStream.Change(1L, 5L, "D", ""))
    val b2 = Seq(CdcStream.Change(1L, 3L, "U", "late"), CdcStream.Change(2L, 1L, "U", "x"))
    val got = runStream(Seq(b1, b2), "tomb")
    assert(got(1L) == ((5L, "D", "")), "late upsert must not resurrect the tombstone")
    assert(got(2L) == ((1L, "U", "x")))
  }
}
