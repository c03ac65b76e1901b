package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline operators: dedup family, similarity search,
  * text analysis, multimodal plumbing. */
class OpsSpec extends AnyFunSuite with SparkTestBase with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private lazy val docs = {
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 0
      (3L, "completely different content about spark dataframes and shuffles"),
      (4L, "completely different content about spark dataframes and shuffle"), // near dup of 3
      (5L, "unrelated text mentioning wavefront alignment and edit distance"))
    base.toDF("id", "content")
  }

  test("exact dedup groups identical contents only") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 5) // 6 docs, one exact-dup pair
    val dupGroup = out.find(_.getLong(2) == 2L)
    assert(dupGroup.isDefined && dupGroup.get.getLong(1) == 0L) // keep_id = min
  }

  test("minhash LSH finds near-dups, skips unrelated") {
    val pairs = Dedup.minHashPairs(docs, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"exact dup must collide: $pairs")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)), s"near dup: $pairs")
    assert(pairs.contains((3L, 4L)), s"near dup: $pairs")
    assert(!pairs.exists { case (a, b) => (a <= 2 && b == 5) || (a == 5) })
  }

  test("simhash hamming pairs find near-dups (long docs; simhash needs volume)") {
    val base = (1 to 80).map(i => s"token$i").mkString(" ")
    val longDocs = Seq(
      (0L, base),
      (1L, base),                                     // exact dup
      (2L, base.replace("token40", "changed")),       // 1 of 80 tokens changed
      (3L, (1 to 80).map(i => s"other$i").mkString(" "))
    ).toDF("id", "content")
    val pairs = Dedup.simHashPairs(longDocs, maxHamming = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (_, b) => b == 3L })
  }

  test("ngram jaccard: exact dup = 1.0, near dup high, shape matches oracle semantics") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccard(docs, pairs, n = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((0L, 1L)) == 1.0)
    assert(out((0L, 2L)) > 0.5 && out((0L, 2L)) < 1.0)
    assert(out((0L, 5L)) < 0.1)
  }

  test("brute-force cosine topk is exact and deterministic") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
    val top = Similarity.bruteForceTopK(vecs.where(col("vec_id") === 0), vecs, k = 2)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(1L, 2L))
  }

  test("IVF topk: probing every cell equals brute force; partial probe returns full k") {
    val n = 100
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => (sin(col("vec_id") * 37 + i) + lit(2.0))).as("embedding"))
    val q = vecs.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "item_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = rows(Similarity.bruteForceTopK(q, vecs, k = 3))
    val full = rows(Similarity.ivfTopK(q, vecs, k = 3, nCells = 8, nProbe = 8))
    assert(full == brute, "nProbe == nCells must reduce to exact brute force")
    val probed = Similarity.ivfTopK(q, vecs, k = 3, nCells = 8, nProbe = 2)
    assert(probed.count() == 15) // 5 queries x k=3: probed cells hold >= k items
  }

  test("LSH cosine pairs: near-identical vectors share buckets") {
    val n = 50
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => (sin(col("vec_id") * 37 + i) + lit(2.0))).as("embedding"))
    val twin = vecs.select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val all = vecs.unionAll(twin)
    val pairs = Similarity.lshCosinePairs(all, threshold = 0.999, nPlanes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical twins have cosine 1.0 and identical sign bits -> always found
    assert((0L until n).forall(i => pairs.contains((i, i + 1000))))
  }

  test("LSH cosine pairs: subset of brute force at same threshold; no nested-loop join") {
    val n = 60
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => (sin(col("vec_id") * 37 + i) + lit(2.0))).as("embedding"))
    val lsh = Similarity.lshCosinePairs(vecs, threshold = 0.4, nPlanes = 6, nTables = 3)
    // plan discipline (round-2 verdict): the bucketed path must never fall
    // back to a cartesian/broadcast-nested-loop product
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"bucketed LSH path must not contain an all-pairs join:\n$plan")
    val got = lsh.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.embeddingNearDups(vecs, threshold = 0.4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute),
      s"LSH pairs must be exact-cosine-verified: extra=${got diff brute}")
    assert(got.nonEmpty, "LSH should recover at least some near pairs here")
  }

  test("semanticDedup: dup_of is the smallest lower-id same-cluster neighbor; cap and stability") {
    // 60 deterministic vectors + 10 planted scaled copies (cosine ~ 1):
    // the copies must be flagged, the driver-side reference pins the rest
    val base = spark.range(60).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => (sin(col("vec_id") * 37 + i) + lit(2.0))).as("embedding"))
    val twins = base.where(col("vec_id") < 10)
      .select((col("vec_id") + 60).as("vec_id"),
        transform(col("embedding"), x => x * 0.9).as("embedding"))
    val vecs = base.unionAll(twins)
    val got = Dedup.semanticDedup(vecs, k = 4, iters = 2,
        threshold = 0.8, maxCluster = 70)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    // driver-side reference: clusters from the (ann04-pinned) KMeans path,
    // cosine as the same sequential fold CosineEval runs
    val q = KMeans.quantize(vecs)
    val cellOf = KMeans.assign(q, KMeans.train(q, k = 4, iters = 2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vOf = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = vOf.keys.toSeq.sorted
    val expected = ids.map { id =>
      val lower = ids.filter(o => o < id && cellOf(o) == cellOf(id) &&
        cos(vOf(o), vOf(id)) >= 0.8)
      id -> (cellOf(id), lower.headOption)
    }.toMap
    assert(got == expected)
    // every planted twin is flagged against some same-cluster lower id
    assert((60L to 69L).forall(id => got(id)._2.isDefined),
      s"planted copies must be duplicates: ${(60L to 69L).map(got)}")
    assert(got.values.exists(_._2.isEmpty), "kept documents must exist")
    // binding cap: clusters above maxCluster pair nothing -> all kept
    val capped = Dedup.semanticDedup(vecs, k = 4, iters = 2,
        threshold = 0.8, maxCluster = 2)
      .collect()
    assert(capped.forall(_.isNullAt(2)), "over-cap clusters must not pair")
    // partition-invariance (quantized k-means + distinct pairs)
    val re = Dedup.semanticDedup(vecs.repartition(7), k = 4, iters = 2,
        threshold = 0.8, maxCluster = 70)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(re == expected)
  }

  test("simhash: all-whitespace docs hash to 0 and pair with each other (oracle parity)") {
    val d = Seq((0L, "   \n\t "), (1L, " "), (2L, "real content here")).toDF("id", "content")
    val pairs = Dedup.simHashPairs(d, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L))) // both simhash 0L, hamming 0
    assert(graft.core.Hashing.simHash64("  \t", 42L) == 0L)
  }

  test("bucket cap: a mega-bucket is dropped, small buckets pair, lineage counts the loss") {
    // one 1000-member bucket (the shared-boilerplate pathology) + one
    // 3-member bucket; the cap must kill the quadratic bucket entirely
    val rows = spark.range(1000).select(lit("hot").as("key"), col("id"))
      .unionAll(Seq(("cold", 2000L), ("cold", 2001L), ("cold", 2002L)).toDF("key", "id"))
    val pairs = Buckets.cappedSelfJoinPairs(rows, Seq("key"), maxGroup = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2000L, 2001L), (2000L, 2002L), (2001L, 2002L)))
    val dropped = Buckets.droppedStats(rows, Seq("key"), maxGroup = 64).head()
    assert(dropped.getLong(0) == 1L && dropped.getLong(1) == 1000L)
    // empty-input stats stay well-defined (coalesced zeros)
    val none = Buckets.droppedStats(rows, Seq("key"), maxGroup = 2000).head()
    assert(none.getLong(0) == 0L && none.getLong(1) == 0L)
  }

  test("localPairs refuses a bucket over its cap") {
    val cap = 4
    val pairs = Buckets.localPairs[Long]((0L until cap).toVector, cap, identity, (_, _) => true)
    assert(pairs.length == cap * (cap - 1) / 2)
    val ex = intercept[IllegalArgumentException] {
      Buckets.localPairs[Long]((0L to cap).toVector, cap, identity, (_, _) => true)
    }
    assert(ex.getMessage.contains("exceeds the pairing cap"))
  }

  test("dedupSurvivors keeps the min id per near-dup component, singletons intact") {
    val ids = spark.range(1, 13).select(col("id"))
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupSurvivors(ids, pairs).collect().map(_.getLong(0)).toSet
    assert(kept == (1L to 12L).toSet -- Set(2L, 3L, 11L))
  }

  test("cappedSelfJoinPairs equals the naive per-group pair set (randomized)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val n = 40 + rnd.nextInt(60)
      val random = (0 until n).map(i => (s"g${rnd.nextInt(8)}", i.toLong))
      val cap = 3 + rnd.nextInt(10)
      // groups at the cap's edges, with ids shared with the random groups
      // so the pair dedup has work; rows dealt round-robin over 8
      // partitions so every group is merged from partial buffers
      val edges = Seq(cap - 1, cap, cap + 1, 2 * cap).flatMap { size =>
        rnd.shuffle((0L until 200L).toVector).take(size).map(id => (s"e$size", id))
      }
      val rows = random ++ edges
      val df = rnd.shuffle(rows).toDF("key", "id").repartition(8)
      val got = Buckets.cappedSelfJoinPairs(df, Seq("key"), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val naive = rows.groupBy(_._1).values.filter(g => g.size >= 2 && g.size <= cap)
        .flatMap { g =>
          val ids = g.map(_._2)
          for { a <- ids; b <- ids if a < b } yield (a, b)
        }.toSet
      assert(got == naive, s"cap=$cap n=$n")
    }
  }

  test("cappedSelfJoinPairs shuffles twice and joins nothing") {
    val rows = (0 until 40).map(i => (i % 5, i.toLong)) ++ (100 until 200).map(i => (9, i.toLong))
    val pairs = Buckets.cappedSelfJoinPairs(rows.toDF("key", "id"), Seq("key"), maxGroup = 64)
    pairs.collect()
    // the final AQE plan, read after the action
    val plan = pairs.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 2, plan)
    assert(collect(plan) { case e: BroadcastExchangeExec => e }.isEmpty, plan)
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
  }

  test("minhash est_jaccard is the signature match fraction") {
    val out = Dedup.minHashPairs(docs, threshold = 0.0, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((0L, 1L)) == 1.0) // identical content -> identical signature
    out.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
    // est is k/64 by construction
    out.values.foreach(v => assert((v * 64) == math.round(v * 64).toDouble))
  }

  test("text analysis: tokens, quality, langid, fingerprint") {
    val d = Seq((0L, "the cat is on the mat."), (1L, "der hund ist nicht hier"),
      (2L, "???!!!...")).toDF("doc_id", "content")
    val q = TextAnalysis.quality(d).collect().map(r =>
      r.getLong(0) -> (r.getAs[Int]("n_tokens"), r.getAs[Double]("punct_ratio"))).toMap
    assert(q(0L)._1 == 6)
    assert(q(0L)._2 > 0 && q(0L)._2 < 0.1)
    val langs = d.select(col("doc_id"), TextAnalysis.langId(col("content")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(0L) == "en" && langs(1L) == "de" && langs(2L) == "und")
    val fp = d.select(TextAnalysis.fingerprint(col("content"))).collect()
    assert(fp.map(_.getString(0)).distinct.length == 3)
    // normalization: whitespace-insensitive
    val fp2 = Seq(("the  cat   is on the mat.", "the cat is on the mat."))
      .toDF("a", "b")
      .select(TextAnalysis.fingerprint(col("a")).as("fa"),
        TextAnalysis.fingerprint(col("b")).as("fb")).head()
    assert(fp2.getString(0) == fp2.getString(1))
  }

  test("native cosine_sim is bit-identical to the HOF fold; null/mismatch semantics match") {
    val vecs = spark.range(5000).select(
      transform(sequence(lit(0), lit(63)), i => sin(col("id") * (i + 1))).as("a"),
      transform(sequence(lit(0), lit(63)), i => sin(col("id") * (i + 7))).as("b"))
    val diff = vecs.select(
        (Similarity.cosine(col("a"), col("b")) =!=
          Similarity.cosineHof(col("a"), col("b"))).as("d"))
      .where(col("d")).count()
    assert(diff == 0, "native and HOF cosine must be IEEE-identical")
    // zero vector -> 0.0; null element -> null; length mismatch -> null
    val edge = Seq(
      (Array(0.0, 0.0), Array(1.0, 2.0)),
      (Array(1.0, 2.0), Array(1.0, 2.0))).toDF("a", "b")
      .unionByName(Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))))
        .toDF("a", "b"))
    val got = edge.select(Similarity.cosine(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == 0.0)
    assert(math.abs(got(1).getDouble(0) - 1.0) < 1e-12)
    assert(got(2).isNullAt(0))
    val mism = Seq((Array(1.0), Array(1.0, 2.0))).toDF("a", "b")
    assert(mism.select(Similarity.cosine(col("a"), col("b"))).head().isNullAt(0))
    // the round-3-advice corner: length mismatch WITH a zero-norm side.
    // Null rules run before the zero-norm rule on BOTH formulations (the
    // old HOF ordering returned 0.0 here while the native returned null).
    val corner = Seq(
      (Array(0.0), Array(1.0, 2.0)),          // zero-norm + mismatch
      (Array(0.0, 0.0), Array(1.0, 2.0))).toDF("a", "b") // zero-norm, equal len
      .unionByName(Seq((Seq(Some(0.0), Some(0.0)), Seq(Some(1.0), None)))
        .toDF("a", "b"))                      // zero-norm + null element
    val both = corner.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("hof")).collect()
    assert(both(0).isNullAt(0) && both(0).isNullAt(1))
    assert(both(1).getDouble(0) == 0.0 && both(1).getDouble(1) == 0.0)
    assert(both(2).isNullAt(0) && both(2).isNullAt(1))
    // HOF parity on the earlier edge fixture too (zero-vec / exact / null)
    val hofEdge = edge.select(Similarity.cosineHof(col("a"), col("b"))).collect()
    assert(hofEdge(0).getDouble(0) == 0.0)
    assert(math.abs(hofEdge(1).getDouble(0) - 1.0) < 1e-12)
    assert(hofEdge(2).isNullAt(0))
    // stays inside whole-stage codegen (fixture built with array(), not
    // transform — HOF lambdas in the INPUT would break the span themselves)
    val cg = spark.range(100).select(
      array((1 to 8).map(i => sin(col("id") * i)): _*).as("a"),
      array((1 to 8).map(i => sin(col("id") * (i + 7))): _*).as("b"))
    val plan = cg.select(Similarity.cosine(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.trim.startsWith("*("), plan)
  }

  test("repetition: duplicate-3-gram ratio flags boilerplate, spares prose, short docs 0") {
    val d = Seq(
      (0L, "aaa aaa aaa aaa"),                  // grams: 2x "aaa aaa aaa" -> ratio 0.5
      (1L, "one two three four five"),          // 3 distinct grams -> 0.0
      (2L, "ab cd"),                            // < 3 tokens -> no grams, 0.0
      (3L, "x y x y x y x y"))                  // alternation: 6 grams, 2 distinct
      .toDF("id", "content")
    val out = TextAnalysis.repetition(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L) == ((2L, 1L, 0.5)))
    assert(out(1L) == ((3L, 3L, 0.0)))
    assert(out(2L) == ((0L, 0L, 0.0)))
    assert(out(3L) == ((6L, 2L, 4.0 / 6)))
  }

  test("redact: counts on original text, sequential email/URL/phone/IP replacement") {
    val d = Seq(
      (0L, "write to a.b+c@ex-1.org or ops@x.io today"),
      (1L, "docs at https://ex.org/a?b=1 and http://y.z/p"),
      (2L, "mixed bob@ex.com see https://ex.org/d"),
      (3L, "nothing to scrub here"),
      (4L, "call 555-867-5309 or +1 at 800-555-0199 now"),
      (5L, "host 192.168.1.23 and 10.0.0.7 respond"),
      // an IP inside a URL: counted once as IP on the original text, but
      // the URL pass redacts it first — sequential order is the contract
      (6L, "see http://10.0.0.8/x for 555-123-4567")).toDF("id", "content")
    val out = TextAnalysis.redact(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)), r.getString(5))).toMap
    assert(out(0L) == (((2L, 0L, 0L, 0L), "write to <EMAIL> or <EMAIL> today")))
    assert(out(1L) == (((0L, 2L, 0L, 0L), "docs at <URL> and <URL>")))
    assert(out(2L) == (((1L, 1L, 0L, 0L), "mixed <EMAIL> see <URL>")))
    assert(out(3L) == (((0L, 0L, 0L, 0L), "nothing to scrub here")))
    assert(out(4L) == (((0L, 0L, 2L, 0L), "call <PHONE> or +1 at <PHONE> now")))
    assert(out(5L) == (((0L, 0L, 0L, 2L), "host <IP> and <IP> respond")))
    assert(out(6L) == (((0L, 1L, 1L, 1L), "see <URL> for <PHONE>")))
  }

  test("canonicalUrl: fragments, tracking params, host case; path case and real params survive") {
    val cases = Seq(
      // tracking param alone, at start, middle, end of the query
      ("https://ex.org/p?utm_source=f", "https://ex.org/p"),
      ("https://ex.org/p?utm_source=f&id=3", "https://ex.org/p?id=3"),
      ("https://ex.org/p?id=3&utm_medium=m&k=4", "https://ex.org/p?id=3&k=4"),
      ("https://ex.org/p?id=3&fbclid=XyZ123", "https://ex.org/p?id=3"),
      ("https://ex.org/p?gclid=9&utm_campaign=c&utm_term=t", "https://ex.org/p"),
      // fragment dropped, also when combined with tracking params
      ("https://ex.org/p#sec-2", "https://ex.org/p"),
      ("https://ex.org/p?utm_source=f#frag", "https://ex.org/p"),
      ("https://ex.org/p?id=1#frag", "https://ex.org/p?id=1"),
      // scheme+host lowercased; PATH case preserved
      ("HTTPS://WWW.Ex.ORG/CaseSensitive/Path", "https://www.ex.org/CaseSensitive/Path"),
      ("http://CDN3.Example.NET/x?Q=Up", "http://cdn3.example.net/x?Q=Up"),
      // already-canonical urls pass through untouched
      ("https://ex.org/a/b?x=1&y=2", "https://ex.org/a/b?x=1&y=2"),
      ("https://ex.org", "https://ex.org"))
    val got = cases.map(_._1).zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "url")
      .select(col("id"), TextAnalysis.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, exp), i) =>
      assert(got(i.toLong) == exp, s"canonicalUrl($in)")
    }
  }

  test("paragraph spans: cross-doc 8-word windows flagged; remainders and sub-window docs produce none") {
    val w8 = "w0 w1 w2 w3 w4 w5 w6 w7"
    val d = Seq(
      (0L, w8 + " tail0 only"),                  // window 0 shared with doc 1
      (1L, "lead0 " + w8),                       // same 8 words but OFFSET by one -> different window
      (2L, w8 + " different trailing words"),    // window 0 shared with doc 0
      (3L, "a b c d e f g"),                     // 7 words: no windows
      (4L, w8 + " " + w8)                        // windows 0 and 1 both = the shared window
    ).toDF("id", "content")
    val spans = Dedup.paragraphSpans(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // sha of w8 occurs in docs 0, 2, 4 (doc 1's window is shifted)
    assert(spans.toSet == Set((0L, 0L, 3L), (2L, 0L, 3L), (4L, 0L, 3L), (4L, 1L, 3L)))
  }

  test("stripParagraphs matches a driver-side reference (randomized, multi-seed)") {
    val pool = Vector("alpha", "beta", "gamma", "delta", "eps")
    for (seed <- Seq(11, 29)) {
      val rnd = new scala.util.Random(seed)
      // low-entropy docs so 8-word windows genuinely repeat across docs
      val docsSeq = (0L until 40L).map { id =>
        val n = 5 + rnd.nextInt(30)
        id -> Seq.fill(n)(pool(rnd.nextInt(2) + (if (rnd.nextBoolean()) 0 else 1))).mkString(" ")
      }
      val d = docsSeq.toDF("id", "content")
      val spans = Dedup.paragraphSpans(d)
      val got = Dedup.stripParagraphs(d, spans).collect()
        .map(r => r.getAs[Long]("id") ->
          ((r.getAs[Long]("n_words"), r.getAs[Long]("n_kept_words"), r.getAs[String]("stripped")))).toMap
      // reference: windows of 8, boilerplate = window-string in >= 2 docs
      val windows = docsSeq.map { case (id, c) =>
        val ws = c.split(" ", -1)
        id -> (ws, ws.grouped(8).filter(_.length == 8).map(_.mkString(" ")).toVector)
      }.toMap
      val df = windows.toSeq.flatMap { case (id, (_, w)) => w.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).distinct.size }
      val boiler = df.filter(_._2 >= 2).keySet
      docsSeq.foreach { case (id, c) =>
        val ws = c.split(" ", -1)
        val nPar = ws.length / 8
        val kept = (0 until nPar).filterNot(i => boiler(ws.slice(i * 8, i * 8 + 8).mkString(" ")))
          .flatMap(i => ws.slice(i * 8, i * 8 + 8)) ++ ws.drop(nPar * 8)
        val expect = kept.mkString(" ")
        assert(got(id) == ((ws.length.toLong, kept.length.toLong, expect)),
          s"seed $seed doc $id")
      }
    }
  }

  test("ngram contamination: planted copy hits its benchmark source; stop-grams are inert") {
    // bench doc 100 == train doc 0's text; train doc 1 shares only the
    // ubiquitous stop-gram (present in every doc -> filtered by maxGramDf)
    val stop = "the of and"
    val train = Seq(
      (0L, s"alpha beta gamma delta epsilon zeta $stop"),
      (1L, s"totally different content entirely here now $stop"),
      (2L, s"alpha beta gamma other words here $stop")).toDF("id", "content")
    val bench = Seq(
      (100L, s"alpha beta gamma delta epsilon zeta $stop")).toDF("id", "content")
    val out = Dedup.ngramContamination(train, bench, n = 3, minShared = 2, maxGramDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.contains((0L, 100L)), s"full copy must be flagged: $out")
    assert(out((0L, 100L)) >= 4) // many shared rare 3-grams
    assert(!out.keys.exists(_._1 == 1L), s"stop-gram-only overlap must not flag: $out")
    // doc 2 shares exactly one rare gram ("alpha beta gamma") < minShared
    assert(!out.keys.exists(_._1 == 2L), s"single shared gram under minShared: $out")
  }

  test("ngram contamination equals a driver-side reference (randomized, multi-seed)") {
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    for (seed <- Seq(11, 37)) {
      val rnd = new scala.util.Random(seed)
      def doc() = Seq.fill(5 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val train = Seq.tabulate(40)(i => (i.toLong, doc()))
      val bench = Seq.tabulate(8)(i => (100L + i, doc()))
      val (n, minShared, maxDf) = (2, 2, 6)
      def gramsOf(s: String) = {
        val w = s.split(" ")
        if (w.length < n) Set.empty[String]
        else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
      }
      val tg = train.map { case (id, s) => id -> gramsOf(s) }
      val bg = bench.map { case (id, s) => id -> gramsOf(s) }
      val df = (tg ++ bg).flatMap { case (_, gs) => gs.toSeq }
        .groupBy(identity).map { case (g, xs) => g -> xs.size }
      val rare = df.filter(_._2 <= maxDf).keySet
      val expected = (for {
        (ti, tgs) <- tg; (bi, bgs) <- bg if ti != bi
        shared = (tgs intersect bgs intersect rare).size if shared >= minShared
      } yield (ti, bi) -> shared.toLong).toMap
      val got = Dedup.ngramContamination(
          train.toDF("id", "content"), bench.toDF("id", "content"),
          n = n, minShared = minShared, maxGramDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("packChunks: concat-and-chunk positions match a sequential reference; partition-invariant") {
    // doc i has (i % 5 + 1) four-char words -> exactly i % 5 + 1 subwords
    val rows = (0L until 60L).map(i =>
      (i, Seq.fill((i % 5 + 1).toInt)("abcd").mkString(" ")))
    val df = rows.toDF("doc_id", "content")
    val chunk = 7
    val shards = 4
    def run(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.packChunks(d, "doc_id", "content", chunk, shards)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    val got = run(df)
    // sequential reference: shard by the same hash, accumulate in id order
    val expected = rows
      .map { case (i, _) => (i, graft.core.Hashing.splitmix64(i ^ 42L) & (shards - 1L),
        i % 5 + 1) }
      .groupBy(_._2).values.flatMap { g =>
        var cum = 0L
        g.sortBy(_._1).map { case (id, sh, tok) =>
          val start = cum; cum += tok
          (id, sh, tok, start, start / chunk, (cum - 1) / chunk)
        }
      }.toSeq.sortBy(_._1)
    assert(got == expected)
    assert(run(df.repartition(7)) == got, "layout must be partition-invariant")
    // chunks straddle doc boundaries: some doc must span two chunks
    assert(got.exists(r => r._6 > r._5), "with chunk=7 and 1-5 token docs, straddling must occur")
    // zero-token docs are excluded
    val withEmpty = (rows :+ (999L, "   ")).toDF("doc_id", "content")
    assert(run(withEmpty).map(_._1).toSet == rows.map(_._1).toSet)
  }

  test("vocab tokenizer: native kernel, HOF twin, and a blind reference agree (randomized)") {
    // blind reference: the DuckDB-oracle rule stated directly — at each
    // position the advance is max(len) over matching pieces, else 1
    def refWord(w: String, pieces: Seq[String]): Long = {
      var pos = 0; var cnt = 0L
      while (pos < w.length) {
        val m = pieces.filter(p => w.startsWith(p, pos)).map(_.length)
        pos += (if (m.isEmpty) 1 else m.max); cnt += 1
      }
      cnt
    }
    def refText(t: String, pieces: Seq[String]): Long =
      t.trim.split(" +").iterator.filter(_.nonEmpty).map(refWord(_, pieces)).sum
    val vocab = Seq("ab", "abc", "abcd", "b", "ca", "dd", "e")
    val rnd = new scala.util.Random(5)
    val texts = (0L until 80L).map { i =>
      val words = Seq.fill(1 + rnd.nextInt(6))(
        Seq.fill(1 + rnd.nextInt(9))(('a' + rnd.nextInt(5)).toChar).mkString)
      (i, words.mkString(" "))
    } :+ (900L, "") :+ (901L, "   ") :+ (902L, "abcd abcde xyz")
    val d = texts.toDF("id", "content")
    val native = d.select($"id", TextAnalysis.vocabSubwordCount($"content", vocab).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = d.select($"id", TextAnalysis.vocabSubwordCountHof($"content", vocab).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.foreach { case (id, t) =>
      val expect = refText(t, vocab)
      assert(native(id) == expect, s"native id=$id '$t'")
      assert(hof(id) == expect, s"hof id=$id '$t'")
    }
    // longest-match + unknown fallback pinned on a known case:
    // abcd -> 1; abcde -> abcd + e = 2; xyz -> 3 unknown chars
    assert(native(902L) == 6L)
    // probe-based selector resolves the native kernel on this session
    assert(spark.catalog.functionExists("vocab_tokens"))
    // supplementary characters: one surrogate PAIR is one unknown token
    // in BOTH kernels (the native scan walks UTF-16 units but its
    // fallback advances a full codepoint — review finding: an emoji
    // previously counted as 2 there and 1 in the codepoint-based HOF)
    val emoji = Seq((0L, "😀 ab 😀😁")).toDF("id", "content")
    val en = emoji.select(TextAnalysis.vocabSubwordCount($"content", vocab)).head().getLong(0)
    val eh = emoji.select(TextAnalysis.vocabSubwordCountHof($"content", vocab)).head().getLong(0)
    assert(en == 4L && eh == 4L, s"native=$en hof=$eh") // emoji + ab + 2 emoji
    // malformed vocabs are rejected at the API boundary, not silently
    // split by the CSV round-trip (review finding)
    for (bad <- Seq(Seq("a,b"), Seq(" a"), Seq(""), Seq("a😀")))
      intercept[IllegalArgumentException] {
        TextAnalysis.vocabSubwordCount(lit("x"), bad)
      }
  }

  test("packChunks with orderSeed shuffles the concat order; vocab tokens feed the layout") {
    val rows = (0L until 60L).map(i =>
      (i, Seq.fill((i % 5 + 1).toInt)("abcd").mkString(" ")))
    val df = rows.toDF("doc_id", "content")
    val (chunk, shards, oseed) = (7, 4, 7L)
    def run(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.packChunks(d, "doc_id", "content", chunk, shards,
          orderSeed = Some(oseed))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    val got = run(df)
    // reference: same shards, but concat in unsigned splitmix(id^7) order
    val expected = rows
      .map { case (i, _) => (i, graft.core.Hashing.splitmix64(i ^ 42L) & (shards - 1L),
        i % 5 + 1) }
      .groupBy(_._2).values.flatMap { g =>
        var cum = 0L
        g.sortBy { case (id, _, _) =>
          (graft.core.Hashing.splitmix64(id ^ oseed) ^ Long.MinValue, id)
        }.map { case (id, sh, tok) =>
          val start = cum; cum += tok
          (id, sh, tok, start, start / chunk, (cum - 1) / chunk)
        }
      }.toSeq.sortBy(_._1)
    assert(got == expected)
    assert(run(df.repartition(5)) == got, "shuffled layout must be partition-invariant")
    assert(got != TextAnalysis.packChunks(df, "doc_id", "content", chunk, shards)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq,
      "orderSeed must actually permute the layout")
    // vocab-driven token counts flow through: "abcd" = 1 piece in this vocab
    val viaVocab = TextAnalysis.packChunks(df, "doc_id", "content", chunk, shards,
        vocab = Some(Seq("abcd")), orderSeed = Some(oseed))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    assert(viaVocab == got, "a vocab tokenizing abcd to 1 token must match the 4-char stand-in here")
  }

  test("topNgrams: counts, distinct docs, and the deterministic k-boundary") {
    val d = Seq(
      (0L, "a b c a b c x"),   // "a b c" twice (overlapping scan), "b c a", "c a b", "b c x"
      (1L, "a b c d"),
      (2L, "zz zz zz zz")      // "zz zz zz" twice, within one doc
    ).toDF("id", "content")
    val got = TextAnalysis.topNgrams(d, n = 3, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // occurrences: "a b c" = 2 (doc0) + 1 (doc1) = 3 over 2 docs;
    // "zz zz zz" = 2 in 1 doc; ties at 1 broken by gram asc
    assert(got(0) == (("a b c", 3L, 2L)))
    assert(got(1) == (("zz zz zz", 2L, 1L)))
    assert(got(2) == (("b c a", 1L, 1L))) // alphabetically first of the 1s
  }

  test("bm25: matches an independent fixed-order reference; ranking sanity") {
    val docs = Seq(
      (0L, "scan scan scan filter"),
      (1L, "scan filter group"),
      (2L, "merge sort order by"),
      (3L, "group by order")).toDF("id", "content")
    val terms = Seq("scan", "merge")
    val got = Search.bm25(docs, "id", "content", terms).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // independent reference with the SAME operation order (IEEE ops are
    // deterministic, so equality is exact ==, no tolerance)
    val texts = Map(0L -> "scan scan scan filter", 1L -> "scan filter group",
      2L -> "merge sort order by", 3L -> "group by order")
    val dls = texts.view.mapValues(_.split(" ").length.toLong).toMap
    val n = texts.size.toLong
    val avgdl = dls.values.sum.toDouble / n
    def tf(t: String, id: Long) = texts(id).split(" ").count(_ == t).toLong
    def df(t: String) = texts.keys.count(id => tf(t, id) > 0).toLong
    val (k1, b) = (1.2, 0.75)
    texts.keys.foreach { id =>
      val expect = terms.map { t =>
        val tfd = tf(t, id).toDouble
        val dfd = df(t).toDouble
        val idf = (n.toDouble - dfd + 0.5) / (dfd + 0.5)
        idf * (tfd * (k1 + 1.0)) /
          (tfd + k1 * ((1.0 - b) + b * dls(id) / avgdl))
      }.reduce(_ + _)
      assert(got(id)._1 == dls(id))
      assert(got(id)._2 == expect, s"doc $id: ${got(id)._2} != $expect")
    }
    // ranking sanity: the 3x-scan doc beats the 1x-scan doc beats no-scan
    assert(got(0L)._2 > got(1L)._2 && got(1L)._2 > got(3L)._2)
    assert(got(2L)._2 > got(3L)._2) // merge-only doc scores via merge
    // result is partition-invariant (fixed-order column sum, no exploded
    // float aggregation)
    val re = Search.bm25(docs.repartition(7), "id", "content", terms).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    texts.keys.foreach(id => assert(re(id) == got(id)._2))
  }

  test("exactIncremental: snapshot anti-join then in-batch collapse") {
    val batch = Seq(
      (10L, "known content"),      // sha already in the snapshot -> dropped
      (11L, "fresh content"),      // novel, unique
      (12L, "repeated fresh"),     // novel, duplicated in-batch
      (13L, "repeated fresh"),
      (14L, "known content")).toDF("id", "content") // dup of a known -> dropped too
    val known = Seq("known content").toDF("content")
      .select(sha2(col("content"), 256).as("sha"))
    val got = Dedup.exactIncremental(batch, known).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == Map(11L -> 1L, 12L -> 2L))
  }

  test("exactIncrementalBloom == exactIncremental, with a truthful audit bit") {
    import graft.core.Hashing
    // 120 rows over 40 distinct contents (in-batch dup groups of 3);
    // snapshot knows the first 20 contents
    val batch = (0L until 120L).map(i => (i, s"doc content number ${i % 40}"))
      .toDF("id", "content")
    val known = (0 until 20).map(i => s"doc content number $i").toDF("content")
      .select(sha2(col("content"), 256).as("sha"))
    val base = Dedup.exactIncremental(batch, known).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // mBits=64 is deliberately tiny: 20 keys x 3 hashes nearly saturate one
    // word, so false positives MUST occur and the audit bit is non-trivial
    val rows = Dedup.exactIncrementalBloom(batch, known, mBits = 64, kHashes = 3)
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      == base, "bloom gating must not change the survivor set")
    // rebuild the bitmap driver-side and check every audit bit exactly
    var bits = 0L
    known.as[String].collect().foreach { sha =>
      Hashing.bloomPositions(sha, 64, 3, 42L).foreach(p => bits |= 1L << p)
    }
    rows.foreach { r =>
      val expect = Hashing.bloomPositions(r.getString(0), 64, 3, 42L)
        .forall(p => (bits & (1L << p)) != 0L)
      assert(r.getBoolean(3) == expect, s"audit bit for ${r.getString(0)}")
    }
    // survivors are by construction NOT in the snapshot, so a true audit
    // bit is a measured false positive — the snug filter must show some
    assert(rows.exists(_.getBoolean(3)), "expected measurable false positives")
    assert(rows.exists(!_.getBoolean(3)), "expected some definite-new docs")
  }

  test("bloom parameter guards fail fast") {
    val shas = Seq("a").toDF("content").select(sha2(col("content"), 256).as("sha"))
    intercept[IllegalArgumentException](Dedup.bloomBitmap(shas, mBits = 100))
    intercept[IllegalArgumentException](Dedup.bloomBitmap(shas, mBits = 32))
    intercept[IllegalArgumentException](Dedup.bloomBitmap(shas, kHashes = 0))
  }

  test("decontaminate removes exactly the flagged training docs") {
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),  // = bench doc 100 -> flagged
      (1L, "one two three four five six"),          // clean
      (2L, "alpha beta gamma delta nine ten")).toDF("id", "content") // shares rare grams
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("id", "content")
    val survivors = Dedup.decontaminate(train, bench, n = 3, minShared = 2, maxGramDf = 10)
      .select("id").as[Long].collect().toSet
    assert(survivors == Set(1L))
    // and it matches the finder: survivors == train \ flagged
    val flagged = Dedup.ngramContamination(train, bench, 3, 2, 10)
      .select("train_id").as[Long].collect().toSet
    assert(survivors == Set(0L, 1L, 2L) -- flagged)
  }

  test("domainStats: hosts extracted per URL, totals and distinct docs") {
    val d = Seq(
      (0L, "see https://a.example.org/x and http://b.example.net/y"),
      (1L, "again https://a.example.org/z here"),
      (2L, "no urls at all"),
      (3L, "twice https://a.example.org/1 https://a.example.org/2")).toDF("id", "content")
    val got = TextAnalysis.domainStats(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "a.example.org" -> ((4L, 3L)),
      "b.example.net" -> ((1L, 1L))))
  }

  test("rolling fingerprint is deterministic and content-sensitive") {
    val a = TextAnalysis.rollingFingerprint("one two three")
    assert(a == TextAnalysis.rollingFingerprint("one two three"))
    assert(a != TextAnalysis.rollingFingerprint("one two four"))
  }

  test("multimodal: encode -> extract roundtrip, frame sampling shape") {
    val media = Multimodal.synthesizeMedia(docs)
    val meta = Multimodal.extractMeta(media).collect()
      .map(m => m.getAs[Long]("id") -> m).toMap
    assert(meta.size == 6)
    docs.collect().foreach { r =>
      val id = r.getLong(0)
      val m = meta(id)
      assert(m.getAs[Int]("width") == (id % 48 + 16).toInt)
      assert(m.getAs[Int]("height") == (id % 32 + 16).toInt)
      assert(m.getAs[Int]("payload_len") == math.min(r.getString(1).length, 256))
    }
    val frames = Multimodal.sampleFrames(media, everyNth = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_._3.length == 16))
    // corrupt blob fails loudly
    val bad = Seq((99L, Array[Byte](1, 2, 3))).toDF("id", "media")
    intercept[Exception] { Multimodal.extractMeta(bad).collect() }
  }

  test("multimodal quarantine: corrupt blobs route to the sink, good rows survive") {
    val media = Multimodal.synthesizeMedia(docs)
      .unionAll(Seq(
        (98L, Array[Byte](1, 2, 3)),                       // too short
        (99L, Array.fill[Byte](20)(0x55))).toDF("id", "media")) // bad magic
    val tagged = Multimodal.extractMetaTagged(media).cache()
    val good = Multimodal.goodMeta(tagged)
    val quar = Multimodal.quarantined(tagged)
    assert(good.count() == 6 && quar.count() == 2) // no task death
    assert(quar.collect().map(_.getLong(0)).toSet == Set(98L, 99L))
    assert(quar.collect().forall(r => r.getString(1) != null && r.getString(1).nonEmpty))
    // good schema matches the fail-fast extractor's
    assert(good.schema.fieldNames.toSeq ==
      Multimodal.extractMeta(Multimodal.synthesizeMedia(docs)).schema.fieldNames.toSeq)
    tagged.unpersist()
  }
}
