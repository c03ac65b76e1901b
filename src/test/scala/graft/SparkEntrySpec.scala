package graft

import graft.pipeline.{Corpus, Er, ErConfig}
import java.io.File
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() returns the clusters of the
  * uncheckpointed stage composition and leaves no work directory; every
  * query runs on sf0.001; oracle keys are a subset of query keys; every
  * registered SQL function has a calling query. (Value-level oracle
  * parity is checked by the driver's DuckDB gate and locally via
  * tools/check_oracle.py.) */
class SparkEntrySpec extends AnyFunSuite with SparkTestBase {

  test("entry: flagship ER pipeline returns non-singleton entities") {
    def workDirs() = new File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith("graft-entry")).toSet
    val before = workDirs()
    val out = SparkEntry.entry(spark)
    assert(workDirs() == before, "entry must delete its work directory")
    val n = out.count()
    assert(n > 0, "flagship must produce clustered entities")
    // planted near-dups: ~100 pairs at sf0.001 -> expect >= 80 clusters
    assert(n >= 80, s"expected >=80 clusters from planted dups, got $n")
    // the uncheckpointed composition of the same stages is the oracle
    val cfg = ErConfig()
    val corpus = Corpus.withDerived(SparkEntry.erInput(spark, "/root/testdata/sf0.001"))
    val scored = Er.score(Er.withContents(Er.candidatePairs(Er.blocks(corpus, cfg), cfg), corpus), cfg)
    val expected = Er.entities(corpus, Er.connectedComponents(Er.edges(scored, cfg)))
      .groupBy("entity").agg(count(lit(1)).as("members"))
      .where(col("members") >= 2)
      .orderBy(col("entity"))
    assert(out.schema == expected.schema)
    assert(out.collect().toSeq == expected.collect().toSeq)
  }

  test("er03 blocking drops a hot length bucket but keeps cold-bucket pairs") {
    import spark.implicits._
    // synthetic documents table: 300 same-lang docs of identical length
    // (one bucket, over the 256 cap) + 3 docs in a far-away length bucket.
    // erInput also plants a trimmed copy of every doc_id % 5 == 0 — keep
    // hot ids off multiples of 5 so the hot bucket stays self-contained
    // (trimmed copies land in the same/adjacent bucket and only add mass).
    val hot = (0 until 300).map(i => (i * 5L + 1, "xx", "h" * 200))
    val cold = Seq((5000L + 1, "xx", "c" * 2000), (5000L + 2, "xx", "c" * 2000),
      (5000L + 3, "xx", "c" * 1990))
    withWorkDir("er03-hot") { dir =>
      (hot ++ cold).toDF("doc_id", "lang", "text")
        .write.parquet(s"$dir/documents.parquet")
      val pairs = SparkEntry.queries("er03_candidates")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the 300-member bucket (44850 would-be pairs) is dropped wholesale;
      // only the 3 cold pairs survive
      assert(pairs == Set((5001L, 5002L), (5001L, 5003L), (5002L, 5003L)),
        s"hot bucket must be capped: got ${pairs.size} pairs")
      SparkEntry.clearFrameCache(spark) // drop the memoized synthetic-dir frames
    }
  }

  test("all queries run on sf0.001 and the oracle map is consistent") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val rows = fn(spark, dir).count()
      withClue(s"$name: ") {
        assert(rows >= 0)
        if (name != "dd05_embedding_neardup") // legitimately small/empty-able
          assert(rows > 0, s"$name returned no rows")
      }
    }
    val unknown = SparkEntry.oracleSql.keySet diff SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracleSql keys without queries: $unknown")
    // since round 2 EVERY query is oracle-checked — no rows-only checks left
    val unoracled = SparkEntry.queries.keySet diff SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"queries without a DuckDB oracle: $unoracled")
    // the driver executes each oracle as ONE statement — no statement
    // separators outside string literals (txt01's punctuation regex
    // legitimately contains ';' inside quotes)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val stripped = sql
        .replaceAll("'(?:[^']|'')*'", "''") // string literals
        .replaceAll("--[^\n]*", "")         // line comments
      assert(!stripped.contains(";"), s"$name oracle must be a single statement")
    }
  }

  test("every function GraftExtensions registers is called by some contract query") {
    val registered = spark.catalog.listFunctions().collect()
      .filter(f => Option(f.className).exists(_.startsWith("graft.expr.")))
      .map(f => f.name -> f.className).toMap
    assert(Set("splitmix64", "cosine_sim", "l2sq_int", "vocab_tokens").subsetOf(registered.keySet),
      registered)
    val called = SparkEntry.queries.values.flatMap { q =>
      q(spark, "/root/testdata/sf0.001").queryExecution.analyzed
        .collectWithSubqueries { case p => p.expressions.flatMap(_.map(_.getClass.getName)) }
        .flatten
    }.toSet
    val unused = registered.filter { case (_, cls) => !called(cls) }
    assert(unused.isEmpty, s"registered but no contract query calls: ${unused.keys}")
  }
}
