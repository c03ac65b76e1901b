package erbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def bytes(c: GenCorpus): Seq[(Long, String, String, String, String, String, Long)] =
    c.docs.toSeq.map(d => (d.id, d.repo, d.path, d.commit, d.lang, d.content, d.group))

  test("corpus: the same seed gives the same bytes, another seed other bytes") {
    assert(bytes(Gen.corpus(7, 2000)) == bytes(Gen.corpus(7, 2000)))
    assert(bytes(Gen.corpus(7, 2000)) != bytes(Gen.corpus(8, 2000)))
  }

  test("corpus: planted shape (sizes, long tail, hot files over the block cap, dense buckets over the ingest cap)") {
    val c = Gen.corpus(3, 4000)
    assert(c.docs.length >= 4000 && c.docs.length < 4010)
    assert(c.docs.map(_.id).toSet.size == c.docs.length)
    val lens = c.docs.map(_.content.length).sorted
    assert(lens.head >= 50 && lens.last <= 8100) // mutations move lengths a little
    assert(lens(lens.length * 9 / 10) > 2 * lens(lens.length / 2), "file lengths should be long-tailed")
    val groups = c.docs.groupBy(_.group)
    c.hot.foreach(g => assert(groups(g).length > 64))
    val buckets = c.docs.groupBy(d => (d.lang, d.content.length / 64)).map { case (k, v) => k -> v.length }
    c.dense.foreach(k => assert(buckets(k) > 256))
    assert(c.docs.count(_.repo == "mega/monorepo") > c.docs.length / 5)
    assert(c.docs.forall(_.content.forall(ch => ch < 128)))
  }

  test("copies in a planted group stay within the match threshold of each other") {
    val c = Gen.corpus(11, 1500)
    val multi = c.docs.groupBy(_.group).values.filter(g => g.length > 1 && g.length < 20).take(50)
    multi.foreach { g =>
      val a = g.head.content.getBytes("US-ASCII")
      g.tail.foreach(d => assert(Checks.bandedDistance(a, d.content.getBytes("US-ASCII"), 64) <= 2 * Gen.DupEdits))
    }
  }

  test("align pairs: deterministic, ACGT, 100 to 500 bases, some saturate at the band") {
    val a = Gen.alignPairs(5, 3000)
    assert(a.sameElements(Gen.alignPairs(5, 3000)))
    assert(!a.sameElements(Gen.alignPairs(6, 3000)))
    assert(a.forall { case (p, _) => p.length >= 100 && p.length <= 500 })
    assert(a.forall { case (p, t) => (p + t).forall("ACGT".contains(_)) })
    val d = a.map { case (p, t) => Checks.bandedDistance(p.getBytes, t.getBytes, 64) }
    assert(d.count(_ >= 64) > 0 && d.count(_ < 64) > a.length / 2)
    assert(d.filter(_ < 64).distinct.length > 40, "distances should spread across the band")
  }

  test("crawl batches: deterministic per (seed, index), planted mix, disjoint ids") {
    val snap = Gen.corpus(2, 1500)
    def b(i: Int) = Gen.crawl(2, i, snap, 400, 1L << 40)
    assert(b(0).toSeq == b(0).toSeq)
    assert(b(0).toSeq != b(1).toSeq)
    val kinds = b(0).groupBy(_._2.kind).map { case (k, v) => k -> v.length }
    assert(kinds.keySet == Set("hot", "exact", "copy", "near", "new"))
    assert(b(0).forall { case (d, p) => (p.group >= 0) == Set("hot", "exact", "copy")(p.kind) })
    assert(b(0).forall { case (d, p) => p.kind != "exact" || snap.docs.exists(_.content == d.content) })
    assert(b(0).map(_._1.id).toSet.size == 400 && b(0).forall(_._1.id >= (1L << 40)))
  }

  test("seq file: reference line-pair format") {
    val f = java.nio.file.Files.createTempFile("pairs", ".seq")
    try {
      Gen.writeSeqFile(Array(("ACG", "AG"), ("T", "TT")), f)
      assert(new String(java.nio.file.Files.readAllBytes(f), "US-ASCII") == ">ACG\n<AG\n>T\n<TT\n")
    } finally java.nio.file.Files.delete(f)
  }
}
