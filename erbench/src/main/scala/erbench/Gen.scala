package erbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** SplitMix64 stream: the benchmark's own RNG, so its inputs depend only on
  * the seed and never on code under test. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(bound: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), bound.toLong).toInt
  def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextGaussian(): Double =
    math.sqrt(-2.0 * math.log(1.0 - nextDouble())) * math.cos(2 * math.Pi * nextDouble())
}

object Rng {
  /** An independent stream per (seed, purpose, index). */
  def of(seed: Long, stream: Long, index: Long = 0L): Rng =
    new Rng(seed * 0x632BE59BD9B4E019L ^ stream * 0x9E3779B97F4A7C15L ^ index * 0xD1B54A32D192ED03L)
}

/** One file of a generated source-code corpus. `group` is the planted
  * label: rows sharing it are copies of one file. */
final case class Doc(id: Long, repo: String, path: String, commit: String,
                     lang: String, content: String, group: Long)

/** @param docs   corpus rows in shuffled order
  * @param hot    planted groups copied into more rows than the block cap
  * @param dense  (lang, 64-byte length bucket) keys planted above the
  *               ingest bucket cap */
final case class GenCorpus(docs: Array[Doc], hot: Set[Long], dense: Set[(String, Int)]) {
  def contentBytes: Long = docs.iterator.map(_.content.length.toLong).sum
}

object Gen {

  val Langs: Array[String] = Array("scala", "java", "py", "c", "go")
  private val Words: Array[String] = Array(
    "def", "val", "var", "class", "object", "return", "if", "else", "for",
    "while", "match", "case", "import", "package", "new", "null", "true",
    "false", "int", "long", "string", "map", "filter", "fold", "reduce",
    "self", "this", "static", "public", "private", "final", "func", "struct",
    "buffer", "stream", "write", "read", "hash", "join", "group", "sort")
  private val Punct: Array[String] = Array("(", ")", "{", "}", "[", "]", ";", ",", ".", "=", " + ", " == ")

  /** Code-like ASCII text of exactly `len` bytes: keywords, identifiers
    * from a long-tailed pool, punctuation and indented lines. */
  def code(rng: Rng, len: Int): String = {
    val sb = new java.lang.StringBuilder(len + 32)
    while (sb.length < len) {
      rng.nextInt(10) match {
        case 0 | 1 | 2 | 3 => sb.append(Words(rng.nextInt(Words.length)))
        case 4 | 5 | 6 => sb.append("x").append(rng.nextInt(20000))
        case 7 | 8 => sb.append(Punct(rng.nextInt(Punct.length)))
        case _ => sb.append('\n').append("    ", 0, 4 * rng.nextInt(2))
      }
      sb.append(' ')
    }
    sb.setLength(len)
    sb.toString
  }

  /** Exactly `k` random single-byte edits (substitute, insert, delete). */
  def mutate(s: String, k: Int, rng: Rng): String = {
    val sb = new java.lang.StringBuilder(s)
    var i = 0
    while (i < k) {
      val c = ('a' + rng.nextInt(26)).toChar
      if (sb.length == 0) sb.append(c)
      else rng.nextInt(3) match {
        case 0 => sb.setCharAt(rng.nextInt(sb.length), c)
        case 1 => sb.insert(rng.nextInt(sb.length + 1), c)
        case _ => sb.deleteCharAt(rng.nextInt(sb.length))
      }
      i += 1
    }
    sb.toString
  }

  /** Long-tailed body length: log-normal around 900 bytes, 100 B to
    * 7.6 KB (a shared header adds up to 400 B more). */
  def fileLen(rng: Rng): Int =
    math.max(100, math.min(7600, math.round(900 * math.exp(0.85 * rng.nextGaussian())).toInt))

  val DupEdits = 12      // duplicate copies: 1..12 edits, far below tau = 63
  val NearEdits = 160    // planted near-miss negatives: beyond the band
  val HotCopies: Seq[Int] = Seq(80, 96) // both above the 64-member block cap
  val DenseRows = 300    // per dense bucket: above the 256-row ingest cap

  /** A corpus of about `nFiles` rows with planted duplicate groups (1 to 6
    * members), a near-miss negative in every fifth multi-member group, a
    * mega-repo holding 30% of the files, hot files copied into more rows
    * than the block cap, and two (lang, length-bucket) keys holding more
    * short distinct files than the ingest bucket cap. A third of the files
    * open with one of 40 shared license/import headers, so unrelated files
    * share shingles and reach scoring as candidate pairs that saturate. */
  def corpus(seed: Long, nFiles: Int): GenCorpus = {
    val rng = Rng.of(seed, 1)
    val headers = Array.fill(40)(code(rng, rng.between(150, 400)) + "\n")
    def file(): String =
      if (rng.nextInt(3) == 0) headers(rng.nextInt(headers.length)) + code(rng, fileLen(rng))
      else code(rng, fileLen(rng))
    val out = ArrayBuffer.empty[(String, String, Long)] // (lang, content, group)
    var group = 0L
    def add(lang: String, content: String, g: Long): Unit = out += ((lang, content, g))
    val hot = HotCopies.map { n =>
      val lang = Langs(rng.nextInt(Langs.length))
      val base = file()
      (0 until n).foreach(i => add(lang, if (i % 10 == 9) mutate(base, 1, rng) else base, group))
      group += 1
      group - 1
    }
    val dense = Seq(("py", 2), ("go", 2))
    for ((lang, bucket) <- dense; _ <- 0 until DenseRows) {
      add(lang, code(rng, rng.between(bucket * 64, bucket * 64 + 63)), group)
      group += 1
    }
    while (out.length < nFiles) {
      val lang = Langs(rng.nextInt(Langs.length))
      val base = file()
      val size = 1 + (6 * math.pow(rng.nextDouble(), 2.5)).toInt
      add(lang, base, group)
      (1 until size).foreach { m =>
        if (m == size - 1 && group % 5 == 0) {
          group += 1 // the near miss is its own entity
          add(lang, mutate(base, NearEdits, rng), group)
        } else add(lang, mutate(base, rng.between(1, DupEdits), rng), group)
      }
      group += 1
    }
    val rows = out.toArray
    shuffle(rows, rng)
    val docs = rows.zipWithIndex.map { case ((lang, content, g), i) =>
      val repo = if (rng.nextDouble() < 0.3) "mega/monorepo" else s"org${rng.nextInt(40)}/repo${rng.nextInt(200)}"
      Doc(i.toLong, repo, s"src/m${rng.nextInt(50)}/f$i.$lang", f"${rng.nextLong()}%016x", lang, content, g)
    }
    GenCorpus(docs, hot.toSet, dense.toSet)
  }

  def shuffle[T](a: Array[T], rng: Rng): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  // ------------------------------------------------------------ align pairs

  /** ACGT pairs of 100 to 500 bases; the text is the pattern with 0 to
    * min(96, len/4) edits, so distances spread across the 64 band and a
    * share of pairs saturate. */
  def alignPairs(seed: Long, n: Int): Array[(String, String)] = {
    val rng = Rng.of(seed, 2)
    val acgt = "ACGT"
    Array.fill(n) {
      val len = rng.between(100, 500)
      val sb = new java.lang.StringBuilder(len)
      (0 until len).foreach(_ => sb.append(acgt.charAt(rng.nextInt(4))))
      val p = sb.toString
      val e = rng.nextInt(math.min(96, len / 4) + 1)
      val t = new java.lang.StringBuilder(p)
      (0 until e).foreach { _ =>
        val c = acgt.charAt(rng.nextInt(4))
        rng.nextInt(3) match {
          case 0 => t.setCharAt(rng.nextInt(t.length), c)
          case 1 => t.insert(rng.nextInt(t.length + 1), c)
          case _ => if (t.length > 1) t.deleteCharAt(rng.nextInt(t.length))
        }
      }
      (p, t.toString)
    }
  }

  /** The reference's `>pattern` / `<text` line-pair format. */
  def writeSeqFile(pairs: Array[(String, String)], path: Path): Unit = {
    val w = Files.newBufferedWriter(path, US_ASCII)
    try pairs.foreach { case (p, t) => w.write('>'); w.write(p); w.write('\n'); w.write('<'); w.write(t); w.write('\n') }
    finally w.close()
  }

  // ----------------------------------------------------------- crawl batches

  /** How a crawl doc was made; `group` is the snapshot group it copies, or
    * -1 when the correct outcome is a new entity. */
  final case class Planted(kind: String, group: Long)

  /** Crawl batch `index` of `n` docs against `snapshot`: 35% mutated copies
    * of snapshot docs, 10% exact copies, 10% copies of hot files, 30%
    * brand-new files and 15% near misses. Ids start at `idBase`. */
  def crawl(seed: Long, index: Int, snapshot: GenCorpus, n: Int, idBase: Long): Array[(Doc, Planted)] = {
    val rng = Rng.of(seed, 3, index)
    val docs = snapshot.docs
    val hotDocs = docs.filter(d => snapshot.hot(d.group))
    Array.tabulate(n) { i =>
      val roll = rng.nextInt(100)
      val src = if (roll < 10) hotDocs(rng.nextInt(hotDocs.length)) else docs(rng.nextInt(docs.length))
      val (lang, content, planted) =
        if (roll < 10) (src.lang, src.content, Planted("hot", src.group))
        else if (roll < 20) (src.lang, src.content, Planted("exact", src.group))
        else if (roll < 55) (src.lang, mutate(src.content, rng.between(1, DupEdits), rng), Planted("copy", src.group))
        else if (roll < 70) (src.lang, mutate(src.content, NearEdits, rng), Planted("near", -1L))
        else {
          val l = Langs(rng.nextInt(Langs.length))
          (l, code(rng, fileLen(rng)), Planted("new", -1L))
        }
      val id = idBase + i
      (Doc(id, s"crawl/repo${rng.nextInt(500)}", s"src/c$index/f$id.$lang", f"${rng.nextLong()}%016x",
        lang, content, -1L), planted)
    }
  }
}
