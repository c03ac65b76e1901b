package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** One file of the source-code corpus (BASELINE.json input_hint schema). */
final case class FileRow(id: Long, repo: String, path: String, commit: String,
                         lang: String, content: String)

/** Deterministic synthetic source-code corpus with planted duplicate groups
  * (FIXTURES.md F2). Re-expresses the reference's labeled-pair input
  * (`>pattern`/`<text` records, /root/reference/README.md:58-68) as an ER
  * table: each group is a base file plus mutated copies at controlled edit
  * counts, so ground-truth match labels are derivable with the exact
  * DP oracle. Generation is distributed (one task generates a slice of
  * groups; per-group RNG seeded by (seed, groupId)) — no driver bottleneck,
  * scales to any corpus size.
  */
object Corpus {

  final case class GenConfig(
      nGroups: Int = 200,
      maxGroupSize: Int = 6,
      minLen: Int = 300,
      maxLen: Int = 800,
      dupEdits: Int = 12,        // edits for duplicate members (<= tau/2 for guaranteed matches)
      nearMissEdits: Int = 160,  // edits for planted near-miss negatives (> tau)
      nearMissEvery: Int = 5,    // every Nth group gets one near-miss member
      megaRepoShare: Double = 0.3, // fraction of files in one mega-repo (skew driver)
      seed: Long = 42L,
      partitions: Int = 32)

  private val Langs = Array("scala", "java", "py", "c", "go")
  private val Vocab: Array[String] = Array(
    "def", "val", "var", "class", "object", "return", "if", "else", "for",
    "while", "match", "case", "import", "package", "new", "null", "true",
    "false", "int", "long", "string", "map", "filter", "fold", "reduce",
    "spark", "dataset", "column", "index", "buffer", "stream", "write",
    "read", "hash", "join", "group", "sort", "merge", "block", "batch")

  /** Max members per group; member ids are groupId * IdStride + memberIdx. */
  val IdStride = 1024L

  private def randomContent(rnd: Random, minLen: Int, maxLen: Int): String = {
    val target = minLen + rnd.nextInt(maxLen - minLen + 1)
    val sb = new StringBuilder(target + 16)
    while (sb.length < target) {
      // half keywords, half identifiers from a large pool — real code mixes
      // a small keyword set with a long tail of identifiers (keeps
      // cross-file shingle overlap realistic, unlike a pure-keyword soup)
      if (rnd.nextBoolean()) sb.append(Vocab(rnd.nextInt(Vocab.length)))
      else { sb.append("id"); sb.append(rnd.nextInt(5000)) }
      sb.append(if (rnd.nextInt(8) == 0) '\n' else ' ')
    }
    sb.toString
  }

  /** Apply exactly `k` random single-char edits (sub/ins/del). */
  def mutate(base: String, k: Int, rnd: Random): String = {
    val sb = new StringBuilder(base)
    var i = 0
    while (i < k && sb.nonEmpty) {
      rnd.nextInt(3) match {
        case 0 => sb.setCharAt(rnd.nextInt(sb.length), ('a' + rnd.nextInt(26)).toChar)
        case 1 => sb.insert(rnd.nextInt(sb.length + 1), ('a' + rnd.nextInt(26)).toChar)
        case 2 => sb.deleteCharAt(rnd.nextInt(sb.length))
      }
      i += 1
    }
    sb.toString
  }

  def groupMembers(g: Long, cfg: GenConfig): Seq[FileRow] = {
    val rnd = new Random(graft.core.Hashing.splitmix64(cfg.seed ^ (g * 0x9E3779B97F4A7C15L)))
    val lang = Langs(rnd.nextInt(Langs.length))
    val base = randomContent(rnd, cfg.minLen, cfg.maxLen)
    // skewed group sizes: most singletons/pairs, occasional big groups
    val size = 1 + (cfg.maxGroupSize * math.pow(rnd.nextDouble(), 2.5)).toInt
    val repo =
      if (rnd.nextDouble() < cfg.megaRepoShare) "repo_mega"
      else s"repo_${rnd.nextInt(100)}"
    (0 until size).map { m =>
      val content =
        if (m == 0) base
        else if (cfg.nearMissEvery > 0 && g % cfg.nearMissEvery == 0 && m == size - 1 && size > 1)
          mutate(base, cfg.nearMissEdits, rnd)
        else mutate(base, 1 + rnd.nextInt(cfg.dupEdits), rnd)
      FileRow(
        id = g * IdStride + m,
        repo = repo,
        path = s"dir${g % 37}/sub${g % 11}/file_${g}_$m.$lang",
        commit = f"${graft.core.Hashing.splitmix64(g * 31 + m)}%016x",
        lang = lang,
        content = content)
    }
  }

  /** Distributed deterministic generation. */
  def generate(spark: SparkSession, cfg: GenConfig): Dataset[FileRow] = {
    import spark.implicits._
    spark.range(0, cfg.nGroups, 1, cfg.partitions)
      .flatMap(g => groupMembers(g, cfg))
  }

  /** The canonical corpus table: `files` plus sha256(content), the
    * input_hint per-row invariant. Lengths are not stored: every reader
    * takes them from the content it reads anyway. */
  def withDerived(files: DataFrame): DataFrame =
    files.withColumn("sha256", sha2(col("content"), 256))
}
