package graft.sources

import graft.{AlignerCli, SparkTestBase}
import graft.core.Levenshtein
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream
import scala.util.Random

/** Reference-format I/O (S1) and the CLI surface (S14/E1). Every file a
  * test writes lives in a [[withWorkDir]] directory, deleted afterwards. */
class SequenceFileSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {

  private def writeSeqFile(dir: String, pairs: Seq[(String, String)]): String = {
    val f = Paths.get(dir, "seqs.txt")
    val content = pairs.map { case (p, t) => s">$p\n<$t" }.mkString("", "\n", "\n")
    Files.writeString(f, content)
    f.toString
  }

  test("read parses >/< line pairs positionally") {
    withWorkDir("seqs") { dir =>
      val path = writeSeqFile(dir, Seq(("ACGT", "ACTT"), ("GG", "GGG"), ("", "A")))
      val rows = SequenceFile.read(spark, path).orderBy("pair_id").collect()
      assert(rows.length == 3)
      assert(rows(0).getString(1) == "ACGT" && rows(0).getString(2) == "ACTT")
      assert(rows(2).getString(1) == "" && rows(2).getString(2) == "A")
    }
  }

  private def assertMalformed(content: String): Unit =
    assertMalformed("bad.txt", content.getBytes(UTF_8), "malformed")

  /** Reading `content` as file `name` fails with a message holding `why`. */
  private def assertMalformed(name: String, content: Array[Byte], why: String): Unit =
    withWorkDir("bad") { dir =>
      val f = Files.write(Paths.get(dir, name), content)
      val e = intercept[Exception] {
        SequenceFile.read(spark, f.toString).collect()
      }
      assert(e.getMessage.contains(why) ||
        Option(e.getCause).exists(_.getMessage.contains(why)), e)
    }

  test("read fails fast on malformed markers (reference parity)") {
    assertMalformed(">ACGT\n>OOPS\n")
  }

  test("read rejects a trailing '>' line that has no '<' partner") {
    assertMalformed(">A\n<C\n>G\n")
  }

  test("read rejects bare-\\r line endings") {
    assertMalformed(">A\r<C\r>G\r<T\r")
  }

  test("read takes one uncompressed file: a gzip file is malformed at line 1") {
    val gz = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(gz)
    out.write(">A\n<C\n".getBytes(UTF_8))
    out.close()
    assertMalformed("pairs.txt.gz", gz.toByteArray, "malformed sequence file at line 1:")
  }

  test("read returns the same pairs at every split size") {
    withWorkDir("seqs") { dir =>
      // a '>' inside a line starts no pair
      val pairs = Seq(("ACGT", "ACTT"), ("G>A", ">T"), ("", "GG"), ("T", ""), ("GATTACA", "GATACA"),
        ("C", "C"))
      val lf = writeSeqFile(dir, pairs)
      val crlf = Paths.get(dir, "seqs-crlf.txt")
      Files.writeString(crlf, Files.readString(Paths.get(lf)).replace("\n", "\r\n"))
      val unterminated = Paths.get(dir, "seqs-no-final-newline.txt")
      Files.writeString(unterminated, Files.readString(Paths.get(lf)).stripSuffix("\n"))
      val empty = Files.writeString(Paths.get(dir, "empty.txt"), "")
      val expected = pairs.zipWithIndex.map { case ((p, t), i) => (i.toLong, p, t) }
      try {
        for ((path, want) <- Seq(lf -> expected, crlf.toString -> expected,
            unterminated.toString -> expected, empty.toString -> Nil)) {
          val bytes = Files.readAllBytes(Paths.get(path))
          val len = bytes.length.toLong
          val starts = bytes.indices.filter(i => bytes(i) == '>' && (i == 0 || bytes(i - 1) == '\n'))
          // every split edge position is hit, including between '\n' and '>'
          for (split <- 1L to len.max(1)) {
            spark.conf.set("spark.sql.files.maxPartitionBytes", split)
            val read = SequenceFile.read(spark, path)
            def rows(df: DataFrame) =
              df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
            assert(rows(read.orderBy("pair_id")) == want, s"$path at $split-byte splits")
            // rows arrive in id order without a sort: one partition per split
            // (an empty file reads as one empty partition)
            assert(rows(read) == want, s"$path at $split-byte splits, unsorted")
            val splitStarts = (0L until len by split).map(_.toInt)
            assert(read.rdd.getNumPartitions == splitStarts.length.max(1), s"$path at $split-byte splits")
            // -n 3 aligns pairs 0-2 only, and only the splits whose first
            // pair id is below 3 are read at all
            val aligned = AlignerCli.run(spark, AlignerCli.parseArgs(Array("-f", path, "-n", "3")))
            assert(aligned.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
              want.take(3).map { case (i, p, t) => (i, Levenshtein.distance(p, t)) },
              s"$path at $split-byte splits, -n 3")
            val read3 = splitStarts.count(s => starts.count(_ < s) < 3)
            assert(aligned.rdd.getNumPartitions == read3.max(1), s"$path at $split-byte splits, -n 3")
          }
        }
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("AlignerCli.run + collect starts 2 jobs: the record count of every split but the last, then the alignment") {
    withWorkDir("seqs") { dir =>
      val path = writeSeqFile(dir, (1 to 40).map(i => ("ACGT" * i, "ACGA" * i)))
      val len = Files.size(Paths.get(path))
      val split = len / 5 + 1
      val splits = ((len + split - 1) / split).toInt
      assert(splits == 5)
      spark.conf.set("spark.sql.files.maxPartitionBytes", split)
      try {
        val tasks = jobTasks {
          assert(AlignerCli.run(spark, AlignerCli.parseArgs(Array("-f", path))).collect().length == 40)
        }
        assert(tasks == Seq(splits - 1, splits))
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("AlignerCli aligns the bytes as written: invalid UTF-8 is not replaced") {
    withWorkDir("seqs") { dir =>
      // as text, both 0xFF and 0xFE would decode to U+FFFD and match
      val f = Files.write(Paths.get(dir, "bytes.txt"),
        Array('>', 'A', 0xFF, 'C', '\n', '<', 'A', 0xFE, 'C', '\n').map(_.toByte))
      val out = AlignerCli.run(spark, AlignerCli.parseArgs(Array("-f", f.toString))).collect()
      assert(out.map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getString(3))).toSeq ==
        Seq((0L, 1, false, "1M1X1M")))
    }
  }

  test("read refuses a directory of several files (split order is not file order)") {
    withWorkDir("seqparts") { dir =>
      // Spark orders splits by size: the larger part-00001 would come first
      // and take pair ids 0-2
      Files.writeString(Paths.get(dir, "part-00000"), ">A\n<A\n>C\n<C\n")
      Files.writeString(Paths.get(dir, "part-00001"), ">GGGG\n<GGGG\n>TTTT\n<TTTT\n>ACGT\n<ACGT\n")
      val e = intercept[IllegalArgumentException] {
        SequenceFile.read(spark, dir).collect()
      }
      assert(e.getMessage.contains("2 files"), e.getMessage)
    }
  }

  test("AlignerCli runs a sequence file end-to-end with reference semantics") {
    withWorkDir("seqs") { dir =>
      val rnd = new Random(7)
      val pairs = (1 to 50).map { _ =>
        val p = (0 until 50 + rnd.nextInt(100)).map(_ => "ACGT"(rnd.nextInt(4))).mkString
        val t = if (rnd.nextBoolean()) {
          val sb = new StringBuilder(p)
          for (_ <- 0 until rnd.nextInt(10) if sb.nonEmpty)
            sb.setCharAt(rnd.nextInt(sb.length), "ACGT"(rnd.nextInt(4)))
          sb.toString
        } else (0 until 50).map(_ => "ACGT"(rnd.nextInt(4))).mkString
        (p, t)
      }
      val path = writeSeqFile(dir, pairs)
      val cfg = AlignerCli.parseArgs(Array("-f", path, "-b", "16", "-d", "64", "-p"))
      assert(cfg.file == path && cfg.print)
      // -b is accepted for parity and changes nothing
      assert(cfg == AlignerCli.parseArgs(Array("-f", path, "-d", "64", "-p")))
      val out = AlignerCli.run(spark, cfg).orderBy("pair_id").collect()
      assert(out.length == 50)
      out.foreach { r =>
        val (p, t) = pairs(r.getLong(0).toInt)
        val ref = Levenshtein.distance(p, t)
        if (ref < 64) {
          assert(r.getInt(1) == ref)
          assert(graft.core.CigarOps.replay(p, t, r.getString(3)))
        } else assert(r.getBoolean(2))
      }
      // -n limits the number of alignments
      val limited = AlignerCli.run(spark,
        AlignerCli.parseArgs(Array("-f", path, "-n", "10"))).count()
      assert(limited == 10)

      // long forms parse identically to the reference's arg_handler
      val long = AlignerCli.parseArgs(Array(
        "--file", path, "--num-alignments", "10", "--seq-len", "200",
        "--batch-size", "16", "--cpu-threads", "4", "--max-distance", "32",
        "--print-cigars"))
      assert(long == AlignerCli.Config(path, 10, 200, 4, print = true, band = 32))
    }
  }

  test("AlignerCli.run reads and aligns without a shuffle") {
    withWorkDir("seqs") { dir =>
      val path = writeSeqFile(dir, (1 to 40).map(i => ("ACGT" * i, "ACGA" * i)))
      val out = AlignerCli.run(spark, AlignerCli.parseArgs(Array("-f", path, "-b", "4")))
      assert(out.collect().length == 40)
      // the final AQE plan, read after the action: each task scores the
      // pairs of one file split, so no exchange is planned
      val plan = out.queryExecution.executedPlan
      assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan)
    }
  }

  test("-l/--seq-len enforces the reference's 2*len slot capacity, fail-fast") {
    withWorkDir("seqs") { dir =>
      val path = writeSeqFile(dir, Seq(("A" * 100, "A" * 99), ("C" * 401, "C" * 400)))
      // capacity 2*200 = 400: pair 1's 401-byte pattern overflows; the task
      // aligning it fails, so the error arrives as the job's failure
      val err = intercept[SparkException] {
        AlignerCli.run(spark, AlignerCli.parseArgs(
          Array("-f", path, "-l", "200"))).collect()
      }
      val cause = err.getCause
      assert(cause.isInstanceOf[IllegalArgumentException], err)
      assert(cause.getMessage.contains("pair 1") && cause.getMessage.contains("400"), cause)
      // -n keeps only pair 0, so the over-length pair 1 is never checked
      assert(AlignerCli.run(spark, AlignerCli.parseArgs(
        Array("-f", path, "-l", "200", "-n", "1"))).count() == 1)
      // exactly at capacity passes; 0/absent means unbounded
      assert(AlignerCli.run(spark, AlignerCli.parseArgs(
        Array("-f", path, "-l", "201"))).count() == 2)
      assert(AlignerCli.run(spark, AlignerCli.parseArgs(
        Array("-f", path))).count() == 2)
    }
  }

  test("AlignerCli.parseArgs names the option of a missing, non-numeric or out-of-range value") {
    for ((args, option) <- Seq(
        (Array("-f"), "-f"),
        (Array("-f", "x.txt", "-n"), "-n"),
        (Array("-f", "x.txt", "-n", "abc"), "-n"),
        (Array("-f", "x.txt", "--seq-len", "1e3"), "--seq-len"),
        (Array("-f", "x.txt", "-d", "0"), "-d"),
        (Array("-f", "x.txt", "--max-distance", "-5"), "--max-distance"),
        (Array("-f", "x.txt", "-d", "3000000"), "-d"),
        (Array("-f", "x.txt", "--max-distance", "46341"), "--max-distance"),
        (Array("-f", "x.txt", "-l", "-5"), "-l"),
        (Array("-f", "x.txt", "-n", "-1"), "-n"),
        (Array("-f", "x.txt", "-t", "-2"), "-t"),
        (Array("-f", "x.txt", "-b", "-1"), "-b"))) {
      val e = intercept[IllegalArgumentException](AlignerCli.parseArgs(args))
      // the usage lists every option, so look for the name before it
      val (msg, usage) = e.getMessage.splitAt(e.getMessage.indexOf("; usage: AlignerCli"))
      assert(msg.contains(option) && usage.nonEmpty, s"${args.mkString(" ")} -> ${e.getMessage}")
    }
    // the largest band whose backtrace table an Int can index still parses
    assert(AlignerCli.parseArgs(Array("-f", "x.txt", "-d", "46340")).band == 46340)
  }
}
