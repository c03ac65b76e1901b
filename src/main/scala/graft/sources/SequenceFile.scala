package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions.col

/** Reader for the reference's native input format: records are
  * consecutive line pairs, `>pattern` then `<text`
  * (/root/reference/README.md:58-68; parser
  * utils/sequence_reader.cu:148-189). The reference fails fast on a
  * malformed marker (sequence_reader.cu:156-168); we do the same per pair.
  *
  * The input contract is the reference's: one uncompressed file (or a
  * directory holding exactly one), read as raw bytes. Pair ids follow
  * line order, and a second file has no place in it, so a directory of
  * several fails fast. A compressed file is not decompressed: its first
  * byte is not `>`, so it is malformed at line 1. Lines end in `\n` or
  * `\r\n`; a bare `\r` is malformed. Bytes reach the kernel as written,
  * with no text decoding.
  *
  * The file is cut into byte ranges by Spark's own file-split size rule
  * (`spark.sql.files.maxPartitionBytes`, `openCostInBytes`, default
  * parallelism). A record belongs to the range that holds its `>` (a `>`
  * at a line start) and is parsed by that range's task, reading past the
  * range's end when the record crosses it. Two passes number the pairs:
  * one job counts the record starts of every range but the last, and the
  * parse gives each record the prefix sum of those counts plus its index
  * in its range. A task holds one 64 KB buffer plus the longest line.
  */
object SequenceFile {

  private val BufBytes = 1 << 16

  /** The bytes [start, end) of the input file. */
  private final case class Split(start: Long, end: Long)

  /** Read `>`/`<` line pairs into (pair_id, pattern, text): the UTF-8
    * string view of [[readBytes]]. */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    readBytes(spark, path).toDF("pair_id", "pattern", "text")
      .select(col("pair_id"), col("pattern").cast("string").as("pattern"),
        col("text").cast("string").as("text"))
  }

  /** Read the first `num` `>`/`<` line pairs (0 = all) into
    * (pair_id, pattern, text) with the bytes as written, in id order. A
    * range whose first pair id is `num` or more is not parsed, and its
    * task does not run, so pairs past `num` are never checked. Runs the
    * counting job at once when the file has more than one range. */
  def readBytes(spark: SparkSession, path: String,
                num: Long = 0): RDD[(Long, Array[Byte], Array[Byte])] = {
    val sc = spark.sparkContext
    val session = spark.asInstanceOf[classic.SparkSession]
    val hadoopConf = session.sessionState.newHadoopConf()
    val file = inputFile(hadoopConf, path)
    val len = file.getLen
    val size = FilePartition.maxSplitBytes(spark,
      len + session.sessionState.conf.filesOpenCostInBytes)
    val splits = (0L until len by size).map(s => Split(s, math.min(s + size, len)))
    val blocks = file.getPath.getFileSystem(hadoopConf).getFileBlockLocations(file, 0, len)
    def hosts(s: Split): Seq[String] =
      blocks.find(b => b.getOffset <= s.start && s.start < b.getOffset + b.getLength)
        .map(_.getHosts.toSeq).getOrElse(Nil)
    val conf = sc.broadcast(new SerializableWritable(hadoopConf))
    val name = file.getPath.toString
    val counts =
      if (splits.length < 2) Seq.empty[Long]
      else sc.makeRDD(splits.init.map(s => (s, hosts(s))))
        .map(s => countStarts(open(conf.value.value, name, s), s))
        .collect().toSeq
    val owned = splits.zip(counts.scanLeft(0L)(_ + _))
      .filter { case (_, id0) => num <= 0 || id0 < num }
    sc.makeRDD(owned.map(o => (o, hosts(o._1)))).flatMap { case (s, id0) =>
      val in = open(conf.value.value, name, s)
      TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
      new Records(in, s, id0, num)
    }
  }

  /** The one file at `path`: the path itself, or the one file a directory
    * holds (names starting with `_` or `.` are skipped, as Spark does). */
  private def inputFile(conf: Configuration, path: String): FileStatus = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val files =
      if (!status.isDirectory) Seq(status)
      else fs.listStatus(p).toSeq.filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    require(files.length == 1,
      s"sequence input $path holds ${files.length} files; pair ids follow line " +
        "order, which only one file has — concatenate them first")
    files.head
  }

  /** `name` opened at the byte before `s` (the one that says whether `s`
    * starts a line), or at 0. */
  private def open(conf: Configuration, name: String, s: Split): InputStream = {
    val p = new Path(name)
    val in = p.getFileSystem(conf).open(p)
    in.seek(math.max(s.start - 1, 0))
    in
  }

  /** Record starts in `s`: each `>` that is the first byte of a line. */
  private def countStarts(in: InputStream, s: Split): Long =
    try {
      val buf = new Array[Byte](BufBytes)
      var prev = if (s.start == 0) '\n'.toInt else in.read()
      var left = s.end - s.start
      var n = 0L
      while (left > 0) {
        val r = in.read(buf, 0, math.min(buf.length.toLong, left).toInt)
        require(r > 0, s"sequence file ended before byte ${s.end}")
        var i = 0
        while (i < r) {
          val b = buf(i)
          if (b == '>' && prev == '\n') n += 1
          prev = b
          i += 1
        }
        left -= r
      }
      n
    } finally in.close()

  /** The records that start in `s`, read from `in` (which stands at byte
    * max(start - 1, 0)), numbered from `id0` and stopping before id `num`
    * (0 = no limit). The caller passes `id0` below `num` (or `num` = 0):
    * the first record is always read. */
  private final class Records(in: InputStream, s: Split, id0: Long, num: Long)
      extends Iterator[(Long, Array[Byte], Array[Byte])] {
    private val reader = new LineReader(in, BufBytes, Array[Byte]('\n'))
    private val line = new Text
    private var len = 0 // of `line`, less a '\r' before its '\n' once checked
    private var start = math.max(s.start - 1, 0) // file offset of `line`
    private var pos = start // file offset after `line`
    private var id = id0

    private def readLine(): Boolean = {
      start = pos
      pos += reader.readLine(line)
      len = line.getLength
      pos > start
    }
    private def startsRecord = len > 0 && line.getBytes()(0) == '>'
    private def malformed(k: Int, why: String): Nothing = throw new IllegalArgumentException(
      s"malformed sequence file at line ${2 * id + k + 1}: $why")
    private def got = s"got '${new String(line.getBytes, 0, math.min(len, 20), UTF_8)}'"
    /** Drops the '\r' of a '\r\n' line end from line `k` of the record;
      * any other '\r' is malformed. */
    private def check(k: Int): Unit = {
      val b = line.getBytes
      if (len > 0 && b(len - 1) == '\r') len -= 1
      var i = 0
      while (i < len && b(i) != '\r') i += 1
      if (i < len) malformed(k, "bare '\\r' line break; lines end in \\n or \\r\\n")
    }

    // `line` holds the '>' line of the next record while `more` holds
    private var more =
      if (s.start == 0) readLine() && (startsRecord || { check(0); malformed(0, s"expected '>', $got") })
      else {
        readLine() // the rest of the line that holds byte start - 1
        var found = false
        while (!found && pos < s.end && readLine()) found = startsRecord
        found
      }

    def hasNext: Boolean = more

    def next(): (Long, Array[Byte], Array[Byte]) = {
      if (!more) throw new NoSuchElementException("no more records in this split")
      check(0)
      val pattern = Arrays.copyOfRange(line.getBytes, 1, len)
      if (!readLine()) malformed(1, "expected '<', got ''")
      check(1)
      if (len == 0 || line.getBytes()(0) != '<') malformed(1, s"expected '<', $got")
      val rec = (id, pattern, Arrays.copyOfRange(line.getBytes, 1, len))
      more = readLine() && (startsRecord || { check(2); malformed(2, s"expected '>', $got") }) &&
        start < s.end && (num <= 0 || id + 1 < num)
      id += 1
      rec
    }
  }
}
