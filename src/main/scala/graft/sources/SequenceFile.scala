package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reader for the reference's native input format: records are
  * consecutive line pairs, `>pattern` then `<text`
  * (/root/reference/README.md:58-68; parser
  * utils/sequence_reader.cu:148-189). The reference fails fast on a
  * malformed marker (sequence_reader.cu:156-168); we do the same per pair.
  *
  * The file is read with `\n>` as the record delimiter, so each record is
  * one whole pair (`pattern\n<text`; only the first keeps its `>`) and a
  * pair that crosses a split edge is read by the split it starts in.
  * zipWithIndex over the records (split order + in-split offset) numbers
  * the pairs. Spark orders the splits of several files by size, not by
  * name, so the input must be exactly one file (the reference reads one
  * file too); a directory holding several fails fast. Lines end in `\n`
  * or `\r\n`; a file of bare-`\r` lines holds no `\n>` and is malformed.
  */
object SequenceFile {

  /** Read `>`/`<` line pairs into (pair_id, pattern, text). */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val records = spark.read.option("lineSep", "\n>").textFile(path)
    val files = records.inputFiles.length
    require(files == 1,
      s"sequence input $path holds $files files; pair ids follow line " +
        "order, which Spark keeps only within one file — concatenate them first")
    records.rdd.zipWithIndex().map { case (rec, i) =>
      def malformed(k: Int, why: String): Nothing = throw new IllegalArgumentException(
        s"malformed sequence file at line ${2 * i + k + 1}: $why")
      def got(line: String) = s"got '${line.take(20)}'"
      val lines = rec.stripLineEnd.split("\n", -1).map(_.stripSuffix("\r"))
      if (i == 0 && !lines(0).startsWith(">")) malformed(0, s"expected '>', ${got(lines(0))}")
      val cr = lines.indexWhere(_.contains('\r'))
      if (cr >= 0) malformed(cr, "bare '\\r' line break; lines end in \\n or \\r\\n")
      if (lines.length < 2 || !lines(1).startsWith("<"))
        malformed(1, s"expected '<', ${got(lines.lift(1).getOrElse(""))}")
      if (lines.length > 2) malformed(2, s"expected '>', ${got(lines(2))}")
      (i, lines(0).substring(if (i == 0) 1 else 0), lines(1).substring(1))
    }.toDF("pair_id", "pattern", "text")
  }
}
