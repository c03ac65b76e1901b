package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Reader/writer for the reference's native input format: records are
  * consecutive line pairs, `>pattern` then `<text`
  * (/root/reference/README.md:58-68; parser
  * utils/sequence_reader.cu:148-189). The reference fails fast on a
  * malformed marker (sequence_reader.cu:156-168); we do the same per line.
  *
  * Pairing is positional, so ingestion assigns global line numbers with
  * zipWithIndex (split order + in-split offset) and pivots 2i/2i+1 into
  * one row — the distributed re-expression of the reference's sequential
  * two-line reader. Spark orders the splits of several files by size,
  * not by name, so the input must be exactly one file (the reference
  * reads one file too); a directory holding several fails fast.
  */
object SequenceFile {

  /** Read `>`/`<` line pairs into (pair_id, pattern, text). */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val text = spark.read.textFile(path)
    val files = text.inputFiles.length
    require(files == 1,
      s"sequence input $path holds $files files; pair ids follow line " +
        "order, which Spark keeps only within one file — concatenate them first")
    val lines = text.rdd.zipWithIndex()
    val tagged = lines.map { case (line, idx) =>
      val marker = if (idx % 2 == 0) '>' else '<'
      if (line.isEmpty || line.charAt(0) != marker)
        throw new IllegalArgumentException(
          s"malformed sequence file at line ${idx + 1}: expected '$marker', " +
            s"got '${line.take(20)}'")
      (idx / 2, idx % 2, line.substring(1).stripLineEnd)
    }
    tagged.toDF("pair_id", "role", "seq")
      .groupBy("pair_id")
      .agg(
        max(when(col("role") === 0, col("seq"))).as("pattern"),
        max(when(col("role") === 1, col("seq"))).as("text"))
      .filter(col("pattern").isNotNull && col("text").isNotNull)
  }

  /** Write (pair_id, pattern, text) rows back out in the reference format
    * (single file, pair order by pair_id — a debug/interop sink). */
  def write(df: DataFrame, path: String): Unit = {
    // two output lines per record: explode to one text line per row
    val lines = df.orderBy("pair_id").select(
      explode(array(concat(lit(">"), col("pattern")),
        concat(lit("<"), col("text")))).as("value"))
    lines.coalesce(1).write.mode(SaveMode.Overwrite).text(path)
  }
}
