package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types, Type => ParquetType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Checkpointed stage runner: every pipeline stage writes a Parquet
  * table (Iceberg-shaped layout — a directory per table with an
  * atomic commit record; swap-in point for an Iceberg catalog when the
  * runtime jar is available, see SURVEY.md §7) and is read back, so a
  * killed run resumes at the last completed stage (BASELINE.json
  * north_rule "resumable from checkpoint"). A lineage row per stage and a
  * per-partition lineage table for the scoring stage are written alongside
  * (the Spark re-expression of the reference's wall-time + per-batch debug
  * metrics, /root/reference/src/aligner.cu:198-233, utils/logger.h:54-59).
  * Checks, deletes and commit records go through the Hadoop `FileSystem`
  * of `baseDir`, so any Hadoop URI (`file://`, `hdfs://`, `s3a://`) works
  * as a work directory.
  *
  * This class is the only code that knows where a stage lives, when it is
  * complete and how it is read. A stage `name` is the directory
  * `baseDir/name`; it is complete when it holds its commit record
  * `_stage.json`, the schema the table is read with (data columns, then
  * partition columns, every field nullable), written after the Parquet
  * write and the stage's lineage row. A directory without one (a killed
  * write, or an older layout with only `_SUCCESS`) is recomputed. Every
  * stage, computed or resumed, is read by [[read]] with its committed
  * schema, so no read infers a schema and none starts a Spark job.
  *
  * A computed stage costs its write and nothing more: its row count rides
  * the write as an `observe()` and its lineage row is written on the
  * driver (see [[lineage]]). A 1-task Spark job costs about 0.1–0.2 s of
  * wall time however little it does, which adds up over a per-crawl
  * ingest (CLAUDE.md, job-count lesson).
  */
final class StageRunner(spark: SparkSession, baseDir: String) {

  /** Stage names computed (not resumed) during this run — resume tests
    * assert on this. */
  val computed: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  private def path(name: String) = s"$baseDir/$name"

  private val conf = spark.sparkContext.hadoopConfiguration

  private val fs = new Path(baseDir).getFileSystem(conf)

  /** The schema of a stage's own lineage row. */
  private val StageLineage = StructType(Seq(StructField("stage", StringType),
    StructField("rows", LongType), StructField("wall_ms", DoubleType)))

  /** The stage's commit record: its read schema as JSON. */
  private def record(name: String) = new Path(path(name), "_stage.json")

  /** True when the stage's checkpoint carries its commit record. */
  def isComplete(name: String): Boolean = fs.exists(record(name))

  /** Run (or resume) a stage. `compute` is only invoked when the stage's
    * checkpoint is absent or incomplete, or when an earlier stage of this
    * runner was computed in this run: a later checkpoint may have been
    * built from that stage's old output, so it must not resume.
    *
    * `partitionCols` Hive-partitions the checkpoint table; only
    * erbench's traced twin of [[graft.pipeline.ErRunner]] passes it, and
    * every production stage is flat. The row count for the lineage table
    * rides the checkpoint write as an `observe()` metric — one job per
    * stage, never a second count-the-table scan.
    *
    * A computed stage drops its old commit record first, so a run that
    * dies before the write cannot leave the old table committed after an
    * upstream stage changed, and commits the new one last. Either way
    * the stage is returned by [[read]]. */
  def stage(name: String, partitionCols: Seq[String] = Nil)
           (compute: => DataFrame): DataFrame = {
    if (computed.nonEmpty || !isComplete(name)) {
      computed += name
      fs.delete(record(name), false)
      val t0 = System.nanoTime()
      val obs = org.apache.spark.sql.Observation(s"graft_lineage_$name")
      val df = compute.observe(obs, count(lit(1)).as("rows"))
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(path(name))
      val wallMs = (System.nanoTime() - t0) / 1e6
      val rows = obs.get("rows").asInstanceOf[Long]
      lineage(name, Seq(Row(name, rows, wallMs)), StageLineage)
      val written = StructType(df.schema.filterNot(f => partitionCols.contains(f.name)) ++
        partitionCols.map(df.schema(_)))
      val out = fs.create(record(name), true)
      try out.write(nullable(written).json.getBytes(UTF_8)) finally out.close()
    }
    read(name)
  }

  /** A completed stage's table, read with its committed schema. Fails
    * naming the stage and its directory when it has no commit record. */
  def read(name: String): DataFrame = {
    require(isComplete(name),
      s"stage $name has no commit record in ${path(name)}: it was never completed")
    val in = fs.open(record(name))
    val json = try new String(in.readAllBytes(), UTF_8) finally in.close()
    spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(path(name))
  }

  /** Write an arbitrary lineage/metrics table for a stage (e.g. the
    * per-partition scoring lineage): `df` is collected to the driver and
    * written through the same writer as an observed row. */
  def lineage(name: String, df: DataFrame): Unit =
    lineage(name, df.collect().toSeq, df.schema)

  /** Write one row (e.g. an `Observation`'s) as the lineage table `name`. */
  def lineage(name: String, row: Row): Unit = lineage(name, Seq(row), row.schema)

  /** The one lineage writer: `rows` into `_lineage/<name>` as a single
    * Parquet file, written on the driver with parquet-hadoop through the
    * work directory's `FileSystem`, so it starts no Spark job. The table
    * is replaced, and it reads back as a Spark-written one: `string`,
    * `bigint`, `int`, `double` and `boolean` columns, all nullable. */
  private def lineage(name: String, rows: Seq[Row], schema: StructType): Unit = {
    val fields = schema.fields.map { f =>
      val t = f.dataType match {
        case StringType => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case DoubleType => Types.optional(DOUBLE)
        case BooleanType => Types.optional(BOOLEAN)
        case t => throw new IllegalArgumentException(
          s"lineage table $name: column ${f.name} has unsupported type ${t.simpleString}")
      }
      t.named(f.name): ParquetType
    }
    val fileSchema = new MessageType("spark_schema", fields: _*)
    val dir = new Path(s"$baseDir/_lineage/$name")
    fs.delete(dir, true)
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(dir, "part-00000.parquet"), conf))
      .withType(fileSchema)
      .withConf(conf)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(fileSchema)
      schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
        r.get(i) match {
          case v: String => g.add(i, v)
          case v: Long => g.add(i, v)
          case v: Int => g.add(i, v)
          case v: Double => g.add(i, v)
          case v: Boolean => g.add(i, v)
        }
      }
      writer.write(g)
    } finally writer.close()
  }

  def readLineage(name: String): DataFrame =
    spark.read.parquet(s"$baseDir/_lineage/$name")

  /** Drop a stage's checkpoint (test helper to simulate a partial run). */
  def invalidate(names: String*): Unit =
    names.foreach(n => fs.delete(new Path(path(n)), true))

  /** `t` with every field, element and value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
