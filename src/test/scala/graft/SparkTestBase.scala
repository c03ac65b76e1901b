package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per suite, lazy). */
trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestBase.session

  /** Runs `body` on a fresh `java.io.tmpdir` directory named `prefix…`,
    * deleting the whole tree afterwards, pass or fail. */
  def withWorkDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString) finally {
      val tree = Files.walk(dir)
      try tree.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally tree.close()
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
