package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
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

  /** The task count of each Spark job started while `body` runs on this
    * thread, in start order, told apart by job group. A marker job
    * flushes the listener bus, which delivers events in order. */
  def jobTasks(body: => Any): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val marker = s"$group-marker"
    val started = new ConcurrentLinkedQueue[Int]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => started.add(e.stageInfos.map(_.numTasks).sum)
          case Some(`marker`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, TimeUnit.SECONDS), "listener bus did not flush")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    started.asScala.toSeq
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
