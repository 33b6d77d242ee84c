package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — suites use a
  * common getOrCreate so forked test runs boot Spark once).
  */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  lazy val sf001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs it started, counted by a
    * listener once the bus has delivered every event.
    */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.SpecBus.drain(sc)
    sc.addSparkListener(counter)
    try {
      val result = body
      org.apache.spark.SpecBus.drain(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(counter)
  }
}
