package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkContext). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark

  /** Spark jobs `body` starts on this thread, counted by a listener on a
    * thread-local tag (like Explain's Meter) once the async bus settles. */
  def jobsDuring[A](body: => A): (A, Long) = {
    val tag = s"jobs-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("graft.test.meter") == tag)
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.test.meter", tag)
    try {
      val a = body
      var last = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = n.get
        stable = if (c == last) stable + 1 else 0
        last = c
      }
      (a, n.get)
    } finally {
      sc.setLocalProperty("graft.test.meter", null)
      sc.removeSparkListener(l)
    }
  }
}
