package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; sf0.001 fixtures for file-backed
  * tests, in-memory frames for unit semantics. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** The counter's value once the async listener bus has drained:
    * polled until stable (no fixed sleep). */
  def settled(acc: java.util.concurrent.atomic.AtomicLong): Long = {
    var last = -1L
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 100) {
      Thread.sleep(100); waited += 1
      val now = acc.get()
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
    acc.get()
  }

  /** Spark jobs started during `f`. */
  def jobsDuring[T](f: => T): (T, Long) = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        acc.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      (r, settled(acc))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
