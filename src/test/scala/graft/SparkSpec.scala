package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.rel.Rel

/** Shared local session + the reference's S/P/SP micro-corpus
  * (/root/reference/Test/{S,P,SP}.csv — see FIXTURES.md §A1). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import spark.implicits._

  lazy val S: Rel = Rel.distinct(Seq(
    ("S1", "Smith", 20, "London"), ("S2", "Jones", 10, "Paris"),
    ("S3", "Blake", 30, "Paris"), ("S4", "Clark", 20, "London"),
    ("S5", "Adams", 30, "Athens")).toDF("S#", "SNAME", "STATUS", "CITY"))

  lazy val P: Rel = Rel.distinct(Seq(
    ("P1", "Nut", "Red", 12.0, "London"), ("P2", "Bolt", "Green", 17.0, "Paris"),
    ("P3", "Screw", "Blue", 17.0, "Oslo"), ("P4", "Screw", "Red", 14.0, "London"),
    ("P5", "Cam", "Blue", 12.0, "Paris"), ("P6", "Cog", "Red", 19.0, "London"))
    .toDF("P#", "PNAME", "COLOR", "WEIGHT", "CITY"))

  lazy val SP: Rel = Rel.distinct(Seq(
    ("S1", "P1", 300), ("S1", "P2", 200), ("S1", "P3", 400), ("S1", "P4", 200),
    ("S1", "P5", 100), ("S1", "P6", 100), ("S2", "P1", 300), ("S2", "P2", 400),
    ("S3", "P2", 200), ("S4", "P2", 200), ("S4", "P4", 300), ("S4", "P5", 400))
    .toDF("S#", "P#", "QTY"))

  /** ROQ5 ordered-query fixture (Test/SuiteRelOrder.andl:9-14). */
  lazy val ROQ5: Rel = Rel.distinct(Seq(
    (1, "abc-", 6, "2016-01-02"), (2, "def-", 5, "2016-01-03"),
    (3, "g-", 5, "2016-01-01"), (4, "h-", 5, "2016-01-02"),
    (5, "ijkl-", 9, "2016-01-04")).toDF("A0", "A1", "A2", "A3"))

  def rows[T](df: DataFrame)(f: org.apache.spark.sql.Row => T): Seq[T] =
    df.collect().toSeq.map(f)

  /** `body`'s result and the start event of every Spark job launched
    * while it ran (any thread). The listener bus is asynchronous and
    * delivers in order, so a sentinel job runs after `body` and is polled
    * for: once its start has arrived, every earlier job has been seen. */
  def jobsDuring[A](body: => A): (A, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val key = "graft.test.sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null)) sentinelSeen = true
        else seen.add(e)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(key, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      var spins = 0
      while (!sentinelSeen && spins < 200) { spins += 1; Thread.sleep(50) }
      assert(sentinelSeen, "the listener never saw the sentinel job")
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Spark.local(4)
}
