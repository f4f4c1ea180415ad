package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole test run (SparkSessions are heavy). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4, "graft-test")
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Build a Graph fixture from literal edges / labeled nodes. */
  def graph(edges: Seq[(String, String, Double)],
      labels: Map[String, String] = Map.empty): Graph = {
    import spark.implicits._
    val e = edges.toDF("src", "dst", "weight")
    val ids = edges.flatMap(t => Seq(t._1, t._2)).distinct ++
      labels.keys.filterNot(id => edges.exists(t => t._1 == id || t._2 == id))
    val n = ids.distinct.map(id => (id, labels.getOrElse(id, "none")))
      .toDF("id", "label")
    Graph(n, e)
  }

  /** Spark jobs started while `body` runs. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftshim.ListenerBusShim.drain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.graftshim.ListenerBusShim.drain(sc)
    } finally sc.removeSparkListener(l)
    jobs.get()
  }

  def scoresMap(df: DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  def assertApprox(got: Map[String, Double], want: Map[String, Double],
      tol: Double = 1e-9): Unit = {
    assert(got.keySet == want.keySet,
      s"key sets differ: got ${got.keySet}, want ${want.keySet}")
    want.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < tol, s"$k: got ${got(k)}, want $v")
    }
  }
}
