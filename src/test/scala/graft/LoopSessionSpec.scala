package graft

import graft.operators.{ConnectedComponents, Hits, KCore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.ListenerBusShim
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Every loop ([[Fixpoint]]) runs on a session of its own, so two threads
  * can run loops at two widths off one session, and no loop changes the
  * conf of the session it was called on or leaves a listener behind. */
class LoopSessionSpec extends SparkSuite {
  import LoopSessionSpec.Out

  private val edgeRows = Seq(
    ("a", "c", 1.0), ("a", "d", 2.0), ("b", "c", 1.0), ("c", "d", 3.0),
    ("d", "a", 1.0), ("e", "a", 0.5), ("e", "f", 1.0), ("f", "c", 2.0),
    ("g", "h", 1.0), ("h", "g", 1.0), ("b", "e", 1.5))

  private val pairRows = Seq((1L, 3L), (1L, 4L), (2L, 3L), (3L, 4L),
    (5L, 6L), (6L, 3L), (7L, 8L), (2L, 5L))

  /** HITS, the 2-core peel and min-label components over frames built on
    * `s`; every checkpoint the results hold is released. */
  private def run(s: SparkSession): Out = {
    import s.implicits._
    val e = edgeRows.toDF("src", "dst", "weight")
    val ids = edgeRows.flatMap(t => Seq(t._1, t._2)).distinct
    val g = Graph(ids.map(id => (id, "none")).toDF("id", "label"), e)
    val h = Hits.run(g, 4)
    val core = KCore.run(e, 2)
    val comps = ConnectedComponents.run(pairRows.toDF("a", "b"))
    def rows(df: DataFrame) = df.collect().map(_.mkString("|")).toSet
    try Out(scoresMap(h.hubs), scoresMap(h.auths), rows(core), rows(comps),
      h.auths.rdd.getNumPartitions)
    finally Seq(h.hubs, h.auths, core, comps).foreach(Checkpoints.releaseAll)
  }

  test("two threads run kernels and peels at widths 1 and 4 off one " +
      "session: the same results as alone, and no conf changes") {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(cap == 4)
    // The bytes-per-task target forces the loop widths: huge gives 1, one
    // byte gives the shuffle.partitions cap.
    val sessions = Seq("1t", "1b").map(b =>
      Sessions.scoped(spark, AdaptiveWidth.BytesPerTaskKey -> b))
    val all = spark +: sessions
    val before = all.map(_.conf.getAll)
    val alone = sessions.map(run)
    assert(alone.map(_.width) == Seq(1, cap))
    assert(all.map(_.conf.getAll) == before)

    val both = new CyclicBarrier(2)
    val samples = new ConcurrentLinkedQueue[Seq[Map[String, String]]]()
    @volatile var running = true
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val together = try {
      // The other thread samples every session's conf while both loops run.
      val sampler = Future {
        while (running) {
          samples.add(all.map(_.conf.getAll))
          Thread.sleep(2)
        }
      }
      val runs = sessions.map(s => Future {
        both.await(60, TimeUnit.SECONDS)
        run(s)
      })
      try runs.map(Await.result(_, 300.seconds))
      finally {
        running = false
        Await.result(sampler, 60.seconds)
      }
    } finally pool.shutdown()

    assert(together == alone)
    assert(samples.size > 1, "the sampler never ran")
    samples.asScala.foreach(s => assert(s == before))
    assert(all.map(_.conf.getAll) == before)
  }

  test("20 kernel runs and 20 peels leave the context's listener count " +
      "unchanged") {
    // The peels include min-label components, whose loop is keyed.
    import spark.implicits._
    val g = graph(edgeRows)
    val pairs = pairRows.toDF("a", "b")
    val sc = spark.sparkContext
    // one run first, so whatever the first use of a Spark facility
    // registers is not counted against the loops
    val h0 = Hits.run(g, 2)
    val c0 = ConnectedComponents.run(pairs)
    Seq(h0.hubs, h0.auths, c0).foreach(Checkpoints.releaseAll)
    ListenerBusShim.drain(sc)
    val before = ListenerBusShim.listeners(sc)
    (1 to 20).foreach { _ =>
      val h = Hits.run(g, 2)
      val core = KCore.run(g.edges, 2)
      val comps = ConnectedComponents.run(pairs)
      assert(core.count() > 0 && comps.count() > 0)
      Seq(h.hubs, h.auths, core, comps).foreach(Checkpoints.releaseAll)
    }
    ListenerBusShim.drain(sc)
    assert(ListenerBusShim.listeners(sc) == before)
  }
}

object LoopSessionSpec {

  /** What a run compares: HITS hubs and authorities, the k-core rows,
    * the component rows, and the partition count of the authorities'
    * checkpoint (the loop width). */
  final case class Out(hubs: Map[String, Double],
      auths: Map[String, Double], core: Set[String], comps: Set[String],
      width: Int)
}
