package graft

import graft.operators.{ConnectedComponents, Hits, KCore, KTruss, LabelProp,
  PageRank, Salsa}
import org.apache.spark.sql.graftshim.CacheManagerShim
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The round-4 harness died because superseded per-iteration checkpoint
  * blocks were freed only when a driver GC let the ContextCleaner run.
  * These specs pin the structural fix: after a kernel run, the only
  * NEW persisted RDDs left behind are the final result checkpoints —
  * every intermediate iteration's blocks were released eagerly by the
  * loop itself, with no GC involved.
  */
class CheckpointLifecycleSpec extends SparkSuite {

  private def g1 = graph(Seq(
    ("a", "c", 1.0), ("a", "d", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)))

  /** Persisted-RDD ids added by `body`, after forcing `body`'s results. */
  private def addedPersistentRdds(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  test("Hits leaves only the two result checkpoints after 8 iterations") {
    val added = addedPersistentRdds {
      val r = Hits.run(g1, numIter = 8)
      assert(scoresMap(r.auths).nonEmpty && scoresMap(r.hubs).nonEmpty)
    }
    // 8 iterations make 9 checkpoints (8 auth + 1 final hub) plus the
    // init node-id checkpoint; all but the final hub+auth pair must have
    // been released by the loop itself (no GC ran here).
    assert(added.size <= 2, s"leaked checkpoint RDDs: $added")
  }

  test("Salsa leaves only the two result checkpoints") {
    val added = addedPersistentRdds {
      val r = Salsa.run(g1, numIter = 8)
      assert(scoresMap(r.auths).nonEmpty && scoresMap(r.hubs).nonEmpty)
    }
    assert(added.size <= 2, s"leaked checkpoint RDDs: $added")
  }

  test("PageRank leaves only the final score checkpoint") {
    val added = addedPersistentRdds {
      assert(PageRank.run(g1, numIter = 8).count() > 0)
    }
    assert(added.size <= 1, s"leaked checkpoint RDDs: $added")
  }

  test("runConverged leaves only the two result checkpoints") {
    val added = addedPersistentRdds {
      val fp = Hits.runConverged(g1, tol = 1e-9, maxIter = 20)
      assert(fp.iterations > 1 && scoresMap(fp.result.auths).nonEmpty)
    }
    assert(added.size <= 2, s"leaked checkpoint RDDs: $added")
  }

  test("a kernel run that throws leaves nothing stored") {
    // The run fails after its edge copy, its node checkpoint and
    // PageRank's degree-annotated edge cache exist: no node carries the
    // topic, so there is no seed to teleport to.
    val cached = CacheManagerShim.entries(spark)
    val added = addedPersistentRdds {
      val e = intercept[IllegalArgumentException](
        PageRank.runPersonalized(g1, "no-such-topic"))
      assert(e.getMessage.contains("no nodes labeled"))
    }
    assert(added.isEmpty, s"leaked persisted RDDs: $added")
    assert(CacheManagerShim.entries(spark) == cached,
      "the failed run left a cache registered")
  }

  private def pairs = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 6L)).toDF("a", "b")
  }

  test("ConnectedComponents leaves only the final label checkpoint") {
    val added = addedPersistentRdds {
      assert(ConnectedComponents.run(pairs).count() == 6)
    }
    assert(added.size <= 1, s"leaked checkpoint RDDs: $added")
    // The other structural operators: after each run only the checkpoints
    // its result reads are stored, and none after releaseAll.
    val ring = graph(Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
      ("c", "d", 1.0), ("d", "e", 1.0), ("e", "c", 1.0), ("e", "f", 1.0)))
    val seeds = {
      import spark.implicits._
      Seq(("a", "x"), ("f", "y")).toDF("id", "label")
    }
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "ConnectedComponents.run" -> (() => ConnectedComponents.run(pairs)),
      "ConnectedComponents.runStar" -> (() =>
        ConnectedComponents.runStar(pairs)),
      "KCore.run" -> (() => KCore.run(ring.edges, 2)),
      "KTruss.run" -> (() => KTruss.run(ring.edges, 3)),
      "LabelProp.run" -> (() => LabelProp.run(spark, ring.edges, seeds, 3))
    ).foreach { case (name, op) =>
      var result: org.apache.spark.sql.DataFrame = null
      val stored = addedPersistentRdds {
        result = op()
        assert(result.count() > 0, s"$name: empty result")
      }
      val reads = checkpointReads(result).toSet
      assert(stored.subsetOf(reads),
        s"$name stored ${stored -- reads} that its result does not read")
      Checkpoints.releaseAll(result)
      val left = stored.intersect(
        spark.sparkContext.getPersistentRDDs.keySet.toSet)
      assert(left.isEmpty, s"$name left $left stored after releaseAll")
    }
  }

  test("released blocks are MEMORY_AND_DISK no more: storage drains") {
    // Sanity on the release mechanism itself: a released checkpoint's
    // RDD no longer reports a storage level with storage.
    val df = g1.edges.localCheckpoint(true)
    val rdd = df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case other => fail(s"expected LogicalRDD, got ${other.getClass}")
    }
    assert(rdd.getStorageLevel != StorageLevel.NONE)
    Checkpoints.release(df)
    assert(rdd.getStorageLevel == StorageLevel.NONE)
  }

  /** Persisted checkpoint RDD ids a plan reads, one per read. */
  private def checkpointReads(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }

  /** RDD ids among `of` in the `SparkListenerUnpersistRDD` events posted
    * while `body` runs (the ContextCleaner unpersists other, dead RDDs
    * concurrently); the listener bus is drained before the listener
    * comes off. */
  private def unpersistEvents(of: Set[Int])(body: => Unit): Seq[Int] = {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onUnpersistRDD(
          e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
        ids.add(e.rddId)
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graftshim.ListenerBusShim.drain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.graftshim.ListenerBusShim.drain(sc)
    } finally sc.removeSparkListener(l)
    ids.asScala.toSeq.filter(of)
  }

  test("releaseAll unpersists each distinct checkpoint once, then never") {
    val r = Hits.run(g1, numIter = 8)
    // A self-union: the plan holds each result checkpoint twice
    val once = r.hubs.unionByName(r.auths)
    val out = once.unionByName(once)
    val reads = checkpointReads(out)
    assert(reads.size > reads.distinct.size, s"no checkpoint read twice: $reads")
    val first = unpersistEvents(reads.toSet)(Checkpoints.releaseAll(out))
    assert(first.sorted == reads.distinct.sorted,
      s"unpersisted $first, distinct checkpoints ${reads.distinct}")
    val again = unpersistEvents(reads.toSet) {
      Checkpoints.releaseAll(out)
      Checkpoints.releaseAll(r.hubs)
    }
    assert(again.isEmpty, s"second release unpersisted $again")
    val ck = Checkpoints.materialize(g1.edges)
    val twice = unpersistEvents(checkpointReads(ck).toSet) {
      Checkpoints.release(ck)
      Checkpoints.release(ck)
    }
    assert(twice.size == 1, s"two releases unpersisted $twice")
  }

  test("reliable checkpoint mode produces identical kernel scores") {
    val local = Hits.run(g1, numIter = 8)
    val (lh, la) = (scoresMap(local.hubs), scoresMap(local.auths))
    val localConv = scoresMap(
      Hits.runConverged(g1, tol = 1e-9, maxIter = 20).result.auths)
    // one peel and one components engine under reliable mode too
    def structural() = (KCore.run(g1.edges, 2).collect().toSet,
      ConnectedComponents.run(pairs).collect().toSet)
    val localStructural = structural()
    // a pipeline's one-off checkpoints go through the same switch
    def naiveBayes() = {
      import spark.implicits._
      val docs = (1L to 30L).map { id =>
        val lang = Seq("en", "es", "de")((id % 3).toInt)
        (id, lang, s"$lang w${id % 4} w${id % 5} shared")
      }.toDF("doc_id", "lang", "text")
      pipelines.Classify.naiveBayes(spark, docs).collect().toSeq
    }
    val localBayes = naiveBayes()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt-spec").toString
    spark.conf.set(Checkpoints.ReliableKey, "true")
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      val reliable = Hits.run(g1, numIter = 8)
      assertApprox(scoresMap(reliable.hubs), lh, 1e-15)
      assertApprox(scoresMap(reliable.auths), la, 1e-15)
      // reliable mode really engaged: the run wrote checkpoint files
      // into the configured shared-storage dir (a silent fallback to
      // localCheckpoint would leave it empty)
      def filesUnder(p: java.io.File): Int =
        if (p.isDirectory) p.listFiles().map(filesUnder).sum
        else 1
      assert(filesUnder(new java.io.File(dir)) > 0,
        s"no reliable checkpoint files written under $dir")
      val pr = PageRank.run(g1, numIter = 4)
      assert(pr.count() > 0)
      // converged loops run the same materialize path: executor-loss
      // safety also covers the fixed-point kernels, scores unchanged
      val fpc = Hits.runConverged(g1, tol = 1e-9, maxIter = 20)
      assert(fpc.iterations > 1)
      assertApprox(scoresMap(fpc.result.auths), localConv, 1e-15)
      assert(structural() == localStructural)
      assert(naiveBayes() == localBayes)
    } finally {
      spark.conf.unset(Checkpoints.ReliableKey)
      spark.conf.unset(Checkpoints.DirKey)
    }
  }
}
