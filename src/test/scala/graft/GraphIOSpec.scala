package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphIOSpec extends SparkSuite {

  test("reference-layout CSV loaders: explicit schema, clean names") {
    val dir = Files.createTempDirectory("graft-csv").toFile
    dir.deleteOnExit()
    val nodesCsv = new java.io.File(dir, "nodes.csv")
    Files.writeString(nodesCsv.toPath,
      """id:ID,names,size:int,labels:LABEL,rho:double
        |ATF6,ATF6,1636,gene:protein,0.6766465465909092
        |Calcium,Calcium,8533,drug,0.2054015438301512
        |""".stripMargin)
    val edgesCsv = new java.io.File(dir, "edges.csv")
    Files.writeString(edgesCsv.toPath,
      """src:START_ID,dst:END_ID,mrho:double
        |ATF6,Calcium,0.5
        |""".stripMargin)
    val n = GraphIO.readNodesCsv(spark, nodesCsv.getAbsolutePath)
    assert(n.columns.toSeq == Seq("id", "names", "size", "label", "rho"))
    val rows = n.orderBy("id").collect()
    assert(rows(0).getString(0) == "ATF6" && rows(0).getInt(2) == 1636)
    assert(rows(0).getString(3) == "gene:protein") // whole-string label
    val e = GraphIO.readEdgesCsv(spark, edgesCsv.getAbsolutePath)
    assert(e.columns.toSeq == Seq("src", "dst", "weight"))
    assert(e.head.getDouble(2) == 0.5)
  }

  test("derived order graph: prefixed namespaces, labels from prefix") {
    val g = GraphIO.orderGraph(spark, "/root/testdata/sf0.001")
    val labels = g.nodes.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(labels.keySet == Set("customer", "order", "part"))
    // every edge endpoint appears in the node set
    val dangling = g.edges.select(col("src").as("id"))
      .union(g.edges.select(col("dst").as("id")))
      .join(g.nodes, Seq("id"), "left_anti").count()
    assert(dangling == 0)
    // part→part edges exist (lead-window derivation)
    val pp = g.edges.filter(substring(col("src"), 1, 1) === "p" &&
      substring(col("dst"), 1, 1) === "p").count()
    assert(pp > 0)
  }

  test("bucketed graph layout round-trips and exposes bucket metadata") {
    val g = GraphIO.orderGraph(spark, "/root/testdata/sf0.001")
    GraphIO.writeBucketedGraph(g, "giospec", buckets = 4)
    try {
      val g2 = Graph(spark.table("giospec_nodes"),
        spark.table("giospec_edges_by_dst"))
      assert(g2.edges.count() == g.edges.count())
      assert(spark.table("giospec_edges_by_src").count() == g.edges.count())
      assert(g2.nodes.count() == g.nodes.count())
      val desc = spark.sql("DESCRIBE TABLE EXTENDED giospec_edges_by_dst")
        .collect().map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
      assert(desc.contains("Num Buckets 4"))
      assert(desc.contains("Bucket Columns [`dst`]"))
      // a groupBy on the bucket key of a bucketed scan plans no exchange
      val plan = g2.edges.groupBy("dst").count()
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"))
    } finally {
      Seq("giospec_edges_by_dst", "giospec_edges_by_src", "giospec_nodes")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("evict unpersists cached graphs and forces a rebuild") {
    val sfDir = "/root/testdata/sf0.001"
    val g1 = GraphIO.orderGraph(spark, sfDir)
    assert(g1.edges.storageLevel.useMemory) // cached while live
    assert(GraphIO.orderGraph(spark, sfDir) eq g1) // cache hit
    GraphIO.evict(spark, sfDir)
    assert(!g1.edges.storageLevel.useMemory) // blocks released
    assert(!g1.nodes.storageLevel.useMemory)
    val g2 = GraphIO.orderGraph(spark, sfDir) // entry dropped → rebuilt
    assert(g2 ne g1)
    assert(g2.nodes.count() == g1.nodes.count())
  }

  test("events.ts normalizes to epoch-nanos BIGINT from timestamp parquet " +
      "without touching session conf") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-events").toString
    // micros-precision instant 2026-01-02T03:04:05.123456Z — written as
    // parquet timestamp (the unit the round-6 driver testdata ships)
    val micros = 1767323045123456L
    Seq((1L, new java.sql.Timestamp(micros / 1000), 7L, "click", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(lit(micros)))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val before = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    val got = GraphIO.events(spark, dir)
    assert(got.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(got.select(col("ts")).collect()(0).getLong(0) == micros * 1000L)
    // the caller's session conf is never mutated
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      == before)
  }

  test("events and a drained eventsStream read TIMESTAMP(NANOS) parquet " +
      "as epoch-nanos BIGINT without touching session conf") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-events-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (UTF8);
        |  required double value;
        |}""".stripMargin)
    // nanosecond digits a micros read would lose
    val nanos = Seq(1767323045123456789L, 1767323046000000001L)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try nanos.zipWithIndex.foreach { case (ts, i) =>
      w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", i.toLong).append("ts", ts)
        .append("user_id", 7L).append("event_type", "click")
        .append("value", 1.5))
    } finally w.close()
    val before = spark.conf.getAll
    // without nanosAsLong Spark rejects the file outright
    intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(s"$dir/events.parquet").schema)
    def tsOf(df: DataFrame): Seq[Long] =
      df.orderBy(col("event_id")).select(col("ts")).collect()
        .map(_.getLong(0)).toSeq
    val batch = GraphIO.events(spark, dir)
    assert(batch.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(tsOf(batch) == nanos)
    val drained = streaming.Drain(spark, batch, "append")(ds =>
      GraphIO.eventsStream(ds, dir).select(col("event_id"), col("ts")))
    assert(tsOf(drained) == nanos)
    assert(spark.conf.getAll == before)
  }

  test("documentsJsonl: permissive parse, corrupt lines audited verbatim") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl")
    val f = dir.resolve("docs.jsonl")
    java.nio.file.Files.writeString(f,
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s0", "n_chars": 11}
        |{"doc_id": 2, "text": "more text", "lang": "es", "source": "s1", "n_chars": 9}
        |{this line is not json at all
        |{"doc_id": 3, "text": "after the bad line", "lang": "en", "source": "s0", "n_chars": 18}
        |""".stripMargin)
    val parsed = GraphIO.documentsJsonl(spark, f.toString)
    try {
      val clean = GraphIO.jsonlClean(parsed)
      assert(clean.columns.toSeq ==
        Seq("doc_id", "text", "lang", "source", "n_chars"))
      assert(clean.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
      val bad = GraphIO.jsonlCorrupt(parsed).collect().map(_.getString(0))
      assert(bad.toSeq == Seq("{this line is not json at all"))
    } finally parsed.unpersist()
  }

  test("SparkEntry.entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql covers every queries key") {
    // hits_converged included since r2: the fixed point is determinized
    // by unrolling to the gate corpus's converged iteration count.
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    // one registry entry per gate: a repeated name would shadow a gate
    val names = SparkEntry.gates.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
    assert(names.size == 182)
    // a family Bench does not run would drop its gates from the run
    assert(SparkEntry.gates.map(_.family).toSet
      .subsetOf(Bench.familyOrder.toSet))
    // ScaleBench times registered gates only
    assert(ScaleBench.sweep.toSet.subsetOf(names.toSet))
  }

  test("the session factory carries the shipped conf") {
    // TestSpark is Sessions.local(4, ...): the conf every main ships
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // every loop and drain plans on a scoped session, so it must carry
    // graft's optimizer rules too
    val scoped = Sessions.scoped(spark, "spark.sql.shuffle.partitions" -> "1")
    assert(scoped.conf.get("spark.sql.session.timeZone") == "UTC")
    Seq(spark, scoped).foreach { s =>
      val rules = s.sessionState.optimizer.extendedOperatorOptimizationRules
      assert(rules.contains(plans.DisjunctiveSemiJoinRewrite))
      assert(rules.contains(plans.TokenContainsPushdown))
    }
    // the per-release "locally checkpointed" warning is quieted
    assert(org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.rdd.MapPartitionsRDD").getLevel ==
      org.apache.logging.log4j.Level.ERROR)
  }
}
