package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Library code sets no conf on a session it did not make: a loop, a
  * drain or a checkpoint that needs another conf runs on a session of its
  * own ([[Sessions.scoped]]). This spec scans the main sources for conf
  * writes and allows only those on graft's own sessions. */
class SessionConfSpec extends AnyFunSuite {

  /** (file, code line) of every conf write allowed in `src/main`. */
  private val allowed = Set(
    // the one factory of scoped sessions writes their conf
    "graft/Sessions.scala" -> "if (!s.conf.getOption(k).contains(v)) s.conf.set(k, v)",
    // the drain session's state store
    "graft/streaming/Drain.scala" -> "ds.conf.set(StateStoreKey, RocksDb)",
    // the restart gates resize a drain session between phases
    "graft/SparkEntry.scala" -> "ds => ds.conf.set(key, altered)")

  private val write =
    """\bconf\s*\.\s*(set|unset|setConf|setConfString|unsetConf)\s*\(""".r

  /** Every conf write in the code (not the comments) under `root`. */
  private[graft] def confWrites(root: java.nio.file.Path)
      : Seq[(String, String)] = {
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      val rel = root.relativize(f).toString
      java.nio.file.Files.readAllLines(f).asScala.map(_.trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("/*") ||
          l.startsWith("//"))
        .filter(l => write.findFirstIn(l).nonEmpty)
        .map(rel -> _)
    }
  }

  test("no main source sets a conf on a session graft did not make") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val writes = confWrites(root)
    assert(writes.nonEmpty, "the scan found no conf write at all")
    val unexpected = writes.filterNot(allowed.contains)
    assert(unexpected.isEmpty,
      s"conf writes outside graft's own sessions: ${unexpected.mkString("; ")}")
  }

  test("the scan sees a width flip on the caller's session") {
    val dir = java.nio.file.Files.createTempDirectory("graft-confscan")
    java.nio.file.Files.writeString(dir.resolve("Flip.scala"),
      """object Flip {
        |  // spark.conf.set in a comment is not code
        |  def withWidth[T](spark: SparkSession, k: Int)(body: => T): T = {
        |    val prev = spark.conf.get("spark.sql.shuffle.partitions")
        |    try { spark.conf.set("spark.sql.shuffle.partitions", k.toString); body }
        |    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
        |  }
        |}""".stripMargin)
    assert(confWrites(dir).map(_._1) == Seq("Flip.scala", "Flip.scala"))
  }
}
