package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft pins its JVM-wide Spark flags (static confs, read once per JVM)
  * in two places: build.sbt's `javaOptions`, which every sbt-forked JVM
  * gets, and tools/run/java_main_cp.sh, which runs the mains outside
  * sbt. This spec keeps the two in step. */
class LauncherFlagsSpec extends AnyFunSuite {

  private def read(path: String): String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  /** Every `-Dspark.<key>=<value>` in `text`, as (key, value). */
  private def sparkFlags(text: String): Set[(String, String)] =
    """-D(spark\.[A-Za-z0-9.]+)=([^"\s\\]+)""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toSet

  private lazy val sbtFlags = sparkFlags(read("build.sbt"))

  test("java_main_cp.sh passes every -Dspark flag build.sbt sets") {
    assert(sbtFlags.map(_._1).contains("spark.sql.codegen.cache.maxEntries"))
    assert(sbtFlags.map(_._1)
      .contains("spark.sql.artifact.isolation.enabled"))
    val missing = sbtFlags -- sparkFlags(read("tools/run/java_main_cp.sh"))
    assert(missing.isEmpty, s"build.sbt flags missing from " +
      s"java_main_cp.sh: ${missing.map { case (k, v) => s"-D$k=$v" }}")
  }

  test("the forked test JVM runs with build.sbt's -Dspark flags") {
    sbtFlags.foreach { case (k, v) => assert(sys.props.get(k).contains(v), k) }
  }
}
