package graft
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.gates query → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `Verify <sfDir> <outDir> [query ...]` — extra args restrict the
  * parquet dumps to the named queries (local iteration); the full
  * oracle_sql.json is written either way. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Sessions.local(Sessions.defaultCpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Family-ordered like Bench: each graph family's persisted blocks are
    // dropped as soon as its last query is dumped.
    val gates = SparkEntry.gates.filter(g => only.isEmpty || only(g.name))
    Bench.familyRuns(gates).foreach { case (fam, gs) =>
      gs.foreach { g =>
        try g.run(spark, sfDir, None)(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${g.name}"))
        catch { case e: Throwable =>
          System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
        }
      }
      fam.foreach(k => GraphIO.evict(spark, sfDir, Seq(k)))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The converged kernels' oracles unroll the fixed point to its
    // iteration count, which is a property of the corpus (e.g. HITS: 12
    // at sf0.01, 14 at sf0.001). Each kernel appends its actual count as
    // a marker row, so read the count it just reported for THIS sfDir
    // and re-derive the oracle (the gate's `rederive`) — Verify is then
    // scale-correct with no per-sf constant edits. The marker's score
    // column is selected BY NAME (a schema reorder must fail loudly, not
    // misread a value), and a fallback to the pinned sf0.01 oracle is
    // logged.
    // Two marker rows per converged kernel: the iteration count (id =
    // 'n_iter') and the kernel's own converged verdict (0|1 under id =
    // 'converged'). Where the dump has a 'kind' column (hits/salsa) the
    // marker rows are tagged 'iter' — filter on it too so a node
    // literally named "n_iter" could never shadow the marker.
    def reportedMarker(name: String, markerVal: String): Option[Double] =
      try {
        val base = spark.read.parquet(s"$outDir/$name")
        val marker =
          if (base.columns.contains("kind")) col("kind") === "iter" &&
            col("id") === markerVal
          else col("id") === markerVal
        Some(base.where(marker).select(col("score")).head.getDouble(0))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name: could not read reported " +
          s"'$markerVal' marker (${e.getMessage}); " +
          "keeping the pinned sf0.01 oracle")
        None
      }
    val oracles = SparkEntry.gates.map { g =>
      val rederived = g.rederive.filter(_ => only.isEmpty || only(g.name))
        .flatMap(gen => for {
          n <- reportedMarker(g.name, "n_iter")
          c <- reportedMarker(g.name, "converged")
        } yield gen(n.toInt, c != 0.0))
      g.name -> rederived.getOrElse(g.oracle())
    }.toMap
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
