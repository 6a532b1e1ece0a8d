package graft
import java.nio.file.{Files, Paths}

import graft.tools.{Measure, SessionConf}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Measure.session(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for fast iteration (same knob as Bench)
    val subset = SparkEntry.querySubset(sys.env.get("SPARK_GRAFT_QUERIES"))
    val selected = subset match {
      case Some(qs) => SparkEntry.queries.view.filterKeys(qs).toMap
      case None     => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      SessionConf.restoring(spark) {
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operator-internal persists must not accumulate across the 100+
      // queries (both the cache manager and localCheckpoint RDDs)
      finally Measure.release(spark)
      }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // self-describing marker for DESIGNED rows-only entries: the driver's
    // compare reports them as `no_oracle`, which reads as breakage in a
    // correctness table — this sidecar names each one and the artifact
    // that pins its correctness instead (for l5_qp_weights, the green
    // l5_qp_certificate)
    val designed = SparkEntry.rowsOnlyByDesign
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/rows_only_by_design.json"), designed)
    spark.stop()
  }
}
