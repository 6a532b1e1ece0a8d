package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.tools.SessionConf

/** One analyst on a session: the `names` of `SparkEntry.queries` sent one
  * after another in a seed-chosen order (closed loop, one client), each
  * built and written to parquet for the oracle check in run.py. One pass
  * is timed, the first in a fresh JVM; `--seconds` does not repeat it.
  */
final class LakeQueries(seed: Long, inputDir: String, workDir: String, names: Seq[String])
    extends Workload {
  private val order = new scala.util.Random(seed).shuffle(names)

  def setup(spark: SparkSession): Unit =
    // the tables are read by each frame build; listing them once here
    // keeps first-touch file-system cost out of the first timed query
    graft.catalog.Tables.names.foreach { t =>
      if (Files.exists(Paths.get(s"$inputDir/$t.parquet")))
        graft.catalog.Tables.load(spark, inputDir, t).schema
    }

  def run(spark: SparkSession, seconds: Double, tracer: Tracer, out: Outcome): Unit = {
    Files.writeString(Paths.get(workDir, "oracle_sql.json"),
      Json.obj(order.map(n => n -> Json.str(SparkEntry.oracleSql(n)))))
    var (secs, cpu) = (0.0, 0.0)
    tracer.span("queries") {
      order.foreach { n =>
        out.op(n) {
          val (s, c) = oneQuery(spark, n, tracer)
          secs += s
          cpu += c
          if (tracer.enabled) out.layers(s"query.${n}_s") = s
        }
      }
    }
    out.e2e("queries_s") = secs
    out.e2e("queries_cpu_s") = cpu
  }

  /** Build and execute one query; returns its wall and JVM CPU seconds,
    * both without the clean-up after it.
    */
  private def oneQuery(spark: SparkSession, n: String, tracer: Tracer): (Double, Double) = {
    val t0 = System.nanoTime()
    val c0 = Main.processCpuS()
    SessionConf.restoring(spark) {
      tracer.span(s"query:$n") {
        val df = tracer.span("build")(SparkEntry.queries(n)(spark, inputDir))
        tracer.span("exec")(df.write.mode("overwrite").parquet(s"$workDir/results/$n"))
      }
    }
    val took = ((System.nanoTime() - t0) / 1e9, Main.processCpuS() - c0)
    release(spark)
    took
  }

  /** Drop caches and checkpointed RDDs a query left, outside the clock. */
  private def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }
}

object LakeQueries {
  val All: Seq[String] = Seq(
    "s1_scan_project", "q5_star_join", "q10_returned_items", "w2_reversal_signal",
    "w4_ewma_native", "w6_rolling_ols", "l5_qp_certificate", "j13b_range_join_topk",
    "j13d_range_join_sweep", "j13e_range_join_agg", "d5_dedup_embcos",
    "d6c_dedup_clusters_star", "d6e_dedup_clusters_auto", "t6_length_percentiles",
    "t7_tfidf", "t8_hll_cardinality", "n5_ann_pq")
  /** Queries of the modules no DAG runs: RangeJoin, rolling OLS (`algo`),
    * native EWMA (`expr`), Similarity/PQ.
    */
  val Core: Seq[String] = Seq(
    "j13b_range_join_topk", "j13d_range_join_sweep", "j13e_range_join_agg",
    "w6_rolling_ols", "w4_ewma_native", "n5_ann_pq")
}
