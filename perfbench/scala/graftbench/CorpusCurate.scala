package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Lake
import graft.pipeline.CorpusPipeline

/** Corpus curation: one `CorpusPipeline.run` over the generated
  * `documents`, with the tenth of doc ids picked by the seed held out as
  * the eval set. It is the first run of the pipeline in a fresh JVM, as a
  * nightly curation job pays it; `--seconds` does not repeat it.
  */
final class CorpusCurate(seed: Long, inputDir: String, workDir: String) extends Workload {
  private var all: DataFrame = _
  private var nDocs = 0L

  def setup(spark: SparkSession): Unit = {
    all = spark.read.parquet(s"$inputDir/documents.parquet").select("doc_id", "text").cache()
    nDocs = all.filter(col("doc_id") % 10 =!= heldOut).count()
  }

  private def heldOut: Long = Math.floorMod(seed, 10L)

  def run(spark: SparkSession, seconds: Double, tracer: Tracer, out: Outcome): Unit = {
    val docs = all.filter(col("doc_id") % 10 =!= heldOut)
    val evalDocs = all.filter(col("doc_id") % 10 === heldOut)
    val root = s"$workDir/corpus"
    val lake = if (tracer.enabled) new SpyLake(spark, root, tracer) else new Lake(spark, root)
    out.op("curate") {
      val t0 = System.nanoTime()
      val c0 = Main.processCpuS()
      tracer.span("corpus") {
        new CorpusPipeline(spark, lake).run(docs, Map("en" -> 0.5, "de" -> 0.5),
          defaultRate = 0.9, evalDocs = Some(evalDocs))
      }
      out.e2e("curate_s") = (System.nanoTime() - t0) / 1e9
      out.e2e("curate_cpu_s") = Main.processCpuS() - c0
      check(lake)
    }
    Dirs.delete(Paths.get(root))
  }

  private def check(lake: Lake): Unit = {
    val stats = lake.table("corpus_stats").collect()
    stats.foreach { r =>
      val (docs, kept, sampled) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("n_sampled"))
      require(sampled <= kept && kept <= docs,
        s"corpus_stats ${r.getAs[String]("lang")}: sampled $sampled kept $kept docs $docs")
    }
    val total = stats.map(_.getAs[Long]("n_docs")).sum
    require(total == nDocs, s"corpus_stats counts $total docs, input has $nDocs")
    val clusters = lake.table("doc_clusters")
    val badCanon = clusters.filter(col("canon_id") > col("doc_id") ||
      col("is_dup") =!= (col("canon_id") =!= col("doc_id"))).count()
    require(badCanon == 0, s"$badCanon doc_clusters rows break canon_id <= doc_id / is_dup")
    val kept = clusters.filter(!col("is_dup")).select("doc_id")
      .join(lake.table("doc_annotations").filter(!col("repetitive")).select("doc_id"), "doc_id")
    val stray = lake.table("corpus_sample").select("doc_id").join(kept, Seq("doc_id"), "left_anti")
      .count()
    require(stray == 0, s"$stray sampled docs are not kept docs")
  }
}
