package graftbench

import java.nio.file.Paths
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Lake
import graft.connect.FixtureBarSource
import graft.pipeline.DailyPipeline
import graft.stages.Variables

/** The reference's nightly DAG: one `DailyPipeline.backfill` over the
  * history, then `DailyPipeline.daily` upserts of the following market days
  * one at a time (closed loop, one caller) until the time is spent.
  */
final class FinNightly(seed: Long, workDir: String) extends Workload {
  import FinNightly._

  private var stock: DataFrame = _
  private var etf: DataFrame = _
  private var root: String = _

  def setup(spark: SparkSession): Unit = {
    root = s"$workDir/lake"
    Dirs.delete(Paths.get(root))
    val src = new FixtureBarSource(seed)
    stock = src.dailyBars(spark, Tickers, Start, End).cache()
    etf = src.dailyBars(spark, Variables.Factors, Start, End).cache()
    stock.count(); etf.count()
    new DailyPipeline(spark, new Lake(spark, root)).writeCalendar(Start, End)
  }

  def run(spark: SparkSession, seconds: Double, tracer: Tracer, out: Outcome): Unit = {
    val lake = if (tracer.enabled) new SpyLake(spark, root, tracer) else new Lake(spark, root)
    val pipe = new DailyPipeline(spark, lake)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val histEndD = java.sql.Date.valueOf(HistEnd)

    val t0 = System.nanoTime()
    val backfilled = out.op("backfill") {
      tracer.span("backfill") {
        pipe.backfill(stock.filter(col("date") <= histEndD), etf.filter(col("date") <= histEndD))
      }
      out.e2e("backfill_s") = (System.nanoTime() - t0) / 1e9
      checkWeights(lake, None)
    }.isDefined
    if (!backfilled) return
    var before = tableState(pipe, lake, None)

    val days = Iterator.iterate(HistEnd.plusDays(1))(_.plusDays(1))
      .takeWhile(!_.isAfter(End)).filter(_.getDayOfWeek.getValue <= 5).toSeq
    val times = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val it = days.iterator
    while (it.hasNext && (times.size < MinDays || System.nanoTime() < deadline)) {
      val d = it.next()
      out.op(s"daily $d") {
        val t1 = System.nanoTime()
        val c1 = Main.processCpuS()
        tracer.span("daily")(pipe.daily(d, stock, etf))
        times += (System.nanoTime() - t1) / 1e9
        cpus += Main.processCpuS() - c1
        val after = tableState(pipe, lake, Some(d))
        checkUpsert(d, before, after)
        before = after
        checkWeights(lake, Some(d))
      }
    }
    out.e2e("daily_p50_s") = Main.median(times.toSeq)
    out.e2e("daily_cpu_s") = Main.median(cpus.toSeq)
    out.notes("daily_samples") = times.size.toString
    out.notes("daily_s") = times.map(v => f"$v%.3f").mkString(",")
  }

  /** Per-date portfolio weights are ≥ 0 and sum to 1 ± 1e-9. */
  private def checkWeights(lake: Lake, day: Option[LocalDate]): Unit = {
    val w = lake.table("portfolio_weights")
    val scoped = day.fold(w)(d => w.filter(col("date") === java.sql.Date.valueOf(d)))
    val bad = scoped.groupBy("date")
      .agg(sum("weight").as("s"), min("weight").as("lo"))
      .filter(abs(col("s") - 1.0) > 1e-9 || col("lo") < 0.0)
      .limit(3).collect()
    require(bad.isEmpty, s"portfolio weights off on ${bad.mkString(" ")}")
    day.foreach(d => require(scoped.limit(1).count() == 1, s"no portfolio weights for $d"))
  }

  /** Per daily table: (duplicate primary keys, rows not dated `day`, rows
    * dated `day`), computed in one job over the tables the upsert touches.
    */
  private def tableState(pipe: DailyPipeline, lake: Lake, day: Option[LocalDate])
      : Map[String, (Long, Long, Long)] = {
    val d = day.map(java.sql.Date.valueOf).orNull
    val frames = DailyTables.map { name =>
      val m = pipe.tables.find(_.name == name).get
      val t = lake.table(name)
      val dups = t.groupBy(m.primaryKeys.map(col): _*).count().filter(col("count") > 1)
        .agg(count(lit(1)).as("dups"))
      val dated = t.agg(
        sum(when(col("date") === lit(d), 0L).otherwise(1L)).as("other"),
        sum(when(col("date") === lit(d), 1L).otherwise(0L)).as("today"))
      dups.crossJoin(dated).select(lit(name).as("t"), col("dups"),
        coalesce(col("other"), lit(0L)), coalesce(col("today"), lit(0L)))
    }
    frames.reduce(_ unionByName _).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  /** No duplicate key anywhere, and the upsert added rows dated `day` only. */
  private def checkUpsert(day: LocalDate, before: Map[String, (Long, Long, Long)],
      after: Map[String, (Long, Long, Long)]): Unit = DailyTables.foreach { t =>
    val (dups, other, today) = after(t)
    val (_, otherB, todayB) = before(t)
    require(dups == 0, s"$t has $dups duplicate primary keys after the $day upsert")
    require(other == otherB + todayB, s"$t: the $day upsert changed rows of other dates " +
      s"($otherB + $todayB -> $other)")
    require(today > 0, s"$t: the $day upsert added no rows")
  }
}

object FinNightly {
  val Start: LocalDate = LocalDate.of(2020, 1, 2)
  val HistEnd: LocalDate = LocalDate.of(2024, 6, 28)
  val End: LocalDate = LocalDate.of(2024, 9, 30)
  val Tickers: Seq[String] = (0 until 100).map(i => f"T$i%03d")
  val MinDays = 3

  /** Tables `daily` upserts, each with a `date` column. */
  val DailyTables: Seq[String] = Seq("stock_returns", "etf_returns", "factor_loadings",
    "idio_vol", "factor_covariances", "signals", "scores", "alphas", "benchmark_weights",
    "benchmark_returns", "betas", "portfolio_weights", "portfolio_metrics")

  /** Pipeline stage → the tables its Lake calls write. */
  val Stages: Seq[(String, Seq[String])] = Seq(
    "returns" -> Seq("stock_returns", "etf_returns"),
    "factor_model" -> Seq("factor_loadings", "idio_vol"),
    "factor_covariances" -> Seq("factor_covariances"),
    "reversal" -> Seq("signals", "scores", "alphas"),
    "benchmark" -> Seq("benchmark_weights", "benchmark_returns"),
    "betas" -> Seq("betas"),
    "portfolio" -> Seq("portfolio_weights", "portfolio_metrics"))
}
