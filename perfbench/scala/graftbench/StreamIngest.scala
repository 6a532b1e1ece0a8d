package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

import graft.streaming.StreamOps

/** Open loop: the harness thread, acting as the generator, lands the
  * pre-cut event files into a watched directory on a fixed schedule (it
  * does not slow when Spark does) while two concurrent queries read it — `StreamOps.hourlyRollup`
  * and the watermarked `StreamOps.sessionize` — on the RocksDB changelog
  * state store. Lag of a file = end of the last micro-batch (across both
  * queries) that consumed it minus its scheduled landing time.
  */
final class StreamIngest(seed: Long, inputDir: String, workDir: String) extends Workload {
  import StreamIngest._

  override def sessionConf: Map[String, String] = StreamIngest.sessionConf

  private var files: Seq[Path] = Nil
  private var schema: StructType = _
  private var totalRows = 0L
  private var warmRows = 0L

  def setup(spark: SparkSession): Unit = {
    val parts = Paths.get(inputDir, "events_parts")
    val st = Files.list(parts)
    files = try st.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq.sorted
      finally st.close()
    val all = spark.read.parquet(parts.toString)
    schema = all.schema
    totalRows = all.count()
    warmRows = spark.read.parquet(files.head.toString).count()
  }

  def run(spark: SparkSession, seconds: Double, tracer: Tracer, out: Outcome): Unit = {
    val watch = Paths.get(workDir, "landing")
    Dirs.delete(watch); Files.createDirectories(watch)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val interval = seconds * 1000.0 / (files.size - 1)
    val scheduled = mutable.ArrayBuffer.empty[Double]
    val landed = mutable.ArrayBuffer.empty[Double]

    tracer.span("stream") {
      val stream = normalize(spark.readStream.schema(schema).parquet(watch.toString))
      import spark.implicits._
      val rollup = StreamOps.hourlyRollup(stream).writeStream.format("memory")
        .queryName("rollup").outputMode("append")
        .option("checkpointLocation", s"$workDir/cp/rollup").start()
      val sessions = StreamOps.sessionize(
          stream.select("user_id", "event_id", "ts", "value").as[StreamOps.Event],
          timestampIds = true, eventTimeWatermark = Some("1 hour"))
        .writeStream.format("memory").queryName("sessions").outputMode("append")
        .option("checkpointLocation", s"$workDir/cp/sessions").start()
      val queries = Seq("rollup" -> rollup, "sessions" -> sessions)
      def rowsRead(q: StreamingQuery) = progress.asScala.filter(_.id == q.id).map(_.numInputRows).sum
      def awaitRows(n: Long): Unit = {
        val by = System.currentTimeMillis() + DrainMs
        while (queries.exists(q => rowsRead(q._2) < n) &&
            System.currentTimeMillis() < by && queries.forall(_._2.isActive))
          Thread.sleep(20)
      }
      // copy under a hidden name, then rename into view
      def land(f: Path): Unit = {
        val hidden = watch.resolve("." + f.getFileName)
        Files.copy(f, hidden)
        Files.move(hidden, watch.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      }

      // warm-up: the first file lands unscheduled and both queries finish
      // it before the schedule starts, so lag measures steady ingest
      land(files.head)
      awaitRows(warmRows)
      val t0 = System.currentTimeMillis() + 200.0
      val c0 = Main.processCpuS()
      files.tail.zipWithIndex.foreach { case (f, i) =>
        val at = t0 + i * interval
        val wait = (at - System.currentTimeMillis()).toLong
        if (wait > 0) Thread.sleep(wait)
        land(f)
        scheduled += at
        landed += System.currentTimeMillis().toDouble
      }
      // drain: wait until both queries have read every row, bounded
      awaitRows(totalRows)
      out.e2e("ingest_cpu_s") = Main.processCpuS() - c0
      queries.foreach { case (_, q) => q.processAllAvailable(); q.stop() }
      queries.foreach { case (_, q) => q.exception.foreach(e => throw e) }
    }
    spark.streams.removeListener(listener)

    // which batch of each query consumed each file (the file-source log)
    val byQuery = Seq("rollup", "sessions").map(n => n -> fileBatches(Paths.get(workDir, "cp", n)))
    val prog = progress.asScala.toSeq
    val ids = Seq("rollup" -> prog.find(_.name == "rollup"), "sessions" -> prog.find(_.name == "sessions"))
      .map { case (n, p) => n -> p.map(_.id) }.toMap
    def batchEnd(q: String, b: Long): Option[Double] =
      prog.find(p => ids(q).contains(p.id) && p.batchId == b).map(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").doubleValue)

    val lags = Array.fill(files.size - 1)(Double.NaN)
    files.zipWithIndex.foreach { case (f, i) =>
      val name = f.getFileName.toString
      out.op(s"file $name") {
        val ends = byQuery.map { case (q, m) =>
          val b = m.getOrElse(name, throw new IllegalStateException(s"$q never consumed $name"))
          batchEnd(q, b).getOrElse(throw new IllegalStateException(s"$q batch $b has no progress"))
        }
        if (i > 0) lags(i - 1) = (ends.max - scheduled(i - 1)) / 1000.0
      }
    }
    out.op("rollup check")(checkRollup(spark, watch))

    val sorted = lags.filterNot(_.isNaN).sorted
    out.e2e("lag_p50_s") = Main.median(sorted.toSeq)
    if (sorted.size > TailBeyond) {
      val k = sorted.size - TailBeyond - 1
      out.e2e("lag_tail_s") = sorted(k)
      out.notes("lag_tail_percentile") = f"${100.0 * (k + 1) / sorted.size}%.1f"
    }
    out.notes("files") = files.size.toString
    out.notes("rate_files_per_s") = f"${(files.size - 1) / seconds}%.2f"

    if (tracer.enabled) {
      val data = prog.filter(_.numInputRows > 0)
      def p50(f: StreamingQueryProgress => Double) = Main.median(data.map(f))
      def dur(k: String)(p: StreamingQueryProgress) =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      out.layers("streaming.batches") = prog.size.toDouble
      out.layers("streaming.add_batch_ms_p50") = p50(dur("addBatch"))
      out.layers("streaming.wal_commit_ms_p50") = p50(dur("walCommit"))
      out.layers("streaming.commit_offsets_ms_p50") = p50(dur("commitOffsets"))
      out.layers("streaming.latest_offset_ms_p50") = p50(dur("latestOffset"))
      out.layers("streaming.state_commit_ms_p50") =
        p50(_.stateOperators.map(_.commitTimeMs.toDouble).sum)
      val last = ids.values.flatten.flatMap(id => prog.filter(_.id == id).lastOption)
      out.layers("streaming.state_rows") = last.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble
      out.layers("streaming.state_mb") =
        last.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum / 1048576.0
      // files landed but not yet consumed by both queries, at each landing
      val consumedAt = scheduled.indices.map { i =>
        if (lags(i).isNaN) Double.PositiveInfinity else scheduled(i) + lags(i) * 1000.0
      }
      out.layers("streaming.backlog_files_max") = landed.map(t =>
        landed.indices.count(i => landed(i) <= t && consumedAt(i) > t)).max.toDouble
      out.layers("gen.late_max_s") =
        scheduled.zip(landed).map { case (s, l) => (l - s) / 1000.0 }.max
    }
  }

  private def normalize(raw: DataFrame): DataFrame = schema("ts").dataType match {
    case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampType => raw
    case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
  }

  /** Every emitted rollup window equals the batch rollup over the same events. */
  private def checkRollup(spark: SparkSession, watch: Path): Unit = {
    val emitted = spark.table("rollup")
    val batch = StreamOps.hourlyRollup(normalize(spark.read.schema(schema).parquet(watch.toString)))
    val n = emitted.count()
    require(n > 0, "the rollup emitted no window")
    val wrong = emitted.exceptAll(batch).count()
    require(wrong == 0, s"$wrong of $n emitted rollup windows differ from the batch rollup")
  }

  /** File name → batch id, from a query's file-source log (plain and
    * compacted entries alike).
    */
  private def fileBatches(cp: Path): Map[String, Long] = {
    val dir = cp.resolve("sources").resolve("0")
    val st = Files.list(dir)
    val logs = try st.iterator.asScala.filterNot(_.getFileName.toString.startsWith(".")).toSeq
      finally st.close()
    val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    logs.flatMap(p => Files.readAllLines(p).asScala).collect {
      case Entry(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong
    }.toMap
  }
}

object StreamIngest {
  val DrainMs = 60000L
  val TailBeyond = 10

  val sessionConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
    "spark.sql.streaming.schemaInference" -> "false")
}
