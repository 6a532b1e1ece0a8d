package graft.tools

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.StreamingQuery

import graft.tools.Measure.productEncoder

/** Diagnostic main for the streaming bench entries: replays one StreamOps
  * operator exactly the way `graft.Bench` does ([[Measure.replay]]:
  * bounded MemoryStream, ~10 real micro-batches, noop sink) and prints
  * the per-batch `StreamingQueryProgress` duration breakdown plus every
  * state operator's custom metrics — the data needed to attribute
  * wall-clock between query planning, state-store load/commit, and the
  * actual work.
  *
  * Knobs (env): SPARK_GRAFT_SF_DIR, SPARK_GRAFT_STATE_STORE
  * (rocksdb|hdfs), SPARK_GRAFT_CPUS (threads), SPARK_GRAFT_PARTS
  * (shuffle/state partitions; default = cpus), SPARK_GRAFT_PROBE_OP
  * (rollup|sessionize|neardedup|intervaljoin), SPARK_GRAFT_BATCHES
  * (default 10), SPARK_GRAFT_CHANGELOG / SPARK_GRAFT_BOUNDED_MEM (the
  * state-store attribution levers, see [[Measure.session]]).
  *
  * Not part of any pipeline or bench artifact — a profiling tool only.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", cpus)
    val op = sys.env.getOrElse("SPARK_GRAFT_PROBE_OP", "rollup")
    val nBatches = Measure.envCount("SPARK_GRAFT_BATCHES").getOrElse(10)

    // measurement-only knob: "false" disables the no-new-data micro-batch
    // that advances the watermark after each data batch, pricing that
    // half of the commit protocol explicitly. NOT for the bench — late
    // state would only evict on the next data batch, changing semantics.
    val spark = Measure.session(cpus, parts, extra =
      sys.env.get("SPARK_GRAFT_NO_DATA_BATCHES")
        .map("spark.sql.streaming.noDataMicroBatches.enabled" -> _).toMap)

    // per-drain progress lines shared by both replay shapes: wall-clock
    // (of the whole drain — a drain covers the data batch AND the
    // watermark-advance batch for watermarked operators), the driver's
    // durationMs phase breakdown, then EVERY state operator
    // (stream-stream joins surface their symmetric-hash state here; its
    // commitTimeMs/stateMemory is the per-batch fixed cost under test).
    // ALL batches new since the previous drain are printed, not just
    // the last one — the data batch (puts, removed=0) and the
    // watermark batch (rows=0, removals) have different cost profiles
    // and attributing commit time needs both visible.
    var lastReported = -1L
    def report(q: StreamingQuery, batchSec: Double): Unit = {
      val fresh = q.recentProgress.filter(_.batchId > lastReported)
      fresh.foreach { p =>
        val dur = p.durationMs
        val soStr = p.stateOperators.map { s =>
          val custom = {
            import scala.jdk.CollectionConverters._
            s.customMetrics.asScala.filter(_._2 != 0L)
              .map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(" ")
          }
          s"op=${s.operatorName} stateRows=${s.numRowsTotal} " +
            s"updated=${s.numRowsUpdated} removed=${s.numRowsRemoved} " +
            s"commitMs=${s.commitTimeMs} custom[$custom]"
        }.mkString(" | ")
        val wall = if (p.batchId == fresh.last.batchId) f"${batchSec}%6.2fs" else "      "
        println(f"batch=${p.batchId}%3d drain=$wall " +
          s"durationMs=${dur} rows=${p.numInputRows} $soStr")
      }
      fresh.lastOption.foreach(p => lastReported = p.batchId)
    }

    // each op collects only its own input (all lazy): a neardedup probe
    // must not pay an events-table collect, nor rollup a documents one.
    // All inputs/parameters come from StreamBenchShapes — the one
    // definition site shared with graft.Bench, so this probe provably
    // attributes the same query the bench wall-clocks.
    lazy val eventRows: IndexedSeq[graft.streaming.StreamOps.Event] =
      graft.streaming.StreamBenchShapes.loadEvents(spark, sfDir)
    def events(mk: Dataset[graft.streaming.StreamOps.Event] => Dataset[_]) =
      Measure.replay(spark, eventRows, nBatches)(mk, report)

    val replayed = op match {
      case "rollup" => events(ds => graft.streaming.StreamOps.hourlyRollup(ds.toDF()))
      case "sessionize" => events(graft.streaming.StreamOps.sessionize(_))
      case "neardedup" =>
        Measure.replay(spark, graft.streaming.StreamBenchShapes.loadDocs(spark, sfDir),
          nBatches)(graft.streaming.StreamOps.streamingNearDedup(_), report)
      case "intervaljoin" =>
        Measure.replay2(spark, graft.streaming.StreamBenchShapes.clicksOf(eventRows),
          graft.streaming.StreamBenchShapes.buysOf(eventRows), nBatches)(
          graft.streaming.StreamBenchShapes.intervalJoinQuery, report)
      case other => sys.error(s"unknown SPARK_GRAFT_PROBE_OP $other")
    }
    println(f"TOTAL ${replayed.sec}%.2fs op=$op store=${Measure.stateStore} " +
      s"parts=$parts cpus=$cpus batches=$nBatches")
    spark.stop()
  }
}
