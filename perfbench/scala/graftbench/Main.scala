package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: end-to-end values (untraced runs),
  * per-layer values (traced runs), the operation tally, and any failure.
  */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Run one operation; an exception or a failed check counts it failed. */
  def op[T](label: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch { case e: Throwable => fail(label, e); None }
  }

  def fail(label: String, e: Throwable): Unit =
    failures += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
}

/** A workload: `setup` builds everything up to the first timed call;
  * `run` measures for `seconds`.
  */
trait Workload {
  /** Session settings the workload needs beyond the common ones. */
  def sessionConf: Map[String, String] = Map.empty
  def setup(spark: SparkSession): Unit
  def run(spark: SparkSession, seconds: Double, tracer: Tracer, out: Outcome): Unit
}

/** Harness entry, launched by run.py:
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <inputDir> <workDir>
  *
  * Writes `result.json` (and, traced, `spans.jsonl`) into `workDir`.
  */
object Main {
  def session(cores: Int, extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.extensions", classOf[graft.expr.catalyst.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(name, seedS, secondsS, traceS, inputDir, workDir) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val workload: Workload = name match {
      case "fin_nightly" => new FinNightly(seed, workDir)
      case "corpus_curate" => new CorpusCurate(seed, inputDir, workDir)
      case "lake_queries" => new LakeQueries(seed, inputDir, workDir, LakeQueries.Core)
      case "lake_queries_all" => new LakeQueries(seed, inputDir, workDir, LakeQueries.All)
      case "stream_ingest" => new StreamIngest(seed, inputDir, workDir)
      case other => sys.error(s"unknown workload $other")
    }
    val out = new Outcome
    val tracer = new Tracer(traced)

    // set-up: the first session start of this JVM plus the inputs
    val t0 = System.nanoTime()
    val spark = session(cores, workload.sessionConf)
    workload.setup(spark)
    val setup = (System.nanoTime() - t0) / 1e9
    val jvmBoot = (java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3) - setup
    out.notes("jvm_boot_s") = f"$jvmBoot%.3f"
    out.notes("session_setup_s") = f"$setup%.3f"

    val counters = new EngineCounters(tracer)
    if (traced) {
      tracer.bind(spark)
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    try workload.run(spark, secondsS.toDouble, tracer, out)
    catch { case e: Throwable => out.fail("run", e) }
    if (traced) {
      org.apache.spark.graftbench.ListenerDrain.drain(spark.sparkContext, 30000)
      Layers.fill(tracer, counters, out)
      Layers.writeSpans(tracer, counters, Paths.get(workDir, "spans.jsonl"))
    }
    out.e2e("setup_in_jvm_s") = setup
    out.e2e("peak_rss_mb") = peakRssMb()
    spark.stop()
    Files.writeString(Paths.get(workDir, "result.json"), Json.result(out))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** CPU seconds this JVM has used, all threads. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** VmHWM of this JVM: peak resident set, native (RocksDB) memory included. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Dirs {
  def delete(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** Minimal JSON writer for the result file (flat maps of numbers/strings). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def result(o: Outcome): String = obj(Seq(
    "attempted" -> o.attempted.toString,
    "failed" -> o.failures.size.toString,
    "failures" -> o.failures.map(str).mkString("[", ",", "]"),
    "e2e" -> obj(o.e2e.map { case (k, v) => k -> num(v) }),
    "layers" -> obj(o.layers.map { case (k, v) => k -> num(v) }),
    "notes" -> obj(o.notes.map { case (k, v) => k -> str(v) })))
}
