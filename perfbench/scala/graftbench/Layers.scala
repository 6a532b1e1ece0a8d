package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, computed from the spans and the
  * engine counters attributed to them. A phase is a root span (`backfill`,
  * `daily`, `corpus`, `queries` — one pass — or `stream`); each metric is
  * per phase span, so runs with different op counts compare. Names that a
  * workload does not exercise read 0.
  */
object Layers {
  val Phases = Seq("backfill", "daily", "corpus", "queries", "stream")
  val SparkCounters = Seq("jobs", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "planning_s", "no_job_s")
  val CorpusStages: Seq[(String, Seq[String])] = Seq(
    "annotate" -> Seq("doc_annotations"), "clusters" -> Seq("doc_clusters"),
    "sample" -> Seq("corpus_sample"), "stats" -> Seq("corpus_stats"),
    "decontaminate" -> Seq("eval_contamination"))
  val Streaming = Seq("batches", "add_batch_ms_p50", "wal_commit_ms_p50",
    "commit_offsets_ms_p50", "latest_offset_ms_p50", "state_commit_ms_p50", "state_rows",
    "state_mb", "backlog_files_max")

  /** Every per-layer name, in BENCHMARK.json order. */
  val names: Seq[String] =
    Seq("backfill", "daily").flatMap(p => FinNightly.Stages.map(s => s"pipeline.$p.${s._1}_s")) ++
      CorpusStages.map(s => s"pipeline.corpus.${s._1}_s") ++
      Seq("backfill", "daily", "corpus").flatMap(p =>
        Seq(s"pipeline.$p.driver_s", s"pipeline.$p.eager_jobs")) ++
      Seq("append_s", "optimize_s", "optimize_jobs", "partitions_rewritten", "write_amp",
        "files").map("catalog.daily." + _) ++
      Seq("catalog.backfill.create_s", "catalog.backfill.bytes_written_mb") ++
      Seq("create_s", "append_s", "optimize_s", "write_amp").map("catalog.corpus." + _) ++
      Phases.flatMap(p => SparkCounters.map(c => s"spark.$p.$c")) ++
      Seq("operators.build_s", "operators.build_jobs", "operators.exec_s") ++
      LakeQueries.All.map(n => s"query.${n}_s") ++
      Streaming.map("streaming." + _) :+ "gen.late_max_s"

  private val MB = 1048576.0

  def fill(tracer: Tracer, engine: EngineCounters, out: Outcome): Unit = {
    val spans = tracer.spans.filterNot(_.end.isNaN)
    val children = spans.groupBy(_.parent)
    val counters = engine.perSpan
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def c(s: Span) = counters.get(s.id)
    val jobIntervals = engine.jobIntervals.asScala.toSeq
    val put = out.layers

    Phases.foreach { phase =>
      val roots = spans.filter(s => s.parent == -1 && s.name == phase)
      val n = roots.size.max(1).toDouble
      val all = roots.flatMap(subtree)
      def sum(f: Counters => Double) = all.flatMap(c).map(f).sum / n
      put(s"spark.$phase.jobs") = sum(_.jobs.toDouble)
      put(s"spark.$phase.tasks") = sum(_.tasks.toDouble)
      put(s"spark.$phase.executor_cpu_s") = sum(_.cpuNs / 1e9)
      put(s"spark.$phase.executor_run_s") = sum(_.runMs / 1e3)
      put(s"spark.$phase.gc_s") = sum(_.gcMs / 1e3)
      put(s"spark.$phase.shuffle_write_mb") = sum(_.shuffleWrite / MB)
      put(s"spark.$phase.spill_mb") = sum(_.spill / MB)
      put(s"spark.$phase.planning_s") = sum(_.planningMs / 1e3)
      put(s"spark.$phase.no_job_s") =
        roots.map(r => r.dur - covered(r.start, r.end, jobIntervals)).sum / 1e3 / n

      // catalog spans are the direct children of a pipeline phase span
      val catalog = roots.flatMap(r => children.getOrElse(r.id, Nil))
        .filter(_.name.startsWith("catalog."))
      def op(s: Span) = s.name.stripPrefix("catalog.").takeWhile(_ != ':')
      def table(s: Span) = s.name.dropWhile(_ != ':').drop(1)
      def secs(ss: Seq[Span]) = ss.map(_.dur).sum / 1e3 / n
      def attr(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
      val appends = catalog.filter(op(_) == "append")
      val optimizes = catalog.filter(op(_) == "optimize")
      val stages = phase match {
        case "backfill" | "daily" => FinNightly.Stages
        case "corpus" => CorpusStages
        case _ => Nil
      }
      stages.foreach { case (stage, tables) =>
        put(s"pipeline.$phase.${stage}_s") =
          secs((appends ++ optimizes).filter(s => tables.contains(table(s))))
      }
      if (stages.nonEmpty && roots.nonEmpty) {
        val driver = roots.map(r => self(r, children)).sum / 1e3 / n
        put(s"pipeline.$phase.driver_s") = driver
        put(s"pipeline.$phase.eager_jobs") = roots.flatMap(c).map(_.jobs).sum / n
        // the phase's wall time against its catalog plus driver self times
        out.notes(s"$phase.wall_s") = f"${secs(roots)}%.4f"
        out.notes(s"$phase.catalog_plus_driver_s") = f"${secs(catalog) + driver}%.4f"
      }
      val appended = attr(appends, "bytes_added")
      val writeAmp =
        if (appended > 0) (appended + attr(optimizes, "bytes_added")) / appended else 0.0
      phase match {
        case "daily" =>
          put("catalog.daily.append_s") = secs(appends)
          put("catalog.daily.optimize_s") = secs(optimizes)
          put("catalog.daily.optimize_jobs") =
            optimizes.flatMap(subtree).flatMap(c).map(_.jobs).sum / n
          put("catalog.daily.partitions_rewritten") = attr(optimizes, "partitions") / n
          put("catalog.daily.write_amp") = writeAmp
          // live part files after the run: the last call on each table
          put("catalog.daily.files") = spans.filter(_.name.startsWith("catalog."))
            .groupBy(table).values.map(_.maxBy(_.end).attrs.getOrElse("files", 0.0)).sum
        case "backfill" =>
          put("catalog.backfill.create_s") = secs(catalog.filter(op(_) == "create"))
          put("catalog.backfill.bytes_written_mb") = attr(catalog, "bytes_added") / MB / n
        case "corpus" =>
          put("catalog.corpus.create_s") = secs(catalog.filter(op(_) == "create"))
          put("catalog.corpus.append_s") = secs(appends)
          put("catalog.corpus.optimize_s") = secs(optimizes)
          put("catalog.corpus.write_amp") = writeAmp
        case "queries" =>
          val queryRoots = roots.flatMap(r => children.getOrElse(r.id, Nil))
          val parts = queryRoots.flatMap(q => children.getOrElse(q.id, Nil))
          val build = parts.filter(_.name == "build")
          put("operators.build_s") = secs(build)
          put("operators.build_jobs") = build.flatMap(subtree).flatMap(c).map(_.jobs).sum / n
          put("operators.exec_s") = secs(parts.filter(_.name == "exec"))
        case _ =>
      }
    }
    val missing = names.filterNot(put.contains)
    missing.foreach(put(_) = 0.0)
    val extra = put.keys.filterNot(names.contains).toSeq
    require(extra.isEmpty, s"per-layer names outside the list: ${extra.mkString(",")}")
  }

  /** Milliseconds of [start, end] covered by the union of `intervals`. */
  def covered(start: Double, end: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (a max start, b min end) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (ce.isNaN || a > ce) {
        if (!ce.isNaN) total += ce - cs
        cs = a; ce = b
      } else ce = ce max b
    }
    if (!ce.isNaN) total += ce - cs
    total
  }

  /** Span duration minus the time its child spans cover. */
  def self(s: Span, children: Map[Int, Seq[Span]]): Double =
    s.dur - covered(s.start, s.end, children.getOrElse(s.id, Nil).map(k => (k.start, k.end)))

  def writeSpans(tracer: Tracer, engine: EngineCounters, path: Path): Unit = {
    val spans = tracer.spans.filterNot(_.end.isNaN)
    val children = spans.groupBy(_.parent)
    val counters = engine.perSpan
    val lines = spans.map { s =>
      val k = counters.get(s.id)
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "self_ms" -> Json.num(self(s, children)),
        "jobs" -> k.map(_.jobs).getOrElse(0L).toString,
        "tasks" -> k.map(_.tasks).getOrElse(0L).toString) ++
        s.attrs.toSeq.sortBy(_._1).map { case (a, v) => a -> Json.num(v) })
    }
    Files.write(path, lines.asJava)
  }
}
