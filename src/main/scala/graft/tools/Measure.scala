package graft.tools

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The one measurement core behind every harness main — Bench, Verify,
  * ExplainPlans, RunPipeline and the four probes (ScaleProbe, CcProbe,
  * StreamProbe, StreamScaleProbe): one session factory, one task-metrics
  * listener, one materialize/release pair, one single-rep measure with
  * its min-of-reps reduction, and one bounded stream replay. A fix to any
  * of these lands in every harness at once; the timed shape, the plan
  * dumps and the probes can no longer drift apart.
  */
object Measure {

  /** The harness session. Every caller gets the same shape — graft
    * extensions, UTC, AQE on, no UI, and the streaming state-store shape
    * below — and differs only in what callers already set differently:
    * thread count, shuffle partitions, whether RocksDB tracks its row
    * total, and a map of extra confs.
    *
    * Master and executor env (`SPARK_GRAFT_MASTER`, default
    * `local[cpus]`): `local-cluster[n,cores,memMB]` puts real executor
    * JVMs and socket exchanges under the harness. Executor processes
    * inherit neither the launcher's classpath nor the JDK17 add-opens, so
    * `SPARK_GRAFT_EXECUTOR_CLASSPATH` / `_EXECUTOR_OPTS` / `_EXECUTOR_MEM`
    * are passed through explicitly. The classpath must be ABSOLUTE:
    * executors resolve a relative `extraClassPath` against their worker
    * dir, the app classes silently vanish, and the failure is not a clean
    * ClassNotFound — codegen-inlined expressions keep working while plans
    * whose expressions reach executors un-inlined die with
    * SerializedLambda→MapPartitionsRDD.f ClassCastExceptions (the
    * round-12 incident, docs/SCALING.md caveats).
    *
    * State store (`SPARK_GRAFT_STATE_STORE`, default rocksdb; "hdfs"
    * keeps Spark's default provider for comparison runs): RocksDB keeps
    * per-key state off-heap, changelog checkpointing uploads a per-batch
    * delta instead of a full snapshot (`SPARK_GRAFT_CHANGELOG=false`
    * prices full-snapshot commits — docs/STREAM_ATTRIBUTION.md round 17),
    * and one capped block cache is shared by every store instance
    * (`SPARK_GRAFT_BOUNDED_MEM=false` gives each store its own unbounded
    * cache — an attribution knob; unbounded per-partition native memory
    * is the many-partition executor OOM at cluster scale). Levers set
    * nowhere here (minDeltasForSnapshot, compactOnCommit) ride
    * run_main.sh's SPARK_GRAFT_JVM_OPTS -D route instead of code knobs.
    * `trackStateRows = false` drops RocksDB's row counter, a
    * read-modify per put that only wall-clock harnesses can shed; the
    * harnesses that report state rows keep it.
    */
  def session(cpus: String, shufflePartitions: String,
      trackStateRows: Boolean = false,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val classpath = sys.env.get("SPARK_GRAFT_EXECUTOR_CLASSPATH")
    classpath.foreach(cp => require(new java.io.File(cp).isAbsolute,
      s"SPARK_GRAFT_EXECUTOR_CLASSPATH must be absolute, got: $cp"))
    val executorEnv = Seq(
      "spark.executor.extraClassPath" -> classpath,
      "spark.executor.extraJavaOptions" -> sys.env.get("SPARK_GRAFT_EXECUTOR_OPTS"),
      "spark.executor.memory" -> sys.env.get("SPARK_GRAFT_EXECUTOR_MEM"))
      .collect { case (k, Some(v)) => k -> v }
    val store = "spark.sql.streaming.stateStore."
    val rocksdb =
      if (stateStore != "rocksdb") Nil
      else Seq(
        store + "providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        store + "rocksdb.changelogCheckpointing.enabled" ->
          sys.env.getOrElse("SPARK_GRAFT_CHANGELOG", "true"),
        store + "rocksdb.trackTotalNumberOfRows" -> trackStateRows.toString,
        store + "rocksdb.boundedMemoryUsage" ->
          sys.env.getOrElse("SPARK_GRAFT_BOUNDED_MEM", "true"))
    val confs = Seq(
      "spark.sql.extensions" -> classOf[graft.expr.catalyst.GraftExtensions].getName,
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false") ++ executorEnv ++ rocksdb ++ extra
    val spark = confs
      .foldLeft(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The streaming state-store provider every harness session runs on
    * (see [[session]]); artifacts that report streaming numbers name it.
    */
  def stateStore: String = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "rocksdb")

  /** A count knob: `None` when `name` is unset, else its value, which
    * must be an int >= `atLeast`. Anything else fails with a message
    * naming the variable, at startup: a zero rep count or chunk size must
    * stop the main before any work, not surface as an all-failed artifact
    * or an arithmetic error after the warmup.
    */
  def envCount(name: String, atLeast: Int = 1,
      env: String => Option[String] = sys.env.get): Option[Int] =
    env(name).map(t => t.trim.toIntOption.filter(_ >= atLeast).getOrElse(
      throw new IllegalArgumentException(
        s"$name must be an int >= $atLeast, got '$t'")))

  /** Cluster-wide task-metric sums since the last [[TaskMetrics.reset]]:
    * shuffle bytes written across all exchanges, bytes spilled to disk,
    * and the max single-task peak execution memory (the per-task
    * high-water mark decides whether a partition fits an executor at
    * scale; a sum would overstate peaks that never coexist). Queries run
    * one at a time, so a reset can only race stragglers of the previous
    * rep, and [[read]] drains the bus before it reads.
    */
  final class TaskMetrics private[Measure] (spark: SparkSession) extends SparkListener {
    private val shuffle, spill, peak = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
        peak.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
      }
    }
    def reset(): Unit = { shuffle.set(0); spill.set(0); peak.set(0) }

    /** (shuffle MB, spill MB, peak task MB). Listener events arrive
      * off-thread: block until the bus is empty (the drain Spark's own
      * tests use) so a rep cannot absorb a neighbor's stragglers; only a
      * wedged queue (timeout) falls back to a best-effort sleep.
      */
    def read(): (Double, Double, Double) = {
      if (!org.apache.spark.graftbench.ListenerDrain.drain(spark.sparkContext, 5000L))
        Thread.sleep(100)
      (shuffle.get / 1e6, spill.get / 1e6, peak.get / 1e6)
    }
  }

  /** Attaches a fresh [[TaskMetrics]] listener to `spark`. */
  def listen(spark: SparkSession): TaskMetrics = {
    val m = new TaskMetrics(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Drops every cached plan AND every persistent RDD. Operator-internal
    * persists must not accumulate across 100+ queries sharing one driver
    * — leaked blocks skew later timings (eviction churn) and hide a
    * query's first-run cost behind a neighbor's cache. Eager
    * localCheckpoints register persistent RDDs INVISIBLE to the cache
    * manager, so clearing the cache alone would leak every checkpointed
    * frame (t8/t13 word explosions, LSH band keys, the QP base, the CC
    * edge lists) for the rest of the sweep.
    */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Builds and runs `df` through the noop sink (not `.count()`, which
    * lets Spark prune every column), then [[release]]s. Runs inside
    * [[SessionConf.restoring]]: a query that applies a sizing rule to the
    * session must not re-plan its neighbors.
    */
  def materialize(spark: SparkSession)(df: => DataFrame): Unit =
    SessionConf.restoring(spark) {
      try df.write.format("noop").mode("overwrite").save()
      finally release(spark)
    }

  /** Seconds `f` took, or -1 when it threw. */
  def timed(f: => Unit): Double =
    try { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    catch { case _: Throwable => -1.0 }

  /** Between timed regions only, never inside one: the GC lets
    * ContextCleaner reclaim the shuffle files and broadcasts the previous
    * query abandoned, so a later query does not pay its neighbor's
    * cleanup; the sleep lets cleanup and listener delivery drain.
    */
  def settle(ms: Long = 250L): Unit = { System.gc(); Thread.sleep(ms) }

  /** One measured rep: seconds (-1 when it failed) and its task metrics. */
  final case class Rep(sec: Double, shuffleMb: Double, spillMb: Double,
      peakTaskMemMb: Double)
  object Rep { val failed: Rep = Rep(-1.0, -1.0, -1.0, -1.0) }

  /** Times `f` against freshly reset `metrics`; a failure is reported to
    * `onFail` and recorded as sec = -1 (its metrics are still read).
    */
  def rep(metrics: TaskMetrics, onFail: Throwable => Unit)(f: => Unit): Rep = {
    metrics.reset()
    val t0 = System.nanoTime()
    val sec =
      try { f; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable => onFail(e); -1.0 }
    val (sh, sp, pk) = metrics.read()
    Rep(sec, sh, sp, pk)
  }

  /** `reps` runs of `run`, each followed by a [[settle]]; the fastest run
    * whose `sec` is >= 0, or None when every run failed.
    */
  def fastest[R](reps: Int)(run: => R)(sec: R => Double): Option[R] =
    (1 to reps).map { _ => val r = run; settle(); r }
      .filter(sec(_) >= 0).minByOption(sec)

  /** The min-time [[rep]] of `reps`, or all -1 when every rep failed. */
  def minOfReps(reps: Int, metrics: TaskMetrics, onFail: Throwable => Unit)(
      f: => Unit): Rep =
    fastest(reps)(rep(metrics, onFail)(f))(_.sec).getOrElse(Rep.failed)

  /** Replay inputs are case classes and tuples. */
  implicit def productEncoder[T <: Product: TypeTag]: Encoder[T] = Encoders.product[T]

  /** A finished replay: every micro-batch's progress and the seconds from
    * the query's start to the end of its last drain.
    */
  final case class Replay(progress: Array[StreamingQueryProgress], sec: Double)

  /** Replays `rows` as a bounded MemoryStream through `mk` into the noop
    * sink in `chunks` REAL micro-batches: each chunk is added and drained
    * before the next, so per-batch state-store load/commit and watermark
    * advancement are inside the measurement (adding everything before
    * the start would collapse the replay into one batch; watermarked
    * operators also run a no-data batch per chunk that advances the
    * watermark and evicts state). `onDrain` sees the query and each
    * drain's seconds. `ckpt` is deleted whatever happens, so a rep
    * cannot leak its state-store files.
    */
  def replay[T: Encoder](spark: SparkSession, rows: IndexedSeq[T],
      chunks: Int = 10, ckpt: Path = newCheckpoint())(
      mk: Dataset[T] => Dataset[_],
      onDrain: (StreamingQuery, Double) => Unit = (_, _) => ()): Replay =
    drive(ckpt, onDrain) {
      val in = Input(spark, rows, chunks)
      (mk(in.stream.toDS()).toDF(), Seq(in))
    }

  /** Two-input [[replay]] for stream-stream joins: both sides advance in
    * lockstep (a left chunk and a right chunk per drain), so both
    * watermarks move together and join-state expiry happens inside the
    * measurement. Equal lengths are a precondition: if one side ran out
    * early its watermark would stop, and under min-of-watermarks expiry
    * the other side's state would stop expiring for the tail of the run —
    * silently measuring unbounded-state behavior.
    */
  def replay2[A: Encoder, B: Encoder](spark: SparkSession,
      left: IndexedSeq[A], right: IndexedSeq[B], chunks: Int = 10,
      ckpt: Path = newCheckpoint())(
      mk: (Dataset[A], Dataset[B]) => Dataset[_],
      onDrain: (StreamingQuery, Double) => Unit = (_, _) => ()): Replay =
    drive(ckpt, onDrain) {
      require(left.length == right.length,
        s"replay2 drives both watermarks in lockstep; got ${left.length} vs ${right.length}")
      val (l, r) = (Input(spark, left, chunks), Input(spark, right, chunks))
      (mk(l.stream.toDS(), r.stream.toDS()).toDF(), Seq(l, r))
    }

  private def newCheckpoint(): Path = Files.createTempDirectory("graft_replay_ckpt")

  private final case class Input[T](stream: MemoryStream[T], chunks: Seq[IndexedSeq[T]])
  private object Input {
    def apply[T: Encoder](spark: SparkSession, rows: IndexedSeq[T], n: Int): Input[T] = {
      implicit val sc: SQLContext = spark.sqlContext
      Input(MemoryStream[T], rows.grouped(math.max(1, rows.length / n)).toSeq)
    }
  }

  private def drive(ckpt: Path, onDrain: (StreamingQuery, Double) => Unit)(
      setup: => (DataFrame, Seq[Input[_]])): Replay =
    try {
      val (query, inputs) = setup
      val q = query.writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try {
        val t0 = System.nanoTime()
        inputs.head.chunks.indices.foreach { i =>
          val tb = System.nanoTime()
          inputs.foreach(in => addChunk(in, i))
          q.processAllAvailable()
          onDrain(q, (System.nanoTime() - tb) / 1e9)
        }
        Replay(q.recentProgress, (System.nanoTime() - t0) / 1e9)
      } finally q.stop()
    } finally deleteTree(ckpt.toFile)

  private def addChunk[T](in: Input[T], i: Int): Unit = { val _ = in.stream.addData(in.chunks(i)) }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree)); f.delete(); ()
  }
}
