package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Spark-job counts of every forced-distributed connected-components
  * schedule on fixed small graphs. The CC strategies share one resident
  * fixpoint loop; these pins make sure each schedule keeps running the
  * same signature, confirmation and truncation actions — a schedule that
  * gains an eager barrier or loses a convergence action moves its count
  * and fails here, even when its labels stay exact.
  */
class CcJobCountSpec extends SparkSpec {
  import spark.implicits._

  /** Ids 0..len and the path 0-1-...-len: every label is 0. */
  private def chain(len: Int): (DataFrame, DataFrame) =
    ((0L to len.toLong).toDF("doc_id"),
      (0L until len.toLong).map(j => (j, j + 1)).toDF("a", "b"))

  /** Spark jobs started while `run` collects its labels (exactness is
    * checked too: `want` maps each id to its canonical id).
    */
  private def jobsOf(want: Long => Long)(run: => DataFrame): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // events still queued from earlier specs must not land on this count
    org.apache.spark.graftbench.ListenerDrain.drain(spark.sparkContext, 10000)
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val rows = run.collect().map(r => r.getLong(0) -> r.getLong(1))
      org.apache.spark.graftbench.ListenerDrain.drain(spark.sparkContext, 10000)
      rows
    } finally spark.sparkContext.removeSparkListener(listener)
    out.foreach { case (id, canon) => assert(canon == want(id), s"id=$id") }
    jobs.get()
  }

  // Expected counts were measured on the commit before the CC loops were
  // merged into one fixpoint loop (Spark 4.1.2, local[2], AQE on); the
  // merged loop must reproduce every one of them.
  private val (ids24, pairs24) = chain(24)
  private val (ids16, pairs16) = chain(16)

  test("cc job count: propagation reaching the warm-start fallback") {
    val n = jobsOf(_ => 0L)(Dedup.canonicalizePropagation(ids24, "doc_id",
      pairs24, maxIter = 8, localEdgeLimit = 0L))
    info(s"propagation 24-chain maxIter=8: $n jobs")
    assert(n == 45)
  }

  test("cc job count: star contraction to the star-forest fixpoint") {
    val n = jobsOf(_ => 0L)(Dedup.canonicalizeStar(ids24, "doc_id",
      pairs24, localEdgeLimit = 0L))
    info(s"star 24-chain: $n jobs")
    assert(n == 85)
  }

  test("cc job count: pinned hybrid, 1 and 2 star rounds") {
    val one = jobsOf(_ => 0L)(Dedup.canonicalizeHybrid(ids24, "doc_id",
      pairs24, starRounds = 1, maxIter = 8, localEdgeLimit = 0L))
    val two = jobsOf(_ => 0L)(Dedup.canonicalizeHybrid(ids24, "doc_id",
      pairs24, starRounds = 2, maxIter = 8, localEdgeLimit = 0L))
    info(s"hybrid 24-chain starRounds=1: $one jobs, starRounds=2: $two jobs")
    assert(one == 62 && two == 62)
  }

  test("cc job count: pinned hybrid with 0 star rounds is pure propagation") {
    // zero rounds build no canonical star level: exactly the jobs of
    // canonicalizePropagation on the same graph (the one count that is
    // not the pre-merge number — that shape built, signed and
    // re-checkpointed a star level it never contracted)
    val zero = jobsOf(_ => 0L)(Dedup.canonicalizeHybrid(ids24, "doc_id",
      pairs24, starRounds = 0, maxIter = 8, localEdgeLimit = 0L))
    info(s"hybrid 24-chain starRounds=0: $zero jobs")
    assert(zero == 45)
  }

  test("cc job count: auto schedule, 2 rounds on a 16-chain and a read-off") {
    val deep = jobsOf(_ => 0L)(Dedup.canonicalizeHybrid(ids16, "doc_id",
      pairs16, localEdgeLimit = 0L))
    // two min-centered stars: already the fixpoint, labels read off the
    // birth telemetry
    val starIds = (0L to 9L).toDF("doc_id")
    val starPairs = ((1L to 4L).map(j => (0L, j)) ++
      (6L to 9L).map(j => (5L, j))).toDF("a", "b")
    val forest = jobsOf(id => if (id < 5L) 0L else 5L)(Dedup
      .canonicalizeHybrid(starIds, "doc_id", starPairs, localEdgeLimit = 0L))
    info(s"auto 16-chain: $deep jobs, auto star forest: $forest jobs")
    assert(deep == 45 && forest == 10)
  }
}
