package graft.tools

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.Dataset

/** The measurement core every harness shares: listener deltas, the
  * materialize/release hygiene, the bounded replay and the count-knob
  * reader. A regression here silently corrupts every artifact at once.
  */
class MeasureSpec extends SparkSpec {
  import spark.implicits._

  test("task metrics: a shuffle query reports shuffle bytes, a plain scan none") {
    val metrics = Measure.listen(spark)
    try {
      val fail = (e: Throwable) => throw e
      val shuffled = Measure.rep(metrics, fail)(Measure.materialize(spark)(
        spark.range(10000).repartition(4, $"id").toDF()))
      val scan = Measure.rep(metrics, fail)(Measure.materialize(spark)(
        spark.range(10000).toDF()))
      assert(shuffled.sec >= 0 && shuffled.shuffleMb > 0, shuffled)
      assert(scan.sec >= 0 && scan.shuffleMb == 0.0 && scan.spillMb == 0.0, scan)
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("materialize leaves no cached plan, persistent RDD or changed conf") {
    val confBefore = spark.conf.getAll
    Measure.materialize(spark) {
      val cached = spark.range(100).toDF("x").persist()
      cached.count()
      val checkpointed = spark.range(50).toDF("x").localCheckpoint()
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      spark.conf.set("spark.graft.measure.spec", "set")
      cached.union(checkpointed)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.conf.getAll == confBefore)
  }

  test("replay runs at least one micro-batch per chunk") {
    val r = Measure.replay(spark, (1 to 100).toIndexedSeq, chunks = 5)(
      (ds: Dataset[Int]) => ds.map(_ * 2))
    assert(r.progress.length >= 5, r.progress.length)
    assert(r.progress.map(_.numInputRows).sum == 100L)
  }

  test("the lockstep two-input replay rejects unequal lengths") {
    val e = intercept[IllegalArgumentException](
      Measure.replay2(spark, (1 to 10).toIndexedSeq, (1 to 9).toIndexedSeq)(
        (l: Dataset[Int], r: Dataset[Int]) => l.union(r)))
    assert(e.getMessage.contains("10 vs 9"))
  }

  test("the checkpoint dir is deleted after a replay whose query throws") {
    val ckpt = Files.createTempDirectory("graft_measure_spec")
    intercept[Exception](
      Measure.replay(spark, (1 to 20).toIndexedSeq, chunks = 2, ckpt = ckpt)(
        (ds: Dataset[Int]) => ds.map(i => if (i > 5) sys.error("boom") else i)))
    assert(!Files.exists(ckpt))
  }

  test("count knobs reject 0, -1 and non-ints, naming the variable") {
    def read(v: String, atLeast: Int = 1) =
      Measure.envCount("SPARK_GRAFT_REPS", atLeast, Map("SPARK_GRAFT_REPS" -> v).get)
    Seq("0", "-1", "x", "").foreach { v =>
      val e = intercept[IllegalArgumentException](read(v))
      assert(e.getMessage.contains("SPARK_GRAFT_REPS"), e.getMessage)
    }
    assert(read(" 3 ").contains(3))
    assert(intercept[IllegalArgumentException](read("1", atLeast = 2))
      .getMessage.contains("SPARK_GRAFT_REPS"))
    assert(Measure.envCount("SPARK_GRAFT_REPS", env = _ => None).isEmpty)
  }
}
