package graft

import graft.tools.{Measure, SessionConf}

/** Dev utility: print formatted physical plans for the headline queries
  * so shuffle/broadcast/pushdown shape can be reviewed per round. Plans
  * are dumped under Bench's timed session shape (`local[cpus]`, shuffle
  * partitions = cpus, AQE on, UTC; SPARK_GRAFT_CPUS, default 32 like
  * Bench), and a header line records the conf they ran under, so a
  * committed dump is the plan that was timed.
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q5_star_join", "q1_agg", "w6_rolling_ols", "d3_dedup_minhash",
        "d5_dedup_embcos", "n3_ann_ivf", "l5_qp_weights")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Measure.session(cpus, cpus)
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.session.timeZone").map(k => s"$k=${spark.conf.get(k)}")
    println(s"[plans] master=${spark.sparkContext.master} ${conf.mkString(" ")}")
    names.foreach { n =>
      println(s"========== $n ==========")
      // queries may set session confs (e.g. j13f pins the broadcast
      // threshold); without restoring, every LATER query in the dump is
      // planned under the leaked conf and the printed plan lies
      SessionConf.restoring(spark) {
        SparkEntry.queries(n)(spark, dir).explain("formatted")
      }
    }
    spark.stop()
  }
}
