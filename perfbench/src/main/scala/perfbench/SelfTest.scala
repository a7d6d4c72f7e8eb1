package perfbench

import graft.SparkEntry

/** Checks of the harness itself: seeded request streams reproduce, and the
  * q04 plan the harness executes keeps the aggregates users pay for. The
  * input digests are checked on the Python side, where the inputs are
  * made. */
object SelfTest {
  def run(conf: Conf): Boolean = {
    val results = Seq.newBuilder[(String, Boolean, String)]

    Workloads.all.foreach { w =>
      def keys(seed: Long) =
        Workloads.cycles(w, seed, 0).flatten.take(200).map(_.key).toList
      results += ((s"${w.name}: same seed gives the same request stream",
        keys(1) == keys(1), ""))
      if (w.slots(0).distinct.size > 1)
        results += ((s"${w.name}: another seed gives another request stream",
          keys(1) != keys(2), ""))
    }

    // q04 goes through the runner's own build, execute and fetch path,
    // over the dashboard inputs written into the work directory
    val runner = new Runner(conf.copy(workload = "dashboard"))
    runner.open()
    val spark = runner.spark

    val q04 = Req("q04_topn_percentiles", Req.Query, "", Seq("orders"))
    val op = runner.execute(q04, "q04", traced = false, keepPlan = true)
    val kept = op.plan.map(PlanWalk.percentileAggregates).getOrElse(-1)
    val counted = runner.build(q04).groupBy().count()
    counted.collect()
    val underCount = PlanWalk.percentileAggregates(PlanWalk.plan(counted))
    results += (("the executed q04 plan keeps its 4 percentile aggregates",
      op.ok && op.resultRows > 0 && kept == 4,
      s"executed plan: $kept, same query under count(): $underCount, " +
        s"${op.resultRows} rows${op.error.map(e => s", $e").getOrElse("")}"))

    spark.stop()
    val all = results.result()
    all.foreach { case (name, ok, detail) =>
      println(s"${if (ok) "PASS" else "FAIL"} $name" +
        (if (detail.nonEmpty) s" ($detail)" else ""))
    }
    all.forall(_._2)
  }
}
