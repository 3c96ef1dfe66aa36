package graft

/** Ad-hoc plan/perf probe (dev tool, not part of the driver contract):
  * prints the executed plan and isolated timings for one named query.
  * `Probe --dot <query> [out.dot]` instead renders the executed plan as
  * graphviz (reference pigpen-viz, viz.clj:28-60).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dotMode = args.headOption.contains("--dot")
    val rest = if (dotMode) args.drop(1) else args
    val name = rest.headOption.getOrElse("q_revenue_by_nation")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.sessionBuilder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qd = graft.queries.Queries.all.find(_.name == name).get
    if (dotMode) {
      val out = rest.lift(1).getOrElse(name + ".dot")
      val df = qd.fn(spark, sfDir)
      df.count() // execute so AQE settles on the final plan
      val dotStr = graft.plans.PlanDot.toDot(df.queryExecution.executedPlan, name)
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        dotStr.getBytes("UTF-8"))
      println(s"[probe] wrote $out (${dotStr.linesIterator.size} lines)")
    } else {
      // warm-up then 3 timed runs
      qd.fn(spark, sfDir).count()
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        qd.fn(spark, sfDir).count()
        println(f"[probe] run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      val df = qd.fn(spark, sfDir)
      df.count()
      println(df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
    }
    spark.stop()
  }
}
