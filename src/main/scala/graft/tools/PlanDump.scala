package graft.tools

import java.nio.file.{Files, Paths}

/** Optimization-round evidence dump: run each named query and write
  * its executed final adaptive plan to `<outDir>/<query>_<tag>.txt`
  * (the `plans/r17/` before/after artifacts).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> <name>...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    // Execute the query and dump the FINAL adaptive plan
    // (isFinalPlan=true), the only place AQE's runtime join-strategy
    // flips (e.g. a SortMergeJoin rewritten to BroadcastHashJoin under
    // the session broadcast threshold) are visible; a pre-execution
    // dump shows the initial plan for both sides of such an A/B. The
    // df's OWN QueryExecution runs (a `write.format("noop")` would build
    // a separate one and leave this plan initial), and the dump fails
    // loudly if the adaptive plan is not final.
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, d)
        df.queryExecution.toRdd.foreach(_ => ())
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("isFinalPlan=false"),
          s"$n: executed-plan dump still carries isFinalPlan=false — " +
            "the dumped QueryExecution did not run")
        Files.write(Paths.get(outDir, s"${n}_$tag.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] wrote ${n}_$tag.txt (${plan.length} chars)")
      } catch {
        case e: Exception => println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
