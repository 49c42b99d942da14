package graft

import java.nio.file.{Files, Paths}

/** Dumps each SparkEntry query's physical plan to PLANS.md — the
  * scale-review artifact: one place to check pushed filters, pruned
  * schemas, broadcast choices, partial aggregation, and codegen
  * stages for every operator. `runMain graft.PlanDump [sfDir] [out]`;
  * SPARK_GRAFT_ONLY=a,b,c dumps only the named entries.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(Some(s"local[$cpus]"), Some(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.PlanDump at ")
      .append(sfDir).append(")\n\n")
    sb.append("Regenerate: `sbt \"runMain graft.PlanDump\"`. Things to check per plan:\n")
    sb.append("PushedFilters non-empty where the query filters a scanned column; ")
    sb.append("ReadSchema pruned to used columns; dims broadcast; aggregates show a\n")
    sb.append("partial_ phase; `*(n)` codegen-stage markers span the hot projections;\n")
    sb.append("no CartesianProduct outside the intended broadcast NLJ in ANN scoring.\n")
    selected.foreach { e =>
      try {
        val df = e.build(spark, sfDir)
        sb.append(s"\n## ${e.name}\n\n```\n")
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode))
        sb.append("```\n")
      } catch {
        case t: Throwable =>
          sb.append(s"\n## ${e.name}\n\nFAILED TO PLAN: ${t.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}
