package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: the formatted physical plan of every headline
  * bench query at sf0.1 (SURVEY.md's ".explain and iterate" discipline,
  * committed so plan regressions show up in review diffs).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session("local[8]", shufflePartitions = 8)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plans
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — headline query physical plans (sf0.1, static planning)\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"`. What to look for per\n")
    sb.append("SURVEY §4: PushedFilters reaching FileScans, pruned ReadSchemas,\n")
    sb.append("BroadcastHashJoin on dim sides, TakeOrderedAndProject for top-k,\n")
    sb.append("partial+final HashAggregate pairs, `*(n)` whole-stage-codegen spans.\n")
    Bench.headline.foreach { case (name, baseId) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // resolve adaptive-free final plan + warm
      sb.append(s"\n## $name (BASELINE $baseId)\n\n```\n")
      // scrub JVM object identity hashes (Foo$Bar@1a2b3c4d) — they churn
      // per run and would make every PlanDump diff look like a change
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).trim
        .replaceAll("@[0-9a-f]{6,12}", "@id"))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("[plandump] wrote PLANS.md")
    spark.stop()
  }
}
