package graft

/** Optimization-round measurement harness (dev tool, not part of the driver
  * contract — the guide's "measure first" step applied to the FULL declared
  * query surface, not just the bench headline set).
  *
  * Times every SparkEntry query once through the noop sink (guide §1.4:
  * computes every column of every row, no output cost, no driver
  * materialization) after one untimed warm execution of the first query to
  * absorb session/codegen cold-start. Prints one `[sweep] <name> <sec>`
  * line per query, then a slowest-first summary. Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.OptSweep /root/testdata/sf0.1 [prefix]"
  */
object OptSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val prefix = args.drop(1).headOption.getOrElse("")
    System.setProperty("graft.sf.name", new java.io.File(sfDir).getName)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]", shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(_.startsWith(prefix))
    def timeOne(name: String): Double = {
      spark.sparkContext.setJobDescription(s"sweep: $name")
      val t0 = System.nanoTime()
      try
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[sweep] $name FAILED: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    if (names.isEmpty) {
      System.err.println(s"[sweep] no queries match prefix '$prefix'")
      spark.stop(); sys.exit(1)
    }
    timeOne(names.head) // warm the session once
    val times = names.map(n => n -> timeOne(n))
    times.foreach { case (n, s) => println(f"[sweep] $n $s%.3f") }
    println("[sweep] === slowest first ===")
    times.sortBy(-_._2).take(40).foreach { case (n, s) =>
      println(f"[sweep] TOP $n $s%.3f")
    }
    println(f"[sweep] total ${times.map(_._2).sum}%.1f sec over ${times.size} queries")
    spark.stop()
  }
}
