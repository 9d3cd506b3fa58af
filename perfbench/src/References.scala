package graft.perfbench

import scala.jdk.CollectionConverters._

/** Reference answers for declared queries: the first answer of each query
  * is written out beside its DuckDB oracle SQL and compared by
  * scripts/selfcheck.py (type-aware, cell by cell). A query whose first
  * answer passes gets that answer's digest as its reference; one that
  * fails keeps none, so every later answer of it counts as wrong.
  */
object References {

  def establish(ctx: Ctx, w: Workload): Unit = {
    val checked = w.ops.filter(op => op.oracle.isDefined && op.reference.isEmpty)
    if (checked.isEmpty) return
    val out = s"${ctx.args.work}/verify"
    val spark = ctx.spark
    checked.filter(_.lastRows != null).foreach { op =>
      val (rows, schema) = op.lastRows
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/${op.name}")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = checked.map(op => s"${q(op.name)}: ${q(op.oracle.get)}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
    val p = new ProcessBuilder("python3", "scripts/selfcheck.py", out, ctx.args.data)
      .redirectErrorStream(true).start()
    val report = new String(p.getInputStream.readAllBytes(), "UTF-8")
    p.waitFor()
    val passed = report.linesIterator.collect {
      case l if l.startsWith("PASS ") => l.drop(5).takeWhile(_ != ':')
    }.toSet
    report.linesIterator.filter(_.startsWith("FAIL ")).foreach(l => ctx.say(s"oracle: $l"))
    checked.foreach { op =>
      if (passed(op.name)) op.reference = op.firstDigest
    }
    ctx.say(s"oracle: ${checked.count(op => passed(op.name))} of ${checked.size} " +
      "declared queries match DuckDB")
  }
}
