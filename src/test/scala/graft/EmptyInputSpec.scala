package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Robustness fixes, each pinned on the input that broke it: an empty
  * doc_id range in a split stream fixture (d05/d21), a corpus with no
  * scorable text (d14), and the mixed-drop fixture's sub-writers that
  * re-collected the ids it had already collected.
  */
class EmptyInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  /** Runs `body` on a one-table scale dir holding `documents` rows
    * (doc_id, text, source); afterwards deletes it and the fixtures the
    * queries derived from it (named after the dir).
    */
  private def withDocs(rows: Seq[(Long, String, String)])(body: String => Unit): Unit = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_empty_in")
    try {
      rows.map { case (id, text, src) => (id, text, "en", src, Option(text).map(_.length.toLong)) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      body(dir.toString)
    } finally {
      rmTree(dir)
      Option(new java.io.File(Graft.scratchDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(s"_${dir.getFileName}")).foreach(f => rmTree(f.toPath))
    }
  }

  test("writeSplitFiles: a value with no rows becomes an empty, schema-bearing file") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_split")
    try {
      val df = Seq((0, 10L, "a"), (0, 11L, "b"), (3, 30L, "c")).toDF("b", "id", "v")
      graft.queries.Streaming.writeSplitFiles(df, 4, s"$base/_tmp")(
        i => base.resolve(s"f$i.parquet"), i => 1700000000000L + i * 1000L)
      val counts = (0 until 4).map { i =>
        val f = s.read.parquet(base.resolve(s"f$i.parquet").toString)
        assert(f.columns.toSeq === Seq("id", "v"))
        f.count()
      }
      assert(counts === Seq(2L, 0L, 0L, 1L))
      assert(Files.getLastModifiedTime(base.resolve("f2.parquet")).toMillis === 1700000002000L)
      assert(!Files.exists(base.resolve("_tmp")))
    } finally rmTree(base)
  }

  test("d21 packs a corpus whose middle doc_id quarters are empty") {
    // maxId 100 → quarter width 26: ranges 1 and 2 hold no document, so
    // the one full 128-token window carries across two empty triggers
    // (101 tokens of doc 0 with its </s>, then b0..b26 of doc 100)
    def words(p: String) = (0 until 100).map(k => s"$p$k").mkString(" ")
    withDocs(Seq((0L, words("a"), "web"), (100L, words("b"), "web"))) { dir =>
      val out = graft.queries.Streaming.queries("d21_stream_pack").fn(spark, dir)
        .select(col("source"), col("seq_no"), col("first_tok"), col("last_tok")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
      assert(out === Seq(("web", 0L, "a0", "b26")))
    }
  }

  test("d14 scores a corpus with no trigram-bearing text as an empty table") {
    withDocs(Seq((0L, "ab", "web"), (1L, null, "web"), (2L, "x", "wiki"))) { dir =>
      val out = graft.queries.Streaming.queries("d14_stream_lm_score").fn(spark, dir)
      assert(out.columns.toSeq === Seq("doc_id", "n_tris", "lm_score", "keep"))
      assert(out.count() === 0)
    }
  }

  test("the mixed-drop fixture runs one id-collect job for all its sub-writers") {
    val sc = spark.sparkContext
    // the table's first load infers its schema in a job of its own
    Tables(spark, TestSpark.sfDir, "documents")
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        marks.add(Option(js.properties).flatMap(p => Option(p.getProperty("graft.mark")))
          .getOrElse("")); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      graft.queries.Curation.writeMixedDropFixture(spark, TestSpark.sfDir)
      // a marked job after the writer: the listener bus delivers in order,
      // so once the mark arrives every earlier job start has too
      sc.setLocalProperty("graft.mark", "end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.mark", null)
      val deadline = System.nanoTime() + 30000000000L
      while (!marks.contains("end") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(marks.contains("end"))
      assert(marks.toArray.count(_ == "") === 1)
    } finally sc.removeSparkListener(listener)
  }
}
