package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming plumbing for the D block (SURVEY.md §2).
  *
  * Sources are file streams over the bounded `events` parquet; every query
  * runs `Trigger.AvailableNow` to completion into a memory sink and the
  * final table is compared against a batch DuckDB oracle (ORACLE-B harness,
  * SURVEY §5.2). On a real deployment the same code reads an unbounded
  * directory/Kafka source — nothing in the query bodies is bounded-input
  * specific.
  */
object EventStreams {

  /** Streaming read of the events table. Schema is declared (file streams
    * require it); ns timestamps arrive as longs (nanosAsLong) and are
    * truncated to µs with exact integer division, mirroring Tables.scala.
    */
  // ts-schema probe result per staged dir (a full batch read per call would
  // re-pay file listing + footer decode for a constant answer)
  private val tsIsLongCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = stageDir("/tmp/graft_stream", dir, "events.parquet")
    // Mirror Tables.scala's guard: raw testdata carries TIMESTAMP(NANOS)
    // (read as long, truncated to µs); a re-staged copy already holds µs
    // timestamps and must not be divided again.
    val tsIsLong: Boolean = tsIsLongCache.computeIfAbsent(streamDir,
      _ => s.read.parquet(streamDir).schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
    if (tsIsLong)
      s.readStream
        .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .parquet(streamDir)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else
      s.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .parquet(streamDir)
  }

  /** Streaming read of the documents table (same symlink staging as
    * [[events]]; no timestamp column, so no ns handling needed). The text
    * pipeline's streaming twin sources read from here.
    */
  def documents(s: SparkSession, dir: String): DataFrame =
    s.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(stageDir("/tmp/graft_stream_docs", dir, "documents.parquet"))

  /** Streaming read of the embeddings table (same symlink staging) — the
    * ANN ingest path's streaming twin source: vectors arrive as files and
    * index artifacts (bucket ids, PQ codes) are computed scan-locally as
    * they land.
    */
  def embeddings(s: SparkSession, dir: String): DataFrame =
    s.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .parquet(stageDir("/tmp/graft_stream_emb", dir, "embeddings.parquet"))

  /** The file stream source only accepts directories; stage the bounded
    * `dir/file` into a per-dir scratch dir under `root` via symlink (an
    * unbounded deployment would already have a directory of arriving files
    * here). Returns the staging dir.
    */
  private def stageDir(root: String, dir: String, file: String): String = {
    val streamDir = java.nio.file.Paths.get(
      s"$root/${dir.replaceAll("[^A-Za-z0-9.]", "_")}")
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve(file)
    val target = java.nio.file.Paths.get(s"$dir/$file")
    // Validate, don't trust: the sanitized scratch key is lossy, and a
    // dangling/mistargeted link from an earlier dir must be recreated
    // (Files.exists follows links, so a dangling one reads as absent while
    // createSymbolicLink still throws FileAlreadyExists).
    if (java.nio.file.Files.isSymbolicLink(link)) {
      if (java.nio.file.Files.readSymbolicLink(link) != target)
        java.nio.file.Files.delete(link)
    }
    if (!java.nio.file.Files.isSymbolicLink(link) &&
        !java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link, target)
    streamDir.toString
  }

  /** Data-proportional shuffle/state width for a streaming query — the
    * SAME rule as Bench.sizeShuffle (one reduce/state partition per ~8 MB
    * of source input, capped at the session's cores, then floored at 8 —
    * `max(8, min(cores, mb / 8))`, so below 8 cores the floor wins and the
    * width exceeds the core count),
    * derived from the streaming relations' source directories. r18
    * optimization (guide §2.2): every stateful trigger pays one task +
    * one state-store commit file PER state partition, so a
    * kilobyte-state query at the session default width (cores) spends
    * most of its trigger on empty-partition bookkeeping; the width must
    * track the data, not the box. Returns None when a source path can't
    * be resolved (the caller then leaves the session width alone).
    */
  private def streamWidth(s: SparkSession, df: DataFrame): Option[Int] =
    try {
      val paths = df.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
          r.dataSource.options.get("path")
      }.flatten
      if (paths.isEmpty) None
      else {
        def bytes(f: java.io.File): Long =
          if (f.isDirectory)
            Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
          else f.length
        val mb = paths.map(p => bytes(new java.io.File(
          p.stripPrefix("file:")))).sum >> 20
        val cores = s.sparkContext.defaultParallelism
        Some(math.max(8L, math.min(cores.toLong, mb / 8)).toInt)
      }
    } catch { case _: Exception => None }

  /** Run `body` (a foreachBatch-style stream start/await block) with the
    * session shuffle width sized to the streaming source's volume — the
    * [[runToTable]] rule for streams whose per-trigger work is batch jobs
    * inside foreachBatch (those plan against the session width at stream
    * start). Width restored afterwards; results are partitioning-internal.
    */
  def withSourceSizedWidth[A](s: SparkSession, df: DataFrame)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    try {
      streamWidth(s, df).foreach(w =>
        s.conf.set("spark.sql.shuffle.partitions", w.toString))
      body
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Run a streaming aggregation to completion; return the final table.
    * The per-run checkpoint is deleted afterwards (memory-sink results
    * don't outlive the session; leaving RocksDB state trees in /tmp
    * accumulates across bench iterations). Shuffle/state width is sized
    * to the source volume (see [[streamWidth]]); the session width is
    * restored after the run — state partitioning is internal to the
    * query (a fresh checkpoint per run), so results are unchanged.
    */
  def runToTable(s: SparkSession, df: DataFrame, name: String,
      mode: String = "complete"): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_ckpt_$name")
    val prevWidth = s.conf.get("spark.sql.shuffle.partitions")
    try {
      streamWidth(s, df).foreach(w =>
        s.conf.set("spark.sql.shuffle.partitions", w.toString))
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .start()
      q.awaitTermination()
      s.table(name)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevWidth)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
