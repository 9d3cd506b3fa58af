package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Line-frequency boilerplate removal (the RefinedWeb/CCNet line-dedup
  * pass): a line that occurs in >= tau distinct documents corpus-wide is
  * boilerplate (navigation, cookie banners, footers) and is dropped from
  * every document; surviving lines keep their original order.
  *
  * Scale shape (100 TB):
  *  - the exploded-line pass feeds a partial+final hash aggregate keyed
  *    on the line text for the document-frequency table (at production
  *    scale key on xxhash64(line) to bound shuffle width);
  *  - keep-filtering is an equi-join whose build side has ONE row per
  *    distinct line, so hot boilerplate lines fan out on the probe side
  *    only — no pair explosion, no skew blowup;
  *  - reassembly groups by doc_id (state bounded by document length).
  *  The rejected alternative — df via Window.partitionBy(line) — would
  *  hold unbounded per-key state on exactly the hottest keys (a footer
  *  line spans billions of documents).
  */
object LineDedup {

  private def withLinesOf(docs: DataFrame): DataFrame = docs.select(col("doc_id"),
    coalesce(split(col("content"), "\n"), array().cast("array<string>")).as("lines"))

  /** The corpus line-frequency table: (line, df). In production this is
    * a periodically-recomputed static artifact that incremental/streaming
    * cleaning (d17) joins against — the df table LAGS the stream, exactly
    * as CCNet's hash tables do.
    *
    * Precondition: `doc_id` is unique per input row. df counts the input
    * ROWS that contain a line, which equals the number of distinct
    * documents only under that precondition; a doc_id repeated across rows
    * would inflate the df of its lines and could drop a line at the tau
    * boundary. Every caller passes a keyed table (documents by doc_id,
    * crawl records by rec_id), so no defensive dedup (an extra exchange)
    * is planned.
    */
  def lineDf(docs: DataFrame): DataFrame = withLinesOf(docs)
    // r19 (guide §2.3): the per-document dedup happens SCAN-LOCALLY — a
    // line's repeats within one document live in one array row, so
    // array_distinct + count(*) computes exactly countDistinct(doc_id)
    // with ONE exchange (partial+final count on hash(line)) instead of
    // countDistinct's two-phase (line, doc_id) expand + re-shuffle.
    .select(explode(array_distinct(col("lines"))).as("line"))
    .groupBy("line")
    .agg(count(lit(1)).as("df"))

  /** @param docs (doc_id, content) where content is '\n'-separated text,
    *             one row per doc_id (the [[lineDf]] precondition);
    *             a NULL content row yields (n_lines 0, n_kept 0, "") rather
    *             than legacy size(NULL) = -1 nonsense
    * @return (doc_id, n_lines, n_kept, cleaned) — unordered; callers sort
    */
  def clean(docs: DataFrame, tau: Int): DataFrame =
    cleanAgainst(docs, lineDf(docs), tau)

  /** [[clean]] against an EXTERNAL (line, df) table — the form whose df
    * state is static per trigger; a line absent from the table counts
    * df = 0 (kept).
    */
  def cleanAgainst(docs: DataFrame, dfTable: DataFrame, tau: Int): DataFrame = {
    val withLines = withLinesOf(docs)
    val lines = withLines.select(col("doc_id"),
      posexplode(col("lines")).as(Seq("pos", "line")))
    val kept = lines.join(dfTable, Seq("line"), "left")
      .filter(coalesce(col("df"), lit(0L)) < tau)
    val reassembled = kept.groupBy("doc_id").agg(
      count(lit(1)).cast("int").as("n_kept"),
      array_join(
        expr("transform(sort_array(collect_list(struct(pos, line))), x -> x.line)"),
        "\n").as("cleaned"))
    withLines.select(col("doc_id"), size(col("lines")).as("n_lines"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }
}
