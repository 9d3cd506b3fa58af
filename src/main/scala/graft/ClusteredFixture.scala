package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The committed clustered-embedding corpus behind the driver-gated ANN
  * recall row (`e28d_ann_recall`) and the `IvfAnnSpec` recall gates
  * (VERDICT r6 item 4; the measured tables are in NOTES_r6): 50
  * well-separated Gaussian clusters × 40 members in 64 dims — same row
  * count and dim as the sf0.1 embeddings table, but with the structure real embedding spaces have (within-cluster cosine
  * ≈ 0.999, cross-cluster near 0), so "the true top-10" is an unambiguous
  * set and recall gates can be tight.
  *
  * The corpus is a VALUE, not a distribution: fixed-seed
  * java.util.Random (spec-pinned LCG + Box–Muller, identical on every
  * JVM), and additionally committed as parquet at [[path]] so the DuckDB
  * oracle reads the exact same bits the engine scans — regeneration via
  * `runMain graft.ClusteredFixture` is reproducible but never required
  * at query time.
  */
object ClusteredFixture {

  val path = "/root/repo/fixtures/ann/clustered_embeddings.parquet"
  val nClusters = 50
  val members = 40
  val dim = 64

  /** (vec_id, embedding); vec_id = cluster * members + m. Generation
    * order (all centers first, then members cluster-major) matches the
    * committed file and the NOTES_r6 corpus.
    */
  def vectors: Array[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(20260813L)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    (for (c <- 0 until nClusters; m <- 0 until members) yield {
      val v = Array.tabulate(dim)(d => (centers(c)(d) + 0.05 * rnd.nextGaussian()).toFloat)
      (c.toLong * members + m, v)
    }).toArray
  }

  def df(spark: SparkSession): DataFrame = {
    import spark.implicits._
    vectors.toSeq.toDF("vec_id", "embedding")
  }

  /** Regenerate the committed parquet (ONE bare file, vec_id-ordered —
    * the fixtures/<sf> layout, no _SUCCESS/crc dir noise).
    */
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("local[4]")
    val tmp = path + ".tmp"
    df(spark).coalesce(1).sortWithinPartitions("vec_id")
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path))
    new java.io.File(tmp).listFiles().foreach(_.delete())
    java.nio.file.Files.delete(java.nio.file.Paths.get(tmp))
    println(s"[clusteredfixture] wrote $path")
    spark.stop()
  }
}
