package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the embedding-compression half of the
  * large-scale ANN stack (IVF partitions the corpus, PQ shrinks the
  * vectors; SURVEY §2 E-block scale path next to [[IvfAnn]] and
  * [[AnnLsh]]).
  *
  * Shape, and why it survives 100 TB:
  *  - `codebook`: k sample vectors chosen by a deterministic spread hash
  *    (smallest md5 of the id string — the same engine-neutral rule the
  *    e16 sampling oracle uses), sliced into m subspaces. Driver state is
  *    m*k*subDim doubles (tiny); no RNG, no training job required for the
  *    declared query (Lloyd refinement composes exactly like
  *    [[IvfAnn.refine]] where quantizer quality matters).
  *  - `encode`: per-subspace nearest-centroid codes packed into ONE long
  *    (4 bits per subspace for k=16) — 8 bytes per vector at rest instead
  *    of 256, computed scan-locally by codegen'd higher-order functions
  *    against literal centroids. No shuffle, no UDF.
  *  - `adcSearch` (asymmetric distance computation): the query's distance
  *    to every centroid is a driver-computed m×k table shipped as
  *    literals; a vector's approximate distance is m table lookups by
  *    code nibble + an ordered sum. Scoring never touches the original
  *    vectors — the scan reads 8-byte codes, and top-k plans as
  *    TakeOrderedAndProject.
  *
  * Every distance fold (sub-vector squared-L2, the ADC sum) runs in a
  * FIXED left-to-right order on both engines, so the DuckDB oracle twin —
  * which re-derives the codebook, codes and ADC scores independently from
  * the raw parquet — matches bit-for-bit.
  */
object ProductQuantizer {

  /** Deterministic sampled codebook: the k corpus vectors with the
    * smallest md5(id) spread hash, sliced into m subspaces. Returned as
    * [m][k][subDim] DOUBLES — the exact values both engines' distance
    * arithmetic folds over.
    */
  def codebook(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): Array[Array[Array[Double]]] = {
    val rows = emb.select(col(idCol).cast("string").as("id"), col(vecCol).as("v"))
      .orderBy(md5(col("id").cast("binary")), col("id"))
      .limit(k).collect()
    require(rows.length == k, s"corpus smaller than codebook size $k")
    val dim = rows.head.getSeq[Float](1).length
    require(m > 0 && dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    Array.tabulate(m, k, sub)((j, c, d) => rows(c).getSeq[Float](1)(j * sub + d).toDouble)
  }

  /** Exact-round-trip double literal (shortest repr parses back to the
    * same bits in Catalyst and DuckDB alike). */
  private def lit2s(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite centroid component $d")
    d.toString + "D"
  }

  /** Squared L2 of subspace j of `vecCol` against centroid (j,c): a
    * codegen'd zip_with/aggregate fold, left-to-right over the sub-dims.
    */
  private def subDist(vecCol: String, cb: Array[Array[Array[Double]]],
      j: Int, c: Int): Column = {
    val sub = cb(j)(c).length
    val centroid = cb(j)(c).map(lit2s).mkString("array(", ", ", ")")
    expr(s"""aggregate(
      zip_with(slice($vecCol, ${j * sub + 1}, $sub), $centroid,
        (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
      0.0D, (acc, t) -> acc + t)""")
  }

  /** Nearest-centroid code per subspace (first minimum wins — the same
    * tie-break the oracle's ORDER BY dist, idx applies), packed into one
    * long nibble-wise: subspace j occupies bits [4j, 4j+4). Routes through
    * the NATIVE codegen expression (functions.PqEncode) — the HOF form
    * below is semantically identical but never enters whole-stage codegen
    * (measured ~50× slower per row); PqSpec pins code-for-code parity.
    */
  def encode(emb: DataFrame, vecCol: String,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    emb.withColumn("__pq_code", GraftColumnBridge.column(
      graft.functions.PqEncode(GraftColumnBridge.expression(col(vecCol)), cb)))
  }

  /** The higher-order-function formulation of [[encode]] — kept as the
    * cross-check twin (same fold order, same tie-break) the parity spec
    * runs against the native expression.
    */
  private[graft] def encodeHof(emb: DataFrame, vecCol: String,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val m = cb.length
    val k = cb(0).length
    require(k <= 16 && m <= 15, s"nibble packing holds k<=16 codes, m<=15 subspaces")
    val packed = (0 until m).map { j =>
      val dists = array((0 until k).map(c => subDist(vecCol, cb, j, c)): _*)
      (array_position(dists, array_min(dists)) - 1) * lit(1L << (4 * j))
    }.reduce(_ + _)
    emb.withColumn("__pq_code", packed.cast("long"))
  }

  /** ADC top-k over an encoded corpus: approximate distance is m ordered
    * table lookups summed left-to-right; ties break on id. The original
    * vector column is never read.
    */
  def adcSearch(encoded: DataFrame, idCol: String, q: Array[Float],
      cb: Array[Array[Array[Double]]], topK: Int): DataFrame = {
    val m = cb.length
    val k = cb(0).length
    val sub = cb(0)(0).length
    require(q.length == m * sub, s"query dim ${q.length} != ${m * sub}")
    // driver-side distance table, same left-to-right fold as subDist
    val table: Array[Array[Double]] = Array.tabulate(m, k) { (j, c) =>
      var acc = 0.0
      var d = 0
      while (d < sub) {
        val t = q(j * sub + d).toDouble - cb(j)(c)(d)
        acc += t * t
        d += 1
      }
      acc
    }
    val adc = (0 until m).map { j =>
      element_at(typedlit(table(j).toSeq),
        (shiftrightunsigned(col("__pq_code"), 4 * j) % lit(16L)).cast("int") + 1)
    }.reduce(_ + _)
    // Rejected vectors (short/non-finite → NULL __pq_code from PqEncode)
    // must not outrank real neighbors: ascending sort is nulls-first.
    encoded.filter(col("__pq_code").isNotNull)
      .select(col(idCol), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(topK)
  }

  /** ADC shortlist + exact re-rank — the standard production PQ search
    * (Jégou et al., "Product quantization for nearest neighbor search",
    * IEEE TPAMI 2011: IVFADC with re-ranking). PQ codes at m=8/k=16
    * resolution collapse a tight cluster to ONE code, so raw ADC cannot
    * rank within it (NOTES_r6: recall@10 plateaus at ~0.3 on clustered
    * corpora); re-ranking the top-`shortlist` ADC candidates by exact
    * cosine restores recall ~1.0 while reading only `shortlist` full
    * vectors instead of the corpus.
    *
    * Scale shape: the ADC pass scans 8-byte codes and plans as
    * TakeOrderedAndProject (no vector reads); the shortlist — a bounded,
    * driver-tiny set — broadcasts back onto the corpus as an id
    * equi-join, so only matching rows' vectors survive the scan filter.
    * One job, no collect between the stages.
    */
  def adcSearchRerank(encoded: DataFrame, idCol: String, vecCol: String,
      q: Array[Float], cb: Array[Array[Array[Double]]],
      shortlist: Int, topK: Int): DataFrame = {
    require(shortlist >= topK, s"shortlist $shortlist must cover topK $topK")
    val short = adcSearch(encoded, idCol, q, cb, shortlist).select(col(idCol))
    encoded.join(broadcast(short), idCol)
      .select(col(idCol),
        call_function("cosine_sim", col(vecCol), typedlit(q.toSeq)).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(topK)
  }
}
