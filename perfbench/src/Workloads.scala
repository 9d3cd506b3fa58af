package graft.perfbench

import graft.{Bench, GeoFunctions => G, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-insensitive digests of answers: a canonical string per row
  * (doubles by bit pattern), sorted, hashed.
  */
object Digest {
  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float => "f" + Integer.toHexString(java.lang.Float.floatToIntBits(f))
    case b: Array[Byte] => "b" + hex(b)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ">" + canon(x) }.sorted.mkString("{", ",", "}")
    case x => x.getClass.getSimpleName.take(2) + x.toString
  }

  def sha(s: String): String =
    hex(java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))

  def rows(rs: Array[Row]): String = sha(rs.map(canon).sorted.mkString("\n")) + "#" + rs.length

  def bytes(b: Array[Byte]): String =
    hex(java.security.MessageDigest.getInstance("SHA-256").digest(b)) + "#" + b.length
}

object Workloads {

  def build(ctx: Ctx): Workload = ctx.args.workload match {
    case "headline" => headline(ctx)
    case "pipeline" => pipeline(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  /** A declared query (SparkEntry) as an op: build, plan, execute — each
    * under its own span — and digest the collected answer.
    */
  def queryOp(ctx: Ctx, name: String, runDir: String, oracleDir: String): Op = {
    val fn = SparkEntry.queries(name)
    val tr = ctx.tracer
    lazy val op: Op = new Op(name, () => {
      val df = tr.span("queries.body")(fn(ctx.spark, runDir))
      tr.span("queries.plan")(df.queryExecution.executedPlan)
      val rows = tr.span("queries.exec")(df.collect())
      op.lastRows = (rows, df.schema)
      Digest.rows(rows)
    })
    op.oracle = SparkEntry.oracleSqlFor(oracleDir).get(name)
    op
  }

  /** The engine's own multi-file layout of the generated tables (the rule
    * Bench.stage applies), written inside the run's work directory.
    */
  private def stage(ctx: Ctx): String = {
    val staged = s"${ctx.args.work}/staged"
    // the tables are independent: stage them concurrently (set-up time)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      Tables.names.map { n =>
        pool.submit(new Runnable { def run(): Unit = {
          val df = Tables(ctx.spark, ctx.args.data, n)
          val rows = ctx.inputs.get("table_rows").get(n).asLong
          val files = if (rows < 10000L) 1 else math.max(8L, math.min(64L, rows / 200000L)).toInt
          df.repartition(files).write.mode("overwrite").parquet(s"$staged/$n.parquet")
        }})
      }.foreach(_.get())
    } finally pool.shutdown()
    staged
  }

  // ---------------------------------------------------------------- headline
  /** B1–B10 (Bench.headline) on the staged layout: sub-second, floor-bound
    * queries where planning, job scheduling and codegen dominate.
    */
  private def headline(ctx: Ctx): Workload = {
    val staged = stage(ctx)
    val width = Bench.sizeShuffle(ctx.spark, staged)
    val ops = Bench.headline.map { case (n, _) => queryOp(ctx, n, staged, ctx.args.data) }
    new Workload(ops.toIndexedSeq, () => dirBytes(new java.io.File(staged)),
      Seq(s"shuffle partitions $width (Bench.sizeShuffle of the staged layout)"))
  }

  // ----------------------------------------------------------- lake (geo)
  private def envelopeWkb(x0: Double, y0: Double, x1: Double, y1: Double): Array[Byte] = {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    new org.locationtech.jts.io.WKBWriter()
      .write(gf.toGeometry(new org.locationtech.jts.geom.Envelope(x0, x1, y0, y1)))
  }

  /** The reference surface on generated points: a GeoParquet write with a
    * covering column and spatial clustering, a selective window read
    * (bbox pushdown), a point-in-box join through the broadcast-index
    * operator and a point-point st_dwithin join (the join rule's grid
    * route). Each pass rewrites the lake it reads.
    * Answers are checked against plain x/y arithmetic on the generated
    * coordinates.
    */
  private def geoLake(ctx: Ctx, lake: String): (Seq[Op], Seq[String]) = {
    val s = ctx.spark
    val tr = ctx.tracer
    val d = ctx.args.data
    val pts = s.read.parquet(s"$d/points.parquet")
    val boxesRaw = s.read.parquet(s"$d/boxes.parquet")
    val probesRaw = s.read.parquet(s"$d/probes.parquet")
    val ref = ctx.inputs.get("lake")
    val w = ref.get("window_box")
    val (wx0, wy0, wx1, wy1) = (w.get(0).asDouble, w.get(1).asDouble, w.get(2).asDouble, w.get(3).asDouble)
    val radius = ref.get("radius").asDouble
    val files = ref.get("files").asInt

    // -- references computed by the generator from the raw coordinates
    def nums(j: com.fasterxml.jackson.databind.JsonNode): Seq[Any] = {
      import scala.jdk.CollectionConverters._
      j.elements().asScala.map(v => if (v.isIntegralNumber) v.asLong: Any else v.asDouble: Any).toSeq
    }
    val windowRef = Digest.canon(nums(ref.get("window")))
    val pipRef = {
      import scala.jdk.CollectionConverters._
      Digest.rows(ref.get("boxes").elements().asScala
        .map(b => Row(b.get(0).asLong, b.get(1).asLong)).toArray)
    }
    val dwithinRef = Digest.canon(nums(ref.get("dwithin")))
    val writeRef = Digest.canon(nums(ref.get("bbox")))
    val points = ctx.inputs.get("table_rows").get("points").asLong
    Facts.lakeRows = points

    val src = pts.select(col("id"), col("x"), col("y"), G.st_point(col("x"), col("y")).as("geometry"))
    val boxes = boxesRaw.select(col("box_id"),
      G.st_makebox(col("xmin"), col("ymin"), col("xmax"), col("ymax")).as("box"))
    val probes = probesRaw.select(col("qid"), G.st_point(col("x"), col("y")).as("gq"))
    val winWkb = envelopeWkb(wx0, wy0, wx1, wy1)
    def readLake(): DataFrame = tr.span("geo.read")(graft.geo.GeoParquet.read(s, lake))
    def countRows(df: DataFrame): Array[Row] = tr.span("spark.collect")(df.collect())

    val write = new Op("geo_write", () => {
      tr.span("geo.write")(graft.geo.GeoParquet.write(src, lake, Seq("geometry"),
        addBboxColumn = true, spatialClusterFiles = Some(files)))
      val m = graft.geo.GeoParquet.readMetadata(s, lake).get.columns("geometry").bbox.get
      Digest.canon(Seq(m._1, m._2, m._3, m._4))
    })
    write.reference = Some(writeRef)
    val win = new Op("geo_window", () => {
      val r = countRows(readLake().filter(G.st_intersects(col("geometry"), lit(winWkb)))
        .agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))))
      Digest.canon(Seq(r(0).getLong(0), r(0).getLong(1)))
    })
    win.reference = Some(windowRef)
    val bsj = new Op("geo_bsj_direct", () => {
      val joined = tr.span("operators.bsj")(graft.operators.BroadcastSpatialJoin(
        readLake().select("id", "geometry"), boxes, "geometry", "box", "within"))
      Digest.rows(countRows(joined.groupBy(col("box_id")).agg(count(lit(1)).as("n"))))
    })
    bsj.reference = Some(pipRef)
    val dwithin = new Op("geo_dwithin_join", () => {
      val r = countRows(readLake().join(probes, G.st_dwithin(col("geometry"), col("gq"), lit(radius)))
        .agg(count(lit(1)), coalesce(sum(col("qid") * 1000003L + col("id")), lit(0L))))
      Digest.canon(Seq(r(0).getLong(0), r(0).getLong(1)))
    })
    dwithin.reference = Some(dwithinRef)
    (Seq(write, win, bsj, dwithin),
      Seq(s"points $points boxes ${ctx.inputs.get("table_rows").get("boxes").asLong} " +
        s"probes ${ctx.inputs.get("table_rows").get("probes").asLong} radius $radius " +
        s"window ${ref.get("window").get(0).asLong} rows; cluster files $files",
        "repeated identical GeoParquet writes differ by about 1 KB in the footer " +
          "and file names, so bytes_stored_per_user_byte is steady but the lake " +
          "is not byte-identical between passes"))
  }

  /** Direct calls into the dedup operators on a small document slice: the
    * prefix-filtered Jaccard join and line-frequency cleaning. Each answer
    * is checked against a plain driver-side computation made in set-up.
    */
  private def dedup(ctx: Ctx, tiny: Boolean): Seq[Op] = {
    import ctx.spark.implicits._
    val tr = ctx.tracer
    val tau = 0.95
    val docs = Tables(ctx.spark, ctx.args.data, "documents")
      .filter(col("doc_id") < (if (tiny) 40 else 120)).select("doc_id", "text")
    val local = docs.collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    // split with limit -1 keeps empty tokens, as Spark's split does
    val sets = local.toSeq.map { case (id, t) => (id, t.toLowerCase.split(" ", -1).toSet) }
    val pairsRef = DedupOps.jaccardPairs(sets, tau).sorted
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
    val prefix = new Op("prefix_join_direct", () => {
      val cands = tr.span("operators.prefix_pairs")(
        graft.operators.PrefixFilterJoin.pairs(toks, "doc_id", "tok", tau))
      val rows = tr.span("spark.collect")(cands.collect())
      val useful = rows.filter(r =>
        r.getInt(2).toDouble / (r.getInt(3) + r.getInt(4) - r.getInt(2)) >= tau)
      Facts.prefixCandidates = rows.length
      Facts.prefixUseful = useful.length
      Digest.canon(useful.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    })
    prefix.reference = Some(Digest.canon(pairsRef))
    // documents as lines of four words, so common lines repeat across docs
    val content = local.map { case (id, t) =>
      (id, t.split(" ").grouped(4).map(_.mkString(" ")).mkString("\n")) }
    val lineTau = 3
    val lineRef = {
      val df = content.flatMap { case (_, c) => c.split("\n", -1).distinct }
        .groupBy(identity).map { case (l, xs) => l -> xs.length }
      Digest.rows(content.map { case (id, c) =>
        val lines = c.split("\n", -1)
        val kept = lines.filter(l => df(l) < lineTau)
        Row(id, lines.length, kept.length, kept.mkString("\n"))
      })
    }
    val contentDf = content.toSeq.toDF("doc_id", "content")
    val lines = new Op("linededup_direct", () => {
      val out = tr.span("operators.linededup")(graft.operators.LineDedup.clean(contentDf, lineTau))
      Digest.rows(tr.span("spark.collect")(out.collect()))
    })
    lines.reference = Some(lineRef)
    Seq(prefix, lines)
  }

  // ---------------------------------------------------------------- pipeline
  /** The lake pipeline: the reference surface (GeoParquet write, window
    * read, spatial joins) plus the corpus operators that feed a lake
    * (prefix-filtered Jaccard join, line dedup), decoder kernels and a
    * stateful stream, each called directly.
    */
  private def pipeline(ctx: Ctx): Workload = {
    val lake = s"${ctx.args.work}/lake"
    val tiny = ctx.args.size == "tiny"
    val (geoOps, geoNotes) = geoLake(ctx, lake)
    ctx.phase("lake references computed")
    val dedupOps = dedup(ctx, tiny)
    ctx.phase("dedup references computed")
    val (decodeOps, decodeNotes) = decoders(ctx, tiny)
    ctx.phase("decoder payloads encoded")
    new Workload((geoOps ++ dedupOps ++ decodeOps :+ stream(ctx)).toIndexedSeq,
      () => dirBytes(new java.io.File(lake)), geoNotes ++ decodeNotes)
  }

  /** Decoder kernels (xz, flac, bzip2, lz4) on seeded payloads, encoded in
    * set-up; each answer is compared byte for byte with the payload.
    */
  private def decoders(ctx: Ctx, tiny: Boolean): (Seq[Op], Seq[String]) = {
    val rnd = new scala.util.Random(ctx.args.seed)
    val words = Array("spark", "table", "query", "scan", "fast", "join", "filter",
      "group", "sort", "hash", "merge", "data", "row", "column", "stream", "window")
    val xzPayload = {
      val sb = new StringBuilder
      val target = if (tiny) 1 << 14 else 1 << 18
      while (sb.length < target) { sb ++= words(rnd.nextInt(words.length)); sb += ' ' }
      sb.result().getBytes("UTF-8")
    }
    val xz = graft.operators.Xz.makeXz(xzPayload)
    val pcm: Array[Array[Int]] = {
      val n = if (tiny) 4096 else 1 << 16
      Array.tabulate(2) { ch =>
        var phase = rnd.nextDouble()
        Array.tabulate(n) { _ =>
          phase += 0.01 + 0.002 * ch
          (8000 * math.sin(phase * 2 * math.Pi) + rnd.nextGaussian() * 200).toInt
            .max(-32768).min(32767)
        }
      }
    }
    val flac = graft.operators.Flac.encode(pcm, 44100, 16)
    def pcmDigest(p: Array[Array[Int]]): String = Digest.sha(p.map(_.mkString(",")).mkString(";"))
    val tr = ctx.tracer
    val xzOp = new Op("xz_decode", () =>
      tr.span("operators.decode.xz")(graft.operators.Xz.decompress(xz))
        .map(Digest.bytes).getOrElse("reject"))
    xzOp.reference = Some(Digest.bytes(xzPayload))
    val flacOp = new Op("flac_decode", () =>
      tr.span("operators.decode.flac")(graft.operators.Flac.decode(flac))
        .map(f => pcmDigest(f.pcm)).getOrElse("reject"))
    flacOp.reference = Some(pcmDigest(pcm))
    val bz2 = graft.operators.Bzip2.compress(xzPayload)
    val bz2Op = new Op("bzip2_decode", () =>
      tr.span("operators.decode.bzip2")(graft.operators.Bzip2.decompress(bz2))
        .map(Digest.bytes).getOrElse("reject"))
    bz2Op.reference = xzOp.reference
    val lz4 = graft.operators.Lz4Shards.makeFrame(xzPayload)
    val lz4Op = new Op("lz4_decode", () =>
      tr.span("operators.decode.lz4")(graft.operators.Lz4Shards.decompress(lz4))
        .map(Digest.bytes).getOrElse("reject"))
    lz4Op.reference = xzOp.reference
    Facts.xz = xzPayload.length
    Facts.flac = pcm.map(_.length).sum.toLong * 2
    (Seq(xzOp, flacOp, bz2Op, lz4Op), Seq(s"payload ${xzPayload.length} B -> xz ${xz.length} B, " +
      s"bzip2 ${bz2.length} B, lz4 ${lz4.length} B; flac pcm ${Facts.flac} B -> ${flac.length} B"))
  }

  /** A stateful streaming aggregation through the streaming layer
    * (EventStreams.runToTable): two event files, one micro-batch each,
    * state keyed by (user, event type). Checked against the same
    * aggregation done by the generator.
    */
  private def stream(ctx: Ctx): Op = {
    val s = ctx.spark
    val src = s"${ctx.args.data}/stream"
    val ref = {
      import scala.jdk.CollectionConverters._
      Digest.rows(ctx.inputs.get("stream").elements().asScala.map(g =>
        Row(g.get(0).asLong, g.get(1).asText, g.get(2).asLong, g.get(3).asLong)).toArray)
    }
    val tr = ctx.tracer
    val op = new Op("stream_agg_direct", () => {
      val agg = s.readStream.schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(src)
        .groupBy((col("user_id") % 100).as("u"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(graft.Graft.cents2(col("value"))).as("cents"))
      val table = tr.span("streaming.run")(graft.streaming.EventStreams.runToTable(s, agg, "pb_stream"))
      Digest.rows(tr.span("spark.collect")(table.collect()))
    })
    op.reference = Some(ref)
    op
  }
}

object DedupOps {
  /** Exact Jaccard self-join on the driver: every pair with J >= tau, the
    * engine's arithmetic (inter / (sz1 + sz2 - inter) as a double).
    */
  def jaccardPairs(sets: Seq[(Long, Set[String])], tau: Double): Seq[(Long, Long)] =
    for {
      i <- sets.indices
      j <- (i + 1) until sets.size
      (a, sa) = sets(i)
      (b, sb) = sets(j)
      inter = (sa intersect sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= tau
    } yield (math.min(a, b), math.max(a, b))

}

/** Sizes the per-layer ratios divide by, set when a workload is built. */
object Facts {
  var xz = 0L
  var flac = 0L
  var lakeRows = 0L
  var prefixCandidates = 0L
  var prefixUseful = 0L
}
