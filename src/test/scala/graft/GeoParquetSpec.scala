package graft

import graft.geo.{GeoColumnMeta, GeoParquet, GeoParquetMetadata}
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A-block unit tier: metadata codec byte-fixture (A3), footer presence,
  * CRS carry-through (A7), column Metadata attach (A1).
  */
class GeoParquetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("GOLDEN: geo metadata JSON is byte-stable") {
    val m = GeoParquetMetadata(
      primaryColumn = "geometry",
      columns = Map("geometry" -> GeoColumnMeta(
        geometryTypes = Seq("Point"),
        bbox = Some((0.0, 1.0, 10.0, 11.0)))))
    assert(m.toJson ===
      """{"version":"1.0.0","primary_column":"geometry","columns":{"geometry":{"encoding":"WKB","geometry_types":["Point"],"crs":"OGC:CRS84","bbox":[0.0,1.0,10.0,11.0]}}}""")
  }

  test("metadata JSON round-trips") {
    val m = GeoParquetMetadata(
      primaryColumn = "geom",
      columns = Map("geom" -> GeoColumnMeta(
        geometryTypes = Seq("Point", "Polygon"), crs = "EPSG:4326",
        bbox = Some((-1.5, -2.5, 3.5, 4.5)))))
    assert(GeoParquetMetadata.fromJson(m.toJson) === m)
  }

  test("1.1 covering codec: round-trip, version bump, malformed refs decode to None") {
    val m = GeoParquetMetadata(
      primaryColumn = "g",
      columns = Map("g" -> GeoColumnMeta(covering = Some("cov"))))
    val j = m.toJson
    assert(j.contains("\"version\":\"1.1.0\""), j) // covering ⇒ 1.1
    assert(j.contains("\"covering\":{\"bbox\":{\"xmin\":[\"cov\",\"xmin\"]"), j)
    assert(GeoParquetMetadata.fromJson(j).columns("g").covering === Some("cov"))
    // the four paths must agree on ONE column — else no covering
    val split = j.replaceFirst("""\["cov","xmin"\]""", """["other","xmin"]""")
    assert(GeoParquetMetadata.fromJson(split).columns("g").covering === None)
    // wrong field name in a path — else no covering
    val wrongField = j.replaceFirst("""\["cov","ymin"\]""", """["cov","ymax"]""")
    assert(GeoParquetMetadata.fromJson(wrongField).columns("g").covering === None)
    // no covering anywhere ⇒ version stays 1.0.0 (byte-stable 1.0 footers)
    assert(GeoParquetMetadata(primaryColumn = "g",
      columns = Map("g" -> GeoColumnMeta())).toJson.contains("\"version\":\"1.0.0\""))
  }

  test("write(addBboxColumn) declares the 1.1 covering in the footer") {
    val out = "/tmp/graft_test/geo_spec_covering"
    val df = TestSpark.spark.range(10).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"),
        lit(2.0) * col("id").cast("double")).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"), addBboxColumn = true)
    val meta = GeoParquet.readMetadata(spark, out).get
    assert(meta.version === "1.1.0")
    assert(meta.columns("geometry").covering === Some("__bbox_geometry"))
    // read attaches the declared covering to the column metadata
    val back = GeoParquet.read(spark, out)
    assert(back.schema("geometry").metadata.getString("geo.covering")
      === "__bbox_geometry")
  }

  test("write injects footer geo key; read re-attaches column metadata + CRS") {
    val out = "/tmp/graft_test/geo_spec"
    val df = TestSpark.spark.range(10).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"),
        lit(2.0) * col("id").cast("double")).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"), crs = "EPSG:3857")

    val meta = GeoParquet.readMetadata(spark, out)
    assert(meta.isDefined)
    assert(meta.get.primaryColumn === "geometry")
    val cm = meta.get.columns("geometry")
    assert(cm.encoding === "WKB")
    assert(cm.crs === "EPSG:3857")
    assert(cm.geometryTypes === Seq("Point"))
    assert(cm.bbox === Some((0.0, 0.0, 9.0, 18.0)))

    val back = GeoParquet.read(spark, out)
    val fieldMeta = back.schema("geometry").metadata
    assert(fieldMeta.getString("geo.encoding") === "WKB")
    assert(fieldMeta.getString("geo.crs") === "EPSG:3857")
    // data intact
    assert(back.count() === 10)
    assert(back.select(GeoFunctions.st_y(col("geometry")))
      .collect().map(_.getDouble(0)).sorted.toSeq === (0 until 10).map(_ * 2.0))
  }

  test("mixed geometry types: stats record all types, bbox spans both") {
    val out = "/tmp/graft_test/geo_mixed"
    val pts = spark.range(5).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"), lit(0.0)).as("geometry"))
    val boxes = spark.range(5, 10).toDF("id")
      .select(col("id"), GeoFunctions.st_makebox(lit(20.0), lit(-5.0),
        col("id").cast("double") * 10, lit(5.0)).as("geometry"))
    GeoParquet.write(pts.unionByName(boxes), out, Seq("geometry"))
    val cm = GeoParquet.readMetadata(spark, out).get.columns("geometry")
    assert(cm.geometryTypes === Seq("Point", "Polygon")) // sorted
    assert(cm.bbox === Some((0.0, -5.0, 90.0, 5.0)))
  }

  test("partitioned geoparquet write: footer injected in nested part files") {
    val out = "/tmp/graft_test/geo_part"
    val df = spark.range(100).toDF("id")
      .select(col("id"), (col("id") % 4).as("bucket"),
        GeoFunctions.st_point(col("id").cast("double"), lit(1.0)).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"), partitionBy = Seq("bucket"))
    val meta = GeoParquet.readMetadata(spark, out)
    assert(meta.isDefined && meta.get.primaryColumn === "geometry")
    val back = GeoParquet.read(spark, out)
    assert(back.count() === 100)
    assert(back.schema("geometry").metadata.getString("geo.encoding") === "WKB")
    // partition pruning still works through the rewritten files
    val plan = back.filter(col("bucket") === 2).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"))
  }

  test("first write already carries the geo footer in EVERY part file (no rewrite pass)") {
    val out = "/tmp/graft_test/geo_writetime"
    val df = spark.range(64).toDF("id").repartition(4)
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"), lit(0.0)).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"))

    val dir = new java.io.File(out)
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length >= 2, "want multiple part files to prove per-task injection")
    // no rewrite artifacts: write-time injection leaves no tmp/bak behind
    assert(!dir.listFiles().exists(f =>
      f.getName.endsWith(".geo.tmp") || f.getName.endsWith(".geo.bak")))
    val conf = spark.sparkContext.hadoopConfiguration
    parts.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      val kv = try reader.getFooter.getFileMetaData.getKeyValueMetaData finally reader.close()
      assert(kv.containsKey("geo"), s"part ${f.getName} missing geo footer")
      assert(kv.get("geo").contains("\"primary_column\":\"geometry\""))
    }
  }

  test("statsFromWritten: stats come from the materialized files, footer retrofitted") {
    val out = "/tmp/graft_test/geo_statswritten"
    val df = spark.range(20).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"),
        (col("id") * 3).cast("double")).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"), statsFromWritten = true)
    val meta = GeoParquet.readMetadata(spark, out)
    assert(meta.isDefined)
    assert(meta.get.columns("geometry").bbox === Some((0.0, 0.0, 19.0, 57.0)))
    assert(GeoParquet.read(spark, out).count() === 20)
  }

  test("statsFromWritten: the footer retrofit uses the session's Hadoop conf") {
    // `gtest:` exists only in the session's conf, as object-store schemes
    // and credentials do: a task that builds its own Configuration cannot
    // resolve it. Uncached, so the tasks (which share this JVM in local
    // mode) cannot pick up the driver's instance either.
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    hadoopConf.set("fs.gtest.impl", classOf[SessionOnlyFileSystem].getName)
    hadoopConf.setBoolean("fs.gtest.impl.disable.cache", true)
    try {
      val out = s"gtest:${java.nio.file.Files.createTempDirectory("graft_gtest")}/geo"
      val df = spark.range(20).toDF("id")
        .select(col("id"), GeoFunctions.st_point(col("id").cast("double"), lit(1.0)).as("geometry"))
      GeoParquet.write(df, out, Seq("geometry"), statsFromWritten = true)
      val meta = GeoParquet.readMetadata(spark, out)
      assert(meta.flatMap(_.columns("geometry").bbox) === Some((0.0, 1.0, 19.0, 1.0)))
      assert(GeoParquet.read(spark, out).count() === 20)
    } finally Seq("fs.gtest.impl", "fs.gtest.impl.disable.cache").foreach(hadoopConf.unset)
  }

  test("injectFooterInto retrofits a geo footer onto plain parquet") {
    val out = "/tmp/graft_test/geo_retrofit"
    spark.range(10).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"), lit(3.0)).as("geometry"))
      .write.mode("overwrite").parquet(out)
    assert(GeoParquet.readMetadata(spark, out).isEmpty)
    val json = GeoParquetMetadata(primaryColumn = "geometry",
      columns = Map("geometry" -> GeoColumnMeta(geometryTypes = Seq("Point")))).toJson
    GeoParquet.injectFooterInto(spark, out, json)
    val meta = GeoParquet.readMetadata(spark, out)
    assert(meta.isDefined && meta.get.primaryColumn === "geometry")
    // data still reads after the byte-level rewrite
    assert(spark.read.parquet(out).count() === 10)
  }

  test("footer rewrite preserves row-group statistics pushdown") {
    val out = "/tmp/graft_test/geo_spec2"
    val df = spark.range(1000).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"), lit(0.0)).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"))
    val plan = spark.read.parquet(out).filter(col("id") > 990)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,990)]"))
    assert(spark.read.parquet(out).filter(col("id") > 990).count() === 9)
  }
}

/** The local filesystem under a scheme no bare `Configuration` knows.
  * Statuses are plain: Hadoop's lazy local status loads permissions back
  * through a `file:` URI, which a `gtest:` path is not.
  */
class SessionOnlyFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("gtest:///")
  override def getScheme: String = "gtest"
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  private def plain(st: FileStatus) = new FileStatus(st.getLen, st.isDirectory,
    st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath)
}
