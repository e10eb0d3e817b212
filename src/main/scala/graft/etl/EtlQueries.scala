package graft.etl

import graft.{Op, QueryModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ETL ingest operators (SURVEY §2.1 S1–S4): delimited-text ingest
  * with sample-based schema inference and user schema patching, and
  * vector ingest from GeoJSON lines with GFW-field derivation. Each
  * query performs the full round trip — write the source file, ingest
  * it through the engine's path, emit the loaded rows — and the oracle
  * checks the result against the original lake table, proving the
  * pipeline is lossless.
  */
object EtlQueries extends QueryModule {

  /** Scratch dir of one round trip, named from the sanitized lake
    * path (the r12/r13 convention) so two lakes never share one. */
  private[etl] def tmpDir(tag: String, sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_etl_${tag}_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** S1: TSV ingest. Schema is inferred from the first 100 lines only
    * (the reference's csvsql sample, `create_tabular_schema.sh:36-50`),
    * then patched by the user-supplied `table_schema` override
    * (`:71-90`) — here `n_chars` → BIGINT, which the 100-row sample
    * would under-infer as INT.
    */
  private def csvIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("s1", sfDir)
    Tables.load(spark, sfDir, "documents")
      .write.mode("overwrite")
      .option("header", "true").option("sep", "\t")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)

    // sample-based inference: first 100 lines (+ header)
    import spark.implicits._
    val sampleLines = spark.read.textFile(dir).limit(101)
    val inferred = spark.read
      .option("header", "true").option("sep", "\t").option("inferSchema", "true")
      .csv(sampleLines).schema
    // user schema patch (table_schema override semantics)
    val patch: Map[String, DataType] = Map("n_chars" -> LongType, "doc_id" -> LongType)
    val schema = StructType(inferred.map(f =>
      patch.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f)))

    spark.read.schema(schema)
      .option("header", "true").option("sep", "\t")
      .csv(dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
  }

  /** S3+S4: vector ingest — GeoJSON feature lines → geometry assembly
    * → GFW fields (content-addressed geostore id, canonical GeoJSON;
    * `_fill_gfw_fields_sql.sh:9-21`). */
  private def vectorIngest(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val dir = tmpDir("s3", sfDir)
    val pts = spark.sql(
      """SELECT c_custkey,
        |  CAST(c_custkey % 720 AS DOUBLE) / 2.0 - 179.75 AS lon,
        |  CAST(c_custkey % 340 AS DOUBLE) / 2.0 - 84.75 AS lat
        |FROM customer WHERE c_custkey < 300""".stripMargin)
    pts.select(to_json(struct(
      struct(lit("Point").as("type"),
        array(col("lon"), col("lat")).as("coordinates")).as("geometry"),
      struct(col("c_custkey").as("custkey")).as("properties"))).as("value"))
      .write.mode("overwrite").text(dir)

    val raw = spark.read.json(dir)
    raw.select(
      col("properties.custkey").as("custkey"),
      expr("st_geomfromgeojson(to_json(geometry))").as("geom"))
      .selectExpr(
        "custkey",
        "st_x(geom) AS lon",
        "st_y(geom) AS lat",
        "st_asgeojson(geom) AS gfw_geojson",
        "st_geostore_id(geom) AS gfw_geostore_id")
  }

  /** S3's other reference ingest form: vector rows as CSV with a
    * WKB-HEX geometry column (`load_vector_csv_data.sh` /
    * `vector_source_assets.py` path) — geometry round-trips source →
    * WKB → hex text → CSV → `unhex` → WKB, then the GFW fields derive
    * exactly as in the GeoJSON path (the oracle reproduces the final
    * values arithmetically; the hex round trip is what's under test). */
  private def wkbCsvIngest(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val dir = tmpDir("s4", sfDir)
    spark.sql(
      """SELECT c_custkey AS custkey,
        |  hex(st_setsrid(st_point(
        |    CAST(c_custkey % 720 AS DOUBLE) / 2.0 - 179.75,
        |    CAST(c_custkey % 340 AS DOUBLE) / 2.0 - 84.75), 4326)) AS geom_hex
        |FROM customer WHERE c_custkey < 300""".stripMargin)
      .write.mode("overwrite").option("header", "true").csv(dir)

    spark.read.option("header", "true").csv(dir)
      .selectExpr(
        "CAST(custkey AS BIGINT) AS custkey",
        "unhex(geom_hex) AS geom")
      .selectExpr(
        "custkey",
        "st_x(geom) AS lon",
        "st_y(geom) AS lat",
        "st_asgeojson(geom) AS gfw_geojson",
        "st_geostore_id(geom) AS gfw_geostore_id")
  }

  /** Fixture writer for the S5 round trip: a Point shapefile of the
    * customer lattice via [[Shapefile.writePoints]] (the same writer
    * the vector version export uses). Bounded (custkey < 300) — this
    * is the round-trip harness, not the ingest path. */
  private def writePointShapefile(rows: Seq[(Long, Double, Double)],
                                  base: java.nio.file.Path): Unit =
    Shapefile.writePoints(
      rows.map(r => ((r._2, r._3), Seq[Any](r._1))),
      Seq("custkey" -> LongType), base)

  /** S5: shapefile ingest — the `.shp`/`.dbf` pair round-trips through
    * the pure-JVM [[Shapefile]] reader (the reference's dominant
    * vector format, `vector_source_assets.py:195-347`), WKB feeds the
    * same GFW-field derivation as s3/s4, and the oracle proves the
    * round trip lossless against the source lattice. */
  private def shpIngest(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val dir = java.nio.file.Paths.get(tmpDir("s5", sfDir))
    java.nio.file.Files.createDirectories(dir)
    val rows = spark.sql(
      """SELECT c_custkey,
        |  CAST(c_custkey % 720 AS DOUBLE) / 2.0 - 179.75 AS lon,
        |  CAST(c_custkey % 340 AS DOUBLE) / 2.0 - 84.75 AS lat
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    writePointShapefile(rows, dir.resolve("pts"))
    Shapefile.read(spark, dir.toString)
      .selectExpr(
        "custkey",
        "st_x(geom) AS lon",
        "st_y(geom) AS lat",
        "st_asgeojson(geom) AS gfw_geojson",
        "st_geostore_id(geom) AS gfw_geostore_id")
  }

  /** S7 (vector formats): GeoPackage ingest — a `.gpkg` container
    * written by the pure-JVM SQLite core round-trips through
    * [[Geopackage.read]] (the reference's second ogr2ogr vector
    * format, `vector_source_assets.py:195-347`), WKB feeds the same
    * GFW-field derivation as s3/s4/s5, and the oracle proves the
    * SQLite b-tree + GPKG blob round trip lossless. */
  private def gpkgIngest(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val dir = java.nio.file.Paths.get(tmpDir("s7", sfDir))
    java.nio.file.Files.createDirectories(dir)
    val rows = spark.sql(
      """SELECT c_custkey,
        |  CAST(c_custkey % 720 AS DOUBLE) / 2.0 - 179.75 AS lon,
        |  CAST(c_custkey % 340 AS DOUBLE) / 2.0 - 84.75 AS lat
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin)
      .collect().map { r =>
        (graft.geo.Geom.toWkb(graft.geo.Point(r.getDouble(1), r.getDouble(2))),
          Seq[Any](r.getLong(0)))
      }.toSeq
    Geopackage.write(dir.resolve("pts.gpkg"), "pts", "POINT", rows,
      Seq("custkey" -> LongType))
    Geopackage.read(spark, dir.toString)
      .selectExpr(
        "custkey",
        "st_x(geom) AS lon",
        "st_y(geom) AS lat",
        "st_asgeojson(geom) AS gfw_geojson",
        "st_geostore_id(geom) AS gfw_geostore_id")
  }

  /** S6: the `/features` serving path end-to-end — NDJSON GeoJSON
    * features ingested through the version-creation vector DAG
    * (`VersionCreation.createVector`, the code behind
    * PUT `source_type: "vector"`), then the point-radius feature
    * lookup against the registered version view — the same SQL the
    * `/features` route issues (reference `features.py:39-76`,
    * haversine radius from the zoom table). */
  private def vectorFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    val dir = tmpDir("s6src", sfDir)
    spark.sql(
      """SELECT c_custkey,
        |  CAST(c_custkey % 720 AS DOUBLE) / 2.0 - 179.75 AS lon,
        |  CAST(c_custkey % 340 AS DOUBLE) / 2.0 - 84.75 AS lat
        |FROM customer WHERE c_custkey < 300""".stripMargin)
      .select(to_json(struct(
        lit("Feature").as("type"),
        struct(lit("Point").as("type"),
          array(col("lon"), col("lat")).as("coordinates")).as("geometry"),
        struct(col("c_custkey").as("custkey")).as("properties"))).as("value"))
      .write.mode("overwrite").text(dir)

    val target = tmpDir("s6tbl", sfDir)
    val (log, ok) = VersionCreation.createTable(spark, "vecfeat", "v1",
      VersionCreation.CreationOptions(sourceUris = Seq(dir), sourceType = "vector"),
      target)
    require(ok, s"vector version creation failed: $log")
    spark.sql(
      s"""SELECT custkey, lon, lat,
         |  st_distance_sphere(st_point(lon, lat), st_point(-94.613, 0.356)) AS dist_m
         |FROM ${VersionCreation.viewName("vecfeat", "v1")}
         |WHERE st_distance_sphere(st_point(lon, lat), st_point(-94.613, 0.356)) <= 300000.0""".stripMargin)
  }

  /** The lake points with their derived GFW fields (canonical GeoJSON,
    * content-addressed geostore id) — what every point-ingest round
    * trip must load. */
  private val pointIngestOracle: String =
    """WITH pts AS (
      |  SELECT c_custkey AS custkey,
      |    CAST(c_custkey % 720 AS DOUBLE) / 2.0 - 179.75 AS lon,
      |    CAST(c_custkey % 340 AS DOUBLE) / 2.0 - 84.75 AS lat
      |  FROM customer WHERE c_custkey < 300),
      |j AS (SELECT custkey, lon, lat,
      |  '{"type":"Point","coordinates":[' || lon::VARCHAR || ',' || lat::VARCHAR || ']}' AS gfw_geojson
      |  FROM pts)
      |SELECT custkey, lon, lat, gfw_geojson,
      |  substr(md5(gfw_geojson), 1, 8) || '-' || substr(md5(gfw_geojson), 9, 4) || '-' ||
      |  substr(md5(gfw_geojson), 13, 4) || '-' || substr(md5(gfw_geojson), 17, 4) || '-' ||
      |  substr(md5(gfw_geojson), 21, 12) AS gfw_geostore_id
      |FROM j""".stripMargin

  override def ops: Seq[Op] = Seq(
    // the ingested view reproduces the source lattice exactly, so the
    // oracle replays the derivation + the haversine (term order mirrors
    // st_distance_sphere)
    Op("s6_vector_features", vectorFeatures,
      """WITH pts AS (
        |  SELECT c_custkey AS custkey,
        |    CAST(c_custkey % 720 AS DOUBLE) / 2.0 - 179.75 AS lon,
        |    CAST(c_custkey % 340 AS DOUBLE) / 2.0 - 84.75 AS lat
        |  FROM customer WHERE c_custkey < 300),
        |d AS (SELECT custkey, lon, lat,
        |  2 * 6371008.8 * asin(sqrt(
        |    sin(radians(0.356 - lat) / 2) * sin(radians(0.356 - lat) / 2) +
        |    cos(radians(lat)) * cos(radians(0.356)) *
        |    sin(radians(-94.613 - lon) / 2) * sin(radians(-94.613 - lon) / 2))) AS dist_m
        |  FROM pts)
        |SELECT custkey, lon, lat, dist_m FROM d WHERE dist_m <= 300000.0""".stripMargin),
    // lossless round trip ⇒ the ingest result equals the source table
    Op("s1_csv_ingest", csvIngest,
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),
    // every point-ingest path lands on the same derived values: the
    // GeoJSON-lines, .shp/.dbf, SQLite record + GPKG blob and
    // WKB-hex/CSV round trips are all lossless on IEEE doubles
    Op("s3_vector_ingest", vectorIngest, pointIngestOracle),
    Op("s5_shp_ingest", shpIngest, pointIngestOracle),
    Op("s7_gpkg_ingest", gpkgIngest, pointIngestOracle),
    Op("s4_wkb_csv_ingest", wkbCsvIngest, pointIngestOracle))
}
