package graft.etl

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The version-creation job DAG (SURVEY §3.4; reference
  * `app/tasks/table_source_assets.py:21-218` +
  * `batch/scripts/create_tabular_schema.sh` / `load_tabular_data.sh`):
  * `PUT /dataset/{d}/{v}` materializes a default table asset through
  * ordered tasks, each appending a change-log record the client polls —
  *
  *   1. `create_table` — schema inference from a ≤100-line sample of
  *      the first source URIs, patched by the user's `table_schema`;
  *   2. `load_data` — full typed read of every source URI, unique-
  *      constraint dedup (`ON CONFLICT DO NOTHING` ≡ dropDuplicates);
  *   3. `apply_layout` — partitions / cluster / index translation to
  *      the Parquet layout ([[Layout.write]]);
  *   4. `register` — the version becomes queryable (temp view).
  *
  * Spark-first divergence (documented): the reference fans these out
  * as AWS Batch jobs writing to PostgreSQL; here each task is a Spark
  * action on the driver and the "table" is a partitioned Parquet
  * directory + session view, which is what the query surface reads.
  */
object VersionCreation {

  final case class ChangeLog(task: String, status: String, detail: String)

  /** Session view name for a created version. Views are registered per
    * (dataset, version) — never under the bare dataset name, which
    * would shadow pre-registered lake tables and make the last-created
    * version the only queryable one. The `__` separator cannot appear
    * in a lake table name, so a created view can never collide with
    * one; non-identifier characters (dots in `v1.5`-style versions)
    * are folded to `_`. */
  def viewName(dataset: String, version: String): String =
    (dataset + "__" + version).replaceAll("[^A-Za-z0-9_]", "_")

  final case class CreationOptions(
      sourceUris: Seq[String],
      delimiter: String = ",",
      header: Boolean = true,
      tableSchema: Map[String, String] = Map.empty,
      partitionColumn: Option[String] = None,
      clusterColumns: Seq[String] = Nil,
      indexes: Seq[Layout.IndexSpec] = Nil,
      uniqueConstraintColumns: Seq[String] = Nil,
      latest: Boolean = true,
      sourceType: String = "table",
      pixelMeaning: String = "value",
      noData: Option[String] = None,
      unifyProjection: Boolean = false,
      resampling: String = "nearest",
      // NTv2 grid-shift file (.gsb) applied over the source CRS's
      // datum during unify_projection — the `+nadgrids=` proj
      // behavior as an explicit option (the engine has no grid
      // registry; grids are deployment artifacts, like the corpus)
      gridShiftGsb: Option[String] = None)

  object CreationOptions {
    /** Parse the PUT body's `creation_options` object. */
    def fromJson(obj: Map[String, Any]): CreationOptions = {
      def strs(v: Any): Seq[String] = v match {
        case l: List[_] => l.map(_.toString)
        case s: String => Seq(s)
        case _ => Nil
      }
      val uris = obj.get("source_uri").map(strs).getOrElse(Nil)
      if (uris.isEmpty) throw new IllegalArgumentException("No source URI provided.")
      CreationOptions(
        sourceUris = uris,
        delimiter = obj.get("delimiter").map(_.toString).getOrElse(","),
        header = obj.get("has_header").forall(_ == true),
        tableSchema = obj.get("table_schema") match {
          case Some(l: List[_]) => l.collect {
            case m: Map[_, _] =>
              val mm = m.asInstanceOf[Map[String, Any]]
              mm("name").toString -> mm("data_type").toString
          }.toMap
          case _ => Map.empty
        },
        partitionColumn = obj.get("partitions") match {
          case Some(m: Map[_, _]) =>
            m.asInstanceOf[Map[String, Any]].get("partition_column").map(_.toString)
          case _ => None
        },
        clusterColumns = obj.get("cluster").map(strs).getOrElse(Nil),
        indexes = obj.get("indices") match {
          case Some(l: List[_]) => l.collect {
            case m: Map[_, _] =>
              val mm = m.asInstanceOf[Map[String, Any]]
              Layout.IndexSpec(mm("index_type").toString,
                strs(mm.getOrElse("column_names", Nil)))
          }
          case _ => Nil
        },
        uniqueConstraintColumns = obj.get("constraints") match {
          case Some(l: List[_]) => l.collect {
            case m: Map[_, _] if m.asInstanceOf[Map[String, Any]]
              .get("constraint_type").contains("unique") =>
              strs(m.asInstanceOf[Map[String, Any]].getOrElse("column_names", Nil))
          }.flatten
          case _ => Nil
        },
        latest = obj.get("latest").forall(_ == true),
        sourceType = obj.get("source_type").map(_.toString).getOrElse("table"),
        pixelMeaning = obj.get("pixel_meaning").map(_.toString).getOrElse("value"),
        noData = obj.get("no_data").map(_.toString),
        unifyProjection = obj.get("unify_projection").contains(true),
        resampling = obj.get("resampling").map(_.toString).getOrElse("nearest"),
        gridShiftGsb = obj.get("grid_shift_gsb").map(_.toString))
    }
  }

  /** Source-CRS resolution for the raster warp: the geokey/registry
    * projection ([[graft.raster.Warp.projectionFor]]), with a
    * `grid_shift_gsb` NTv2 datum correction composed over it when
    * the option is set (what proj does when the source SRS carries
    * `+nadgrids=`). Precedence matches proj: a shift GRID SUPERSEDES
    * any towgs84 Helmert set the CRS carries (+nadgrids= wins over
    * +towgs84=) — the grid IS the datum model, never both
    * (GridShiftIngestSpec pins the composition directly — a warped
    * LAKE cannot pin it, because the target grid translates with the
    * datum model and pixel values coincide). */
  private[graft] def resolveSourceProjection(
      epsg: Int, geoParams: Map[Int, Double],
      gridShiftGsb: Option[String]): Option[graft.raster.Warp.Projection] =
    graft.raster.Warp.projectionFor(epsg, geoParams).map { base =>
      gridShiftGsb match {
        case Some(p) =>
          val datumFree = base match {
            case ds: graft.raster.Warp.DatumShifted => ds.base
            case other => other
          }
          graft.raster.Warp.GridShifted(datumFree,
            graft.raster.Ntv2.read(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(p))))
        case None => base
      }
    }

  /** The rejection message a raster-ingest user sees for a source CRS
    * the engine cannot resolve: when the file's registry code or CT
    * geokey names a RECOGNIZED-but-documented-out family (Cassini,
    * NZMG, oblique Mercator — the series/complex-poly residue the
    * reference covers by shelling to GDAL/proj), the
    * message says which family and why, so the user knows the file
    * is understood, not garbled; otherwise it lists what
    * unify_projection DOES handle. Factored out of [[createTable]]'s
    * require so RejectedCrsSpec pins the exact per-family text. */
  private[graft] def unsupportedCrsMessage(
      epsg: Int, geoParams: Map[Int, Double]): String =
    s"source CRS EPSG:$epsg not supported — " +
      (graft.raster.Warp.unsupportedFamily(epsg, geoParams) match {
        case Some(family) =>
          s"the file's projection is $family; this family has no " +
            "closed-form resolution in the engine — reproject to " +
            "EPSG:4326 with GDAL/proj first (the reference pipeline " +
            "shells to gdalwarp for exactly this case)"
        case None =>
          "reproject to EPSG:4326 first (unify_projection handles " +
            "EPSG:3857/3395, UTM zones 326xx/327xx, EASE-Grid 2.0 " +
            "6933/6931/6932, LAEA Europe 3035, polar stereographic " +
            "3413/3976/3031, plate carrée 32662/4087, world " +
            "Mollweide/Eckert IV/Robinson/Winkel Tripel/Miller/Van " +
            "der Grinten/azimuthal equidistant/polyconic, and " +
            "parameter-defined Albers/Lambert conics (2SP and " +
            "Helmert 1SP), azimuthal and cylindrical equal-area, " +
            "polar stereographic, Mercator, equirectangular, " +
            "sinusoidal, and polyconic via geokeys)"
      })

  private def sqlType(t: String): DataType = t.toLowerCase match {
    case "bigint" | "int8" => LongType
    case "integer" | "int" | "int4" => IntegerType
    case "double precision" | "double" | "numeric" => DoubleType
    case "boolean" | "bool" => BooleanType
    case "date" => DateType
    case "timestamp" => TimestampType
    case _ => StringType
  }

  /** Run the DAG; returns (change log, final table path). Throws only
    * on programming errors — task failures land in the log with
    * status "failed" and stop the chain (reference semantics: a failed
    * task fails the version). */
  def createTable(spark: SparkSession, dataset: String, version: String,
                  opts: CreationOptions, targetDir: String): (Seq[ChangeLog], Boolean) = {
    if (opts.sourceType == "vector")
      return createVector(spark, dataset, version, opts, targetDir)
    if (opts.sourceType == "raster")
      return createRaster(spark, dataset, version, opts, targetDir)
    val log = Seq.newBuilder[ChangeLog]
    var ok = true

    // 1. create_table: sample-based inference + user schema patch
    var schema: StructType = null
    try {
      import spark.implicits._
      val sample = spark.read.textFile(opts.sourceUris.take(5): _*).limit(101)
      val inferred = spark.read
        .option("header", opts.header.toString).option("sep", opts.delimiter)
        .option("inferSchema", "true")
        .csv(sample).schema
      schema = StructType(inferred.map(f =>
        opts.tableSchema.get(f.name)
          .map(t => f.copy(dataType = sqlType(t))).getOrElse(f)))
      log += ChangeLog("create_table",
        "success", s"inferred ${schema.fields.length} columns from 100-line sample")
    } catch {
      case e: Exception =>
        ok = false
        log += ChangeLog("create_table", "failed",
          Option(e.getMessage).getOrElse("schema inference failed"))
    }

    // 2. load_data: full typed read + unique-constraint dedup
    var df: DataFrame = null
    if (ok) try {
      df = spark.read.schema(schema)
        .option("header", opts.header.toString).option("sep", opts.delimiter)
        .csv(opts.sourceUris: _*)
      if (opts.uniqueConstraintColumns.nonEmpty)
        df = df.dropDuplicates(opts.uniqueConstraintColumns)
      log += ChangeLog("load_data", "success",
        s"loaded ${opts.sourceUris.length} source uri(s)")
    } catch {
      case e: Exception =>
        ok = false
        log += ChangeLog("load_data", "failed",
          Option(e.getMessage).getOrElse("load failed"))
    }

    // 3. apply_layout: partitions / cluster / indexes → parquet layout
    if (ok) try {
      Layout.write(df, targetDir,
        partitionColumns = opts.partitionColumn.toSeq,
        clusterColumns = opts.clusterColumns,
        indexes = opts.indexes)
      log += ChangeLog("apply_layout", "success",
        (opts.partitionColumn.map(c => s"partitioned by $c").toSeq ++
          (if (opts.clusterColumns.nonEmpty)
            Seq(s"clustered by ${opts.clusterColumns.mkString(",")}") else Nil) ++
          opts.indexes.map(i => s"${i.indexType}(${i.columns.mkString(",")})"))
          .mkString("; ") match { case "" => "flat parquet"; case s => s })
    } catch {
      case e: Exception =>
        ok = false
        log += ChangeLog("apply_layout", "failed",
          Option(e.getMessage).getOrElse("write failed"))
    }

    // 4. register: the version becomes queryable
    if (ok) try {
      val view = viewName(dataset, version)
      spark.read.parquet(targetDir).createOrReplaceTempView(view)
      log += ChangeLog("register", "success", s"view $view -> $targetDir")
    } catch {
      case e: Exception =>
        ok = false
        log += ChangeLog("register", "failed",
          Option(e.getMessage).getOrElse("register failed"))
    }

    (log.result(), ok)
  }

  /** Raster-source DAG (`source_type: "raster"`; reference pixETL,
    * `raster_tile_set_assets.py:36-117`): source GeoTIFF tiles become
    * a Parquet tile lake partitioned by `tile_id`, queryable through
    * the same fused zonal engine as the builtin tile sets. Two
    * distributed passes over the sources, no shuffle:
    *
    *   1. metadata pass — each tile's georeferencing (tiepoint, pixel
    *      scale, dimensions) collects to the driver (bytes-per-tile,
    *      not pixels) and derives the GRID: tiles must share one
    *      square size/scale and sit on one lattice;
    *   2. pixel pass — each tile parses on an executor and writes its
    *      `(tile_id, tx, ty, px_<meaning>)` row.
    *
    * The derived grid + band metadata land in
    * `targetDir/_asset_options.json` for the catalog registration
    * (`DataEnvironment.gridOf` reads the same keys). */
  private def createRaster(spark: SparkSession, dataset: String, version: String,
                           opts: CreationOptions, targetDir: String): (Seq[ChangeLog], Boolean) = {
    import graft.raster.GeoTiff
    val log = Seq.newBuilder[ChangeLog]
    var ok = true
    // the step a failure is logged under: each success moves it on
    var step = "create_table"
    val band = s"px_${opts.pixelMeaning}"

    try {
      val files = spark.read.format("binaryFile")
        .load(opts.sourceUris.map(_.stripPrefix("file://")): _*)
        .select(org.apache.spark.sql.functions.col("content"))
      // pass 1: georeferencing only (driver holds one tuple per tile)
      import spark.implicits._
      val metas = files.map { r =>
        val t = GeoTiff.readRaster(r.getAs[Array[Byte]](0))
        (t.originX, t.originY, t.pixelScale, t.width, t.height,
          t.bands.length, t.sampleType.name, t.epsg,
          // geokey projection parameters, canonicalized to a string
          // (stable tuple encoder; parsed back driver-side)
          t.geoParams.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";"))
      }.collect().toSeq
      require(metas.nonEmpty, "no source tiles")
      val (pixelDeg, w, h) = (metas.head._3, metas.head._4, metas.head._5)
      require(w == h, s"tiles must be square (got $w×$h)")
      require(metas.forall(m => m._3 == pixelDeg && m._4 == w && m._5 == h),
        "all tiles must share one size and pixel scale")
      val bandCount = metas.head._6
      require(metas.forall(_._6 == bandCount),
        "all tiles must share one band count")
      // pixel currency: integer sources land as array<bigint> lake
      // columns (exact), float32/64 sources (pixETL's float pixel
      // types — biomass, emissions factors) as array<double>; zonal
      // sums over float layers go through fixed-point scaling at
      // query time (`DataEnvironment.FloatBandFn`) so aggregation
      // stays exact integers
      val isFloat = metas.head._7.startsWith("float")
      require(metas.forall(_._7.startsWith("float") == isFloat),
        "all tiles must share one sample format family (int vs float), got " +
          metas.map(_._7).distinct.mkString(","))
      val srcEpsg = metas.head._8
      require(metas.forall(_._8 == srcEpsg), "all tiles must share one CRS")
      require(metas.forall(_._9 == metas.head._9),
        "all tiles must share one set of projection parameters")
      val srcGeoParams: Map[Int, Double] =
        if (metas.head._9.isEmpty) Map.empty
        else metas.head._9.split(";").map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k.toInt -> v.toDouble
        }.toMap
      val projSrc = resolveSourceProjection(srcEpsg, srcGeoParams,
        opts.gridShiftGsb)
      // a grid shift with no resolvable projected CRS would be
      // silently dropped by the 4326-identity and 3857 closed-form
      // paths — fail fast instead (those sources declare WGS84-datum
      // coordinates; a datum correction there is a modeling error)
      require(opts.gridShiftGsb.isEmpty || projSrc.isDefined,
        s"grid_shift_gsb requires a resolvable projected source CRS " +
          s"(EPSG:$srcEpsg resolves none; the EPSG:4326/3857 paths " +
          "carry no datum model to correct)")
      require(srcEpsg == 4326 ||
        ((srcEpsg == 3857 || projSrc.isDefined) && opts.unifyProjection),
        if (srcEpsg == 3857 || projSrc.isDefined)
          s"source CRS EPSG:$srcEpsg not supported — " +
            "set unify_projection to warp projected sources to EPSG:4326"
        else unsupportedCrsMessage(srcEpsg, srcGeoParams))

      // a non-default resampling method only has meaning where an
      // actual resample happens — the general projected-CRS warp; the
      // 4326 path is an identity copy and the mercator path is the
      // closed-form row resample
      require(opts.resampling == "nearest" || projSrc.isDefined,
        s"resampling '${opts.resampling}' requires a projected source CRS " +
          "(the EPSG:4326 and EPSG:3857 paths resample implicitly)")

      // source lattice (degrees for 4326, meters for 3857): every tile
      // must sit on one square lattice of shared size/scale
      val tileSpan = w * pixelDeg
      val originX = metas.map(_._1).min
      val originY = metas.map(_._2).max
      def snap(v: Double): Int = {
        val t = v / tileSpan
        require(math.abs(t - math.rint(t)) < 1e-9 * math.max(1.0, math.abs(v / tileSpan)),
          f"tile at offset $v%.6f is off the $tileSpan%.6f lattice")
        math.rint(t).toInt
      }
      val txy = metas.map(m => (snap(m._1 - originX), snap(originY - m._2)))
      require(txy.distinct.length == txy.length, "duplicate tile positions")
      val (tilesX, tilesYSrc) = (txy.map(_._1).max + 1, txy.map(_._2).max + 1)

      val bandCols: Seq[String] =
        if (bandCount == 1) Seq(band)
        else (1 to bandCount).map(i => s"${band}_b$i")
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(
        StructField("tile_id", StringType) ::
          StructField("tx", IntegerType) :: StructField("ty", IntegerType) ::
          bandCols.map(c => StructField(c,
            ArrayType(if (isFloat) DoubleType else LongType))).toList)
      // band array for one lake row: doubles stay doubles for float
      // sources, integer sources convert to exact longs
      def bandSeq(b: Array[Double]): Seq[Any] =
        if (isFloat) b.toSeq else b.toSeq.map(_.toLong)
      // pass 2: pixels, executor-side, one lake row per tile; ids MUST
      // come from the canonical Grid.tileId formatter — the query-time
      // partition pruning generates its INSET from the same method.
      // Multi-band sources (calc variables A..Z in the reference,
      // `creation_options.py:159-176`) land as one lake column per
      // band: px_<meaning> for single-band, px_<meaning>_b<i> beyond.
      // (originX/tileSpan/w/h/bandCount are method locals — the Spark
      // closures below capture them directly.)
      val (grid, rowsRdd) =
        if (srcEpsg == 4326) {
          val g = graft.raster.Grid(originX, originY,
            tilesX = tilesX, tilesY = tilesYSrc,
            tileDeg = tileSpan, pxPerTile = w)
          val rdd = files.rdd.map { r =>
            val t = GeoTiff.readRaster(r.getAs[Array[Byte]](0))
            val tx = math.rint((t.originX - originX) / tileSpan).toInt
            val ty = math.rint((originY - t.originY) / tileSpan).toInt
            Row.fromSeq(
              g.tileId(tx, ty) :: tx :: ty ::
                t.bands.map(b => bandSeq(b)).toList)
          }
          (g, rdd)
        } else if (projSrc.isDefined) {
          // general projected-CRS warp (UTM zones, EASE-Grid 2.0,
          // conics, polar stereo, sinusoidal): target-driven resample
          // — each source tile emits one sparse contribution per
          // overlapping target tile, one shuffle assembles target
          // tiles (Warp.ProjectedLattice). Resampling: nearest
          // (exclusive ownership) or bilinear (additive partial
          // weighted sums — the continuous-data method of the
          // reference's ResamplingMethod enum); the other enum values
          // (cubic/lanczos/…) are rejected with a message.
          require(opts.noData.isDefined,
            "unify_projection requires no_data (unmapped target pixels " +
              "must be distinguishable from data)")
          require(opts.resampling == "nearest" || opts.resampling == "bilinear",
            s"resampling '${opts.resampling}' not supported on the warp path " +
              "(supported: nearest, bilinear; the reference's remaining " +
              "ResamplingMethod values are not implemented)")
          val ndFill = opts.noData.get.toDouble
          val latt = graft.raster.Warp.ProjectedLattice(
            projSrc.get, originX, originY, pixelDeg, tilesX, tilesYSrc, w)
          val g = graft.raster.Grid(latt.originLon, latt.originLat,
            tilesX = latt.tilesXTarget, tilesY = latt.tilesYTarget,
            tileDeg = w * latt.pixelDeg, pxPerTile = w)
          val rdd = if (opts.resampling == "bilinear") {
            val toInt = !isFloat
            val segs = files.rdd.flatMap { r =>
              val t = GeoTiff.readRaster(r.getAs[Array[Byte]](0))
              val stx = math.rint((t.originX - originX) / tileSpan).toInt
              val sty = math.rint((originY - t.originY) / tileSpan).toInt
              latt.contributionsOfBilinear(stx, sty, t.bands, ndFill)
            }
            segs.groupByKey().map { case ((ttx, tty), contribs) =>
              // determinism contract: fold the per-source-tile partial
              // (Σ w·v, Σ w) sums in tileKey order — the oracle
              // replays the identical grouped fold
              val wv = Array.fill(bandCount)(new Array[Double](w * h))
              val wsum = Array.fill(bandCount)(new Array[Double](w * h))
              contribs.toSeq.sortBy(_._1).foreach { case (_, idxs, bwv, bws) =>
                var k = 0
                while (k < idxs.length) {
                  var c = 0
                  while (c < bandCount) {
                    wv(c)(idxs(k)) += bwv(c)(k)
                    wsum(c)(idxs(k)) += bws(c)(k)
                    c += 1
                  }
                  k += 1
                }
              }
              val out = Array.fill(bandCount)(Array.fill(w * h)(ndFill))
              var c = 0
              while (c < bandCount) {
                var k = 0
                while (k < w * h) {
                  if (wsum(c)(k) > 0.0) {
                    val v = wv(c)(k) / wsum(c)(k)
                    // integer lakes round half-up — floor(v + 0.5) is
                    // the association the oracle mirrors
                    out(c)(k) = if (toInt) Math.floor(v + 0.5) else v
                  }
                  k += 1
                }
                c += 1
              }
              Row.fromSeq(
                g.tileId(ttx, tty) :: ttx :: tty :: out.map(b => bandSeq(b)).toList)
            }
          } else {
            val segs = files.rdd.flatMap { r =>
              val t = GeoTiff.readRaster(r.getAs[Array[Byte]](0))
              val stx = math.rint((t.originX - originX) / tileSpan).toInt
              val sty = math.rint((originY - t.originY) / tileSpan).toInt
              latt.contributionsOf(stx, sty, t.bands)
            }
            segs.groupByKey().map { case ((ttx, tty), contribs) =>
              val out = Array.fill(bandCount)(Array.fill(w * h)(ndFill))
              contribs.foreach { case (idxs, bvals) =>
                var k = 0
                while (k < idxs.length) {
                  var c = 0
                  while (c < bandCount) { out(c)(idxs(k)) = bvals(c)(k); c += 1 }
                  k += 1
                }
              }
              Row.fromSeq(
                g.tileId(ttx, tty) :: ttx :: tty :: out.map(b => bandSeq(b)).toList)
            }
          }
          (g, rdd)
        } else {
          // unify_projection warp (pixETL's warp step): columns map
          // 1:1 (mercator x linear in lon), each source tile computes
          // the target rows it owns (monotone row map), one shuffle
          // assembles target tiles — no driver pixels, no cross-tile
          // reads beyond the row-segment exchange.
          val lattice = graft.raster.Warp.MercatorLattice(
            originX, originY, pixelDeg, tilesX, tilesYSrc, w)
          val g = graft.raster.Grid(lattice.originLon, lattice.originLat,
            tilesX = tilesX, tilesY = lattice.tilesYTarget,
            tileDeg = w * lattice.pixelDeg, pxPerTile = w)
          // unmapped target rows fill with no_data; fabricating
          // value-0 pixels when none was declared would be
          // indistinguishable from real zero data, so the warp path
          // requires an explicit no_data
          require(opts.noData.isDefined,
            "unify_projection requires no_data (unmapped target rows " +
              "must be distinguishable from data)")
          val ndFill = opts.noData.get.toDouble
          val segs = files.rdd.flatMap { r =>
            val t = GeoTiff.readRaster(r.getAs[Array[Byte]](0))
            val tx = math.rint((t.originX - originX) / tileSpan).toInt
            val ty = math.rint((originY - t.originY) / tileSpan).toInt
            lattice.targetRowsOf(ty).iterator.map { gr =>
              val ri = lattice.srcRowOf(gr) % h
              ((tx, gr / h), (gr % h,
                t.bands.map(b => b.slice(ri * w, ri * w + w))))
            }
          }
          // a column whose sources reach the LAST source row-band can
          // own a trailing target tile with every row unmapped (its
          // centers sit south of the source span): such a tile gets
          // zero segments, so seed it explicitly — it must exist as
          // all-no_data or its advertised id would 404. Columns with
          // interior holes keep the 4326 path's semantics (absent
          // source tile → absent target rows → no_data fill where a
          // tile exists, 404 where none does).
          val seeds = spark.sparkContext.parallelize(
            txy.filter(_._2 == tilesYSrc - 1).map(_._1).distinct
              .map(tx => ((tx, lattice.tilesYTarget - 1),
                (-1, Seq.empty[Array[Double]]))))
          val rdd = (segs union seeds).groupByKey().map { case ((tx, tyT), rows) =>
            // rows a target tile never received (south of the source
            // span on the last tile row-band) fill with no_data
            val out = Array.fill(bandCount)(Array.fill(w * h)(ndFill))
            rows.foreach { case (ri, bandRows) =>
              if (ri >= 0) {
                var c = 0
                while (c < bandCount) {
                  System.arraycopy(bandRows(c), 0, out(c), ri * w, w)
                  c += 1
                }
              }
            }
            Row.fromSeq(
              g.tileId(tx, tyT) :: tx :: tyT :: out.map(b => bandSeq(b)).toList)
          }
          (g, rdd)
        }
      log += ChangeLog("create_table", "success",
        s"derived grid ${grid.tilesX}×${grid.tilesY} tiles of ${grid.pxPerTile} px " +
          f"at (${grid.originLon}%.4f, ${grid.originLat}%.4f), ${metas.length} source tile(s)" +
          (if (srcEpsg != 4326) s" (warped from EPSG:$srcEpsg)" else ""))
      step = "load_data"
      val rows = spark.createDataFrame(rowsRdd, schema)
      rows.write.mode("overwrite").partitionBy("tile_id").parquet(targetDir)
      log += ChangeLog("load_data", "success",
        s"loaded from ${metas.length} source tile(s) " +
          s"(${grid.tilesX}×${grid.tilesY} target grid), " +
          s"band(s) ${bandCols.mkString(",")}, samples ${metas.head._7}")

      step = "register"
      val assetOpts = Map(
        "pixel_meaning" -> opts.pixelMeaning,
        "sample_type" -> metas.head._7,
        "band" -> bandCols.head,
        "lake_bands" -> bandCols.mkString(","),
        "grid_origin_lon" -> grid.originLon.toString,
        "grid_origin_lat" -> grid.originLat.toString,
        "grid_tiles_x" -> grid.tilesX.toString,
        "grid_tiles_y" -> grid.tilesY.toString,
        "grid_tile_deg" -> grid.tileDeg.toString,
        "grid_px_per_tile" -> grid.pxPerTile.toString) ++
        opts.noData.map("no_data" -> _)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(targetDir).resolve("_asset_options.json"),
        graft.geo.Json.write(assetOpts))
      log += ChangeLog("register", "success", s"tile lake $targetDir, band $band")
    } catch {
      case e: Exception =>
        ok = false
        log += ChangeLog(step, "failed",
          Option(e.getMessage).getOrElse("raster build failed"))
    }
    (log.result(), ok)
  }

  /** Read back the asset creation options a raster DAG derived. */
  def rasterAssetOptions(targetDir: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(targetDir).resolve("_asset_options.json")
    graft.geo.Json.parseObject(java.nio.file.Files.readString(p))
      .map { case (k, v) => k -> v.toString }
  }

  /** Read vector sources (reference ogr2ogr formats): GeoPackage
    * containers, ESRI Shapefiles, whole-file GeoJSON FeatureCollections
    * (`.geojson`), or the default newline-delimited GeoJSON features.
    * Returns the rows with their WKB `geom`, the attribute columns and
    * the driver name. */
  private def readVector(spark: SparkSession,
                         uris: Seq[String]): (DataFrame, Seq[String], String) = {
    def attrs(raw: DataFrame) =
      raw.schema.fieldNames.toSeq.filterNot(n => n == "fid" || n == "geom")
    def fromFeatures(raw: DataFrame, driver: String) = {
      val props = raw.schema.find(_.name == "properties").map(_.dataType) match {
        case Some(st: StructType) => st.fieldNames.toSeq
        case _ => Nil
      }
      (raw.selectExpr(props.map(p => s"properties.`$p` AS `$p`") ++
        Seq("st_geomfromgeojson(to_json(geometry)) AS geom"): _*), props, driver)
    }
    if (uris.forall(_.endsWith(".gpkg"))) {
      val raw = Geopackage.readFiles(spark, uris)
      (raw, attrs(raw), "GPKG")
    } else if (uris.forall(_.endsWith(".shp"))) {
      val raw = Shapefile.readFiles(spark, uris)
      (raw, attrs(raw), "ESRI Shapefile")
    } else if (uris.forall(_.endsWith(".geojson"))) {
      // one FeatureCollection object per file → its feature rows
      val fc = spark.read.option("multiLine", "true").json(uris: _*)
      require(fc.schema.fieldNames.contains("features"),
        "a .geojson source must be a FeatureCollection")
      fromFeatures(fc.selectExpr("explode(features) AS f").select("f.*"),
        "GeoJSON FeatureCollection")
    } else fromFeatures(spark.read.json(uris: _*), "GeoJSON")
  }

  /** The stored vector schema: the attributes, the WKB `geom` (kept —
    * the injected AOI filter `ST_Intersects(geom, …)` must resolve on
    * created versions, as on the reference's geo tables) and the GFW
    * fields derived from it. */
  private def withGfwFields(withGeom: DataFrame, props: Seq[String]): DataFrame =
    withGeom.selectExpr(
      props.map(p => s"`$p`") ++ Seq(
        "geom",
        "st_x(geom) AS lon",
        "st_y(geom) AS lat",
        "st_asgeojson(geom) AS gfw_geojson",
        "st_geostore_id(geom) AS gfw_geostore_id"): _*)

  /** Vector-source DAG (`source_type: "vector"`; reference
    * `app/tasks/vector_source_assets.py:195-347` +
    * `_fill_gfw_fields_sql.sh:9-21`): sources are read by
    * [[readVector]]. Properties become columns, the geometry
    * derives the GFW fields — point coordinates (`lon`/`lat`),
    * canonical GeoJSON, and the content-addressed geostore id — the
    * same path the s3/s4 ingest operators oracle-check. The feature
    * lookup route (`/features`) serves any version created this way. */
  private def createVector(spark: SparkSession, dataset: String, version: String,
                           opts: CreationOptions, targetDir: String): (Seq[ChangeLog], Boolean) = {
    val log = Seq.newBuilder[ChangeLog]
    var ok = true

    var df: DataFrame = null
    try {
      val (withGeom, props, driver) = readVector(spark, opts.sourceUris)
      df = withGfwFields(withGeom, props)
      log += ChangeLog("create_table", "success",
        s"vector schema: ${props.mkString(", ")} + geom + GFW fields")
      log += ChangeLog("load_data", "success",
        s"loaded ${opts.sourceUris.length} $driver source uri(s)")
    } catch {
      case e: Exception =>
        ok = false
        log += ChangeLog("create_table", "failed",
          Option(e.getMessage).getOrElse("vector load failed"))
    }

    if (ok) try {
      Layout.write(df, targetDir, partitionColumns = Nil,
        clusterColumns = opts.clusterColumns, indexes = opts.indexes)
      log += ChangeLog("apply_layout", "success", "flat parquet")
    } catch {
      case e: Exception =>
        ok = false
        log += ChangeLog("apply_layout", "failed",
          Option(e.getMessage).getOrElse("write failed"))
    }

    if (ok) try {
      val view = viewName(dataset, version)
      spark.read.parquet(targetDir).createOrReplaceTempView(view)
      log += ChangeLog("register", "success", s"view $view -> $targetDir")
    } catch {
      case e: Exception =>
        ok = false
        log += ChangeLog("register", "failed",
          Option(e.getMessage).getOrElse("register failed"))
    }

    // export_shp: the static vector file artifact the download route
    // 307-redirects to (`static_vector_file_assets.py` /
    // `downloads.py:264-348`). Driver-built single file, so capped —
    // larger versions simply skip the export (logged), like the
    // reference skipping optional assets.
    if (ok) try {
      val exported = spark.read.parquet(targetDir)
      val cnt = exported.count()
      if (cnt > 0 && cnt <= ShpExportMaxRows) {
        val attrCols = exported.schema.fields
          .filterNot(f => Set("geom", "lon", "lat", "gfw_geojson").contains(f.name))
        val rows = exported
          .select(("gfw_geojson" +: attrCols.map(_.name)).map(exported.col): _*)
          .collect()
          .map(r => (graft.geo.Geom.fromGeoJson(r.getString(0)),
            (1 until r.length).map(r.get).toSeq)).toSeq
        // exports live BESIDE the parquet dir — a non-parquet file
        // inside it would break every later spark.read.parquet
        // (appends, stats) with a footer error
        val exportsDir = java.nio.file.Paths.get(targetDir + "_exports")
        java.nio.file.Files.createDirectories(exportsDir)
        val base = exportsDir.resolve("export")
        val fieldSpecs = attrCols.map(f => f.name -> f.dataType).toSeq
        // one geometry type per shapefile (format rule): points write a
        // type-1 file, (multi)polygons a type-5 file, a mixed version
        // skips the optional artifact
        val geomKinds = rows.map {
          case (_: graft.geo.Point, _) => "point"
          case (_: graft.geo.Polygon, _) | (_: graft.geo.MultiPolygon, _) => "polygon"
          case _ => "other"
        }.distinct
        geomKinds match {
          case Seq("point") =>
            Shapefile.writePoints(rows.map {
              case (p: graft.geo.Point, attrs) => ((p.x, p.y), attrs)
              case other => throw new MatchError(other)
            }, fieldSpecs, base)
            log += ChangeLog("export_shp", "success", s"${targetDir}_exports/export.shp ($cnt features)")
          case Seq("polygon") =>
            Shapefile.writePolygons(rows.map {
              case (p: graft.geo.Polygon, attrs) => (Seq(p.rings), attrs)
              case (m: graft.geo.MultiPolygon, attrs) => (m.polys.toSeq, attrs)
              case other => throw new MatchError(other)
            }, fieldSpecs, base)
            log += ChangeLog("export_shp", "success", s"${targetDir}_exports/export.shp ($cnt features)")
          case kinds =>
            log += ChangeLog("export_shp", "success",
              s"skipped (geometry kinds ${kinds.mkString("/")} not shapefile-exportable)")
        }
        // export_gpkg: the GeoPackage twin of the artifact — the
        // pure-JVM SQLite writer is geometry-agnostic (WKB in GPKG
        // blobs), so every kind exports
        val geomType = geomKinds match {
          case Seq("point") => "POINT"
          case Seq("polygon") => "POLYGON"
          case _ => "GEOMETRY"
        }
        Geopackage.write(
          exportsDir.resolve("export.gpkg"),
          dataset, geomType,
          rows.map { case (g, attrs) => (graft.geo.Geom.toWkb(g), attrs) },
          fieldSpecs)
        log += ChangeLog("export_gpkg", "success", s"${targetDir}_exports/export.gpkg ($cnt features)")
      } else
        log += ChangeLog("export_shp", "success",
          s"skipped (size $cnt outside (0, $ShpExportMaxRows])")
    } catch {
      case e: Exception =>
        // export failure does not fail the version (optional artifact)
        log += ChangeLog("export_shp", "failed",
          Option(e.getMessage).getOrElse("export failed"))
    }

    (log.result(), ok)
  }

  /** Cap on driver-built shapefile exports (single-file artifact). */
  val ShpExportMaxRows: Long = 100000L

  /** The `/append` DAG (reference `table_source_assets.py:221-285` +
    * `load_tabular_data.sh:59-73`): re-run ONLY the load tasks for the
    * new source URIs against the existing table — read with the
    * registered version's schema, `ON CONFLICT DO NOTHING` via a
    * left-anti join on the unique constraint (idempotent: re-appending
    * the same file adds zero rows), append-write, re-register. */
  def appendSources(spark: SparkSession, dataset: String, version: String,
                    opts: CreationOptions, newUris: Seq[String],
                    targetDir: String): (Seq[ChangeLog], Boolean) = {
    val log = Seq.newBuilder[ChangeLog]
    var ok = true

    var added: Long = -1
    try {
      val existing = spark.read.parquet(targetDir)
      // resolve the new sources BY NAME against the registered schema
      // (csv schema application is positional; appends must survive a
      // different column order in the new files)
      val raw = spark.read
        .option("header", opts.header.toString).option("sep", opts.delimiter)
        .option("inferSchema", "true")
        .csv(newUris: _*)
      var incoming: DataFrame = raw.select(existing.schema.fields.map(f =>
        raw.col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      if (opts.uniqueConstraintColumns.nonEmpty)
        incoming = incoming
          .dropDuplicates(opts.uniqueConstraintColumns)
          .join(existing, opts.uniqueConstraintColumns, "left_anti")
      added = incoming.count()
      val w = incoming.write.mode("append")
      opts.partitionColumn.fold(w)(c => w.partitionBy(c)).parquet(targetDir)
      log += ChangeLog("load_data", "success",
        s"appended $added new row(s) from ${newUris.length} source uri(s)")
    } catch {
      case e: Exception =>
        ok = false
        log += ChangeLog("load_data", "failed",
          Option(e.getMessage).getOrElse("append failed"))
    }

    if (ok) try {
      val view = viewName(dataset, version)
      spark.read.parquet(targetDir).createOrReplaceTempView(view)
      log += ChangeLog("register", "success", s"view $view refreshed (+$added)")
    } catch {
      case e: Exception =>
        ok = false
        log += ChangeLog("register", "failed",
          Option(e.getMessage).getOrElse("register failed"))
    }

    (log.result(), ok)
  }

  /** `/append` for VECTOR versions (reference
    * `vector_source_assets.py:350-413` re-runs the load jobs for the
    * new source files): new sources of any format the creation DAG
    * reads run its reader and GFW-field derivation, and the
    * content-addressed `gfw_geostore_id` is the natural idempotency
    * key — re-appending a feature already in the version is a no-op
    * (the vector analog of `ON CONFLICT DO NOTHING`). */
  def appendVectorSources(spark: SparkSession, dataset: String, version: String,
                          newUris: Seq[String],
                          targetDir: String): (Seq[ChangeLog], Boolean) = {
    val log = Seq.newBuilder[ChangeLog]
    var ok = true
    var added: Long = -1
    try {
      val existing = spark.read.parquet(targetDir)
      val (withGeom, props, _) = readVector(spark, newUris)
      val derived = withGfwFields(withGeom, props)
      val incoming = derived.select(existing.schema.fields.map(f =>
        derived.col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
        .dropDuplicates("gfw_geostore_id")
        .join(existing, Seq("gfw_geostore_id"), "left_anti")
      added = incoming.count()
      incoming.write.mode("append").parquet(targetDir)
      log += ChangeLog("load_data", "success",
        s"appended $added new feature(s) from ${newUris.length} source uri(s)")
      val view = viewName(dataset, version)
      spark.read.parquet(targetDir).createOrReplaceTempView(view)
      log += ChangeLog("register", "success", s"view $view refreshed (+$added)")
    } catch {
      case e: Exception =>
        ok = false
        log += ChangeLog("load_data", "failed",
          Option(e.getMessage).getOrElse("vector append failed"))
    }
    (log.result(), ok)
  }
}
