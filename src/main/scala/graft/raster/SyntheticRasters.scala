package graft.raster

import graft.catalog._

/** Catalog entries for the synthetic raster tile sets — the stand-in
  * for the reference's raster-tile-set asset rows that
  * `_get_data_environment` reads (`app/routes/datasets/queries.py:
  * 654-774`, asset `creation_options`). Each dataset maps one lake
  * band (see [[TileLake.bandColumns]]) through a `pixel_meaning` that
  * exercises a distinct derived-layer synthesis path in
  * [[DataEnvironment.cached]]:
  *
  *   - `class`    → plain categorical layer + raster-table dictionary
  *   - `threshold`→ plain numeric layer (the TCD filter family)
  *   - `date_conf`→ derived `__date` + `__confidence` layers
  *     (`queries.py:700-744`)
  *   - `Mg_ha-1`  → area-density derived layer (`A * area`,
  *     `queries.py:746-757`)
  *   - `is`       → boolean presence layer (`is__<dataset>`)
  *   - `calc`     → creation-options calc formula over the band, with
  *     a `no_data` base guard (reference SourceLayer.no_data)
  */
object SyntheticRasters {

  private def rds(name: String, opts: Map[String, String]): Dataset =
    Dataset(name, Seq(Version(name, "v1", isLatest = true, sourceType = "raster",
      assets = Seq(Asset(s"$name-a1", AssetType.RasterTileSet, TileLake.defaultDir,
        isDefault = true, creationOptions = opts)))))

  /** A raster dataset on the DERIVED (coarse, 50 px/tile) grid — the
    * multi-grid case: `_get_data_environment` is built per grid
    * (`queries.py:654-668`), so this layer is only visible to queries
    * whose FROM dataset lives on the coarse grid, and referencing it
    * from a fine-grid query fails layer resolution. */
  private def rdsDerived(name: String, opts: Map[String, String]): Dataset =
    Dataset(name, Seq(Version(name, "v1", isLatest = true, sourceType = "raster",
      assets = Seq(Asset(s"$name-a1", AssetType.RasterTileSet, TileLake.derivedDir,
        isDefault = true, creationOptions = opts ++ Map(
          "grid_px_per_tile" -> TileLake.derivedGrid.pxPerTile.toString))))))

  val datasets: Seq[Dataset] = Seq(
    rdsDerived("whrc_biomass_tonnes", Map(
      "pixel_meaning" -> "tonnes", "band" -> "px_biomass_t",
      "key_bound" -> "128")),
    rds("landcover_raster", Map(
      "pixel_meaning" -> "class", "band" -> "px_landcover", "key_bound" -> "7")),
    rds("umd_tree_cover_density_2000", Map(
      "pixel_meaning" -> "threshold", "band" -> "px_tcd", "key_bound" -> "128")),
    rds("umd_glad_landsat_alerts", Map(
      "pixel_meaning" -> "date_conf", "band" -> "px_dateconf",
      "epoch" -> "2015-01-01")),
    rds("whrc_aboveground_biomass_stock_2000", Map(
      "pixel_meaning" -> "Mg_ha-1", "band" -> "px_biomass10",
      "unit_scale" -> "10")),
    rds("umd_regional_primary_forest_2001", Map(
      "pixel_meaning" -> "is", "band" -> "px_u")),
    {
      // two versions: the latest (v2) re-bases the year calc; v1 stays
      // addressable through version_overrides (`queries.py:790-813`)
      val name = "umd_tree_cover_loss"
      def version(v: String, isLatest: Boolean, calc: String) =
        Version(name, v, isLatest = isLatest, sourceType = "raster",
          assets = Seq(Asset(s"$name-$v", AssetType.RasterTileSet,
            TileLake.defaultDir, isDefault = true,
            creationOptions = Map("pixel_meaning" -> "year", "band" -> "px_w",
              "calc" -> calc, "key_bound" -> "2048", "no_data" -> "0"))))
      Dataset(name, Seq(
        version("v1", isLatest = false, "2000 + A % 25"),
        version("v2", isLatest = true, "2001 + A % 24")))
    })

  /** Raster-only catalog for programmatic/zonal use (the API server
    * appends these datasets to its tabular catalog). */
  val catalog: Catalog = new Catalog(datasets)
}
