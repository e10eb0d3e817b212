package graft.catalog

import graft.etl.VersionCreation.{ChangeLog, CreationOptions}

/** The dataset → version → asset metadata model (SURVEY §1.1;
  * `app/models/orm/{datasets,versions,assets}.py`,
  * `app/models/enum/assets.py`). The catalog is the engine's routing
  * layer: the default asset of a version decides which query engine
  * serves it (`queries.py:487-503`), `is_latest` plus per-request
  * overrides resolve version references (`queries.py:790-813`).
  */
object AssetType {
  val DatabaseTable = "Database table"
  val GeoDatabaseTable = "Geo database table"
  val RasterTileSet = "Raster tile set"
  val ShapefileExport = "ESRI Shapefile"
  val GeopackageExport = "Geopackage"
  val NdjsonExport = "ndjson"
  val CsvExport = "csv"
  val TsvExport = "tsv"
  val Grid1x1 = "1x1 grid"
  val StaticVectorTileCache = "Static vector tile cache"
  val RasterTileCache = "Raster tile cache"
  val Cog = "COG"

  /** Default asset type from the version's source type
    * (`assets.py:36-52`). */
  def defaultFor(sourceType: String, hasGeometry: Boolean = false): String =
    sourceType match {
      case "table" => if (hasGeometry) GeoDatabaseTable else DatabaseTable
      case "vector" => GeoDatabaseTable
      case "raster" => RasterTileSet
      case t => throw new IllegalArgumentException(s"unknown source type '$t'")
    }
}

sealed trait QueryEngine
case object TableEngine extends QueryEngine
case object RasterEngine extends QueryEngine

/** One asset record: its files, build options and status, plus its
  * metadata document (`None` until created) and per-field metadata
  * overrides by field name (`assets/asset.py:356-520`). */
final case class Asset(
    assetId: String,
    assetType: String,
    assetUri: String,
    isDefault: Boolean,
    creationOptions: Map[String, String] = Map.empty,
    status: String = "saved",
    metadata: Option[Map[String, Any]] = None,
    fieldMetadata: Map[String, Map[String, Any]] = Map.empty)

/** One step of an asset's creation with its own change log
  * (`app/routes/tasks/task.py`). */
final case class Task(taskId: String, assetId: String, changeLog: Seq[ChangeLog])

/** One version record (`app/models/orm/versions.py`): its assets and
  * lifecycle — `status` (pending → saved/failed), the creation DAG's
  * `changeLog`, the `creationOptions` `/append` re-runs loads with
  * (`None` unless the server created it), the `metadata` document
  * (`None` until created) and its assets' `tasks`. A first creation is
  * a record before it serves: it has no default asset until it saves. */
final case class Version(
    dataset: String,
    version: String,
    isLatest: Boolean,
    isDownloadable: Boolean = true,
    sourceType: String = "table",
    assets: Seq[Asset] = Nil,
    status: String = "saved",
    changeLog: Seq[ChangeLog] = Nil,
    creationOptions: Option[CreationOptions] = None,
    metadata: Option[Map[String, String]] = None,
    tasks: Seq[Task] = Nil) {
  def defaultAsset: Option[Asset] = assets.find(_.isDefault)

  /** The engine that serves this version ([[Catalog.queryEngine]]). */
  def queryEngine: Either[String, QueryEngine] =
    defaultAsset.map(_.assetType) match {
      case Some(AssetType.DatabaseTable) | Some(AssetType.GeoDatabaseTable) =>
        Right(TableEngine)
      case Some(AssetType.RasterTileSet) => Right(RasterEngine)
      case _ => Left("This endpoint is not implemented for the given dataset")
    }

  /** This version with `ts` upserted by task id. */
  def withTasks(ts: Seq[Task]): Version =
    copy(tasks = tasks.filterNot(t => ts.exists(_.taskId == t.taskId)) ++ ts)
}

/** Dataset record: name + versions + the free-form metadata document
  * the reference keeps on `ORMDataset` (`app/models/orm/datasets.py` —
  * title, source, license, …; PATCH merges individual fields). */
final case class Dataset(name: String, versions: Seq[Version],
                         metadata: Map[String, String] = Map.empty)

/** An immutable snapshot of the whole model: every dataset, version and
  * asset record with its lifecycle state, metadata documents and tasks.
  * Writes return a new catalog; the API layer swaps its reference. A
  * version argument of every lookup and write may be the `latest`
  * alias, which names the dataset's latest version; writes act on that
  * concrete version. A patch keeps a record in its place. */
final class Catalog(val datasets: Seq[Dataset]) {

  private val byName: Map[String, Dataset] = datasets.map(d => d.name -> d).toMap

  private def withDatasetRecord(d: Dataset): Catalog =
    if (byName.contains(d.name))
      new Catalog(datasets.map(o => if (o.name == d.name) d else o))
    else new Catalog(datasets :+ d)

  /** A new catalog with `version` upserted into `dataset` (creating
    * the dataset record if needed); when the new version is latest,
    * previous versions lose the flag (`app/crud/versions.py` latest
    * handling). */
  def withVersion(dataset: String, version: Version): Catalog = {
    val d = byName.getOrElse(dataset, Dataset(dataset, Nil))
    withDatasetRecord(d.copy(versions =
      d.versions.filterNot(_.version == version.version) :+ version))
      .withVersionPatched(dataset, version.version, identity)
  }

  /** Upsert a bare dataset record (PUT /dataset/{d},
    * `dataset.py:84-116` — a dataset is "largely a metadata concept";
    * versions attach later). */
  def withDataset(name: String, metadata: Map[String, String]): Catalog =
    withDatasetRecord(Dataset(name, byName.get(name).map(_.versions).getOrElse(Nil), metadata))

  /** Merge metadata fields into a dataset record (PATCH semantics:
    * "individual fields of the metadata can be modified, without
    * affecting other existing fields", `dataset.py:125-148`). */
  def withDatasetMetadata(name: String, patch: Map[String, String]): Catalog =
    byName.get(name).fold(this)(d => withDatasetRecord(d.copy(metadata = d.metadata ++ patch)))

  /** Drop a dataset record entirely (DELETE /dataset/{d}; the caller
    * enforces the no-versions-left 409, `dataset.py:157-188`). */
  def withoutDataset(name: String): Catalog =
    new Catalog(datasets.filterNot(_.name == name))

  /** Drop one version with everything it holds: its assets, their
    * metadata and field overrides, and its tasks (DELETE
    * /dataset/{d}/{v}; the caller enforces the latest-tag conflict
    * rule, `versions.py:279-315`). */
  def withoutVersion(dataset: String, version: String): Catalog =
    record(dataset, version).fold(this) { v =>
      val d = byName(dataset)
      withDatasetRecord(d.copy(versions = d.versions.filterNot(_.version == v.version)))
    }

  /** Apply `f` to the asset `assetId` wherever it is (status
    * propagation, `app/routes/tasks/task.py:132-247`; metadata writes). */
  def withAssetPatched(assetId: String, f: Asset => Asset): Catalog =
    asset(assetId).fold(this) { case (v, _) =>
      withVersionPatched(v.dataset, v.version, x => x.copy(assets = x.assets.map(a =>
        if (a.assetId == assetId) f(a) else a)))
    }

  /** Drop one asset record with its metadata, field overrides and tasks
    * (DELETE /asset/{id}; the caller enforces the
    * cannot-delete-default-asset 409, `assets/asset.py:142-223`). */
  def withoutAsset(dataset: String, version: String, assetId: String): Catalog =
    withVersionPatched(dataset, version, v => v.copy(
      assets = v.assets.filterNot(_.assetId == assetId),
      tasks = v.tasks.filterNot(_.assetId == assetId)))

  /** Apply a partial update to one version (PATCH /dataset/{d}/{v},
    * `versions.py:154-199`, and every lifecycle write). When the
    * patched version is latest, sibling versions lose the flag (crud
    * latest handling). */
  def withVersionPatched(dataset: String, version: String,
                         f: Version => Version): Catalog =
    record(dataset, version).fold(this) { v =>
      val patched = f(v)
      val d = byName(dataset)
      withDatasetRecord(d.copy(versions = d.versions.map(o =>
        if (o.version == v.version) patched
        else if (patched.isLatest) o.copy(isLatest = false)
        else o)))
    }

  def dataset(name: String): Option[Dataset] = byName.get(name)

  /** The version record a path names, serving or not. */
  def record(dataset: String, version: String): Option[Version] =
    if (version == "latest") latest(dataset)
    else byName.get(dataset).flatMap(_.versions.find(_.version == version))

  /** The version a path names if it serves data. */
  def version(dataset: String, version: String): Option[Version] =
    record(dataset, version).filter(_.defaultAsset.isDefined)

  def latest(dataset: String): Option[Version] =
    byName.get(dataset).flatMap(_.versions.find(_.isLatest))

  /** Asset `id` with its version (asset-by-id routes search every
    * dataset and version, `assets/asset.py:82-305`). */
  def asset(id: String): Option[(Version, Asset)] =
    datasets.iterator.flatMap(_.versions).flatMap(v =>
      v.assets.collect { case a if a.assetId == id => (v, a) }).nextOption()

  /** Task `id` with the version that holds it. */
  def task(id: String): Option[(Version, Task)] =
    datasets.iterator.flatMap(_.versions).flatMap(v =>
      v.tasks.collect { case t if t.taskId == id => (v, t) }).nextOption()

  /** Query routing from the default asset type (`queries.py:487-503`):
    * database tables → the tabular engine, raster tile sets → the OTF
    * raster engine (which additionally requires a geometry); anything
    * else is not queryable. */
  def queryEngine(dataset: String, version: String): Either[String, QueryEngine] =
    this.version(dataset, version)
      .toRight(s"Dataset version $dataset.$version not found").flatMap(_.queryEngine)

  /** Names of datasets whose latest version serves the raster engine —
    * the dataset set `_get_data_environment` synthesizes layers for
    * (`queries.py:654-774` iterates raster tile set assets). */
  def rasterDatasets: Seq[String] =
    datasets.collect {
      case d if d.versions.exists(v => v.isLatest &&
        v.defaultAsset.exists(_.assetType == AssetType.RasterTileSet)) => d.name
    }

  /** Latest-unless-overridden resolution for a set of datasets
    * (`queries.py:790-813`): per dataset take the override version if
    * supplied, else the latest. */
  def resolveVersions(names: Seq[String],
                      overrides: Map[String, String]): Map[String, Option[Version]] =
    names.map { d =>
      d -> overrides.get(d).flatMap(v => version(d, v)).orElse(latest(d))
    }.toMap
}
