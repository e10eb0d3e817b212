package graft.catalog

import org.scalatest.funsuite.AnyFunSuite

class CatalogSpec extends AnyFunSuite {

  private def tableAsset(t: String) = Asset("a1", t, "s3://x", isDefault = true)

  private val cat = new Catalog(Seq(
    Dataset("trees", Seq(
      Version("trees", "v1", isLatest = false,
        assets = Seq(tableAsset(AssetType.DatabaseTable))),
      Version("trees", "v2", isLatest = true,
        assets = Seq(tableAsset(AssetType.DatabaseTable))))),
    Dataset("cover", Seq(
      Version("cover", "v2020", isLatest = true, sourceType = "raster",
        assets = Seq(tableAsset(AssetType.RasterTileSet))))),
    Dataset("tiles", Seq(
      Version("tiles", "v1", isLatest = true,
        assets = Seq(tableAsset(AssetType.StaticVectorTileCache)))))))

  test("default asset type routing from source type") {
    assert(AssetType.defaultFor("table") == AssetType.DatabaseTable)
    assert(AssetType.defaultFor("table", hasGeometry = true) == AssetType.GeoDatabaseTable)
    assert(AssetType.defaultFor("vector") == AssetType.GeoDatabaseTable)
    assert(AssetType.defaultFor("raster") == AssetType.RasterTileSet)
    intercept[IllegalArgumentException](AssetType.defaultFor("stream"))
  }

  test("latest resolution and 'latest' alias") {
    assert(cat.latest("trees").map(_.version).contains("v2"))
    assert(cat.version("trees", "latest").map(_.version).contains("v2"))
    assert(cat.version("trees", "v1").map(_.version).contains("v1"))
    assert(cat.version("nope", "latest").isEmpty)
  }

  test("query engine routing") {
    assert(cat.queryEngine("trees", "v2") == Right(TableEngine))
    assert(cat.queryEngine("cover", "v2020") == Right(RasterEngine))
    assert(cat.queryEngine("tiles", "v1").isLeft) // tile cache: not queryable
    assert(cat.queryEngine("trees", "v9").isLeft)
  }

  test("latest-unless-overridden version resolution") {
    val r = cat.resolveVersions(Seq("trees", "cover"), Map("trees" -> "v1"))
    assert(r("trees").map(_.version).contains("v1"))
    assert(r("cover").map(_.version).contains("v2020"))
  }

  test("every write given `latest` acts on the concrete latest version") {
    val log = Seq(graft.etl.VersionCreation.ChangeLog("load_data", "success", "ok"))
    val task = Task("t1", "a1", log)
    def trees(c: Catalog, v: String) = c.record("trees", v).get
    val patched = cat.withVersionPatched("trees", "latest",
      _.copy(metadata = Some(Map("title" -> "Trees")), tasks = Seq(task)))
    assert(trees(patched, "v2").metadata.contains(Map("title" -> "Trees")))
    assert(trees(patched, "v2").tasks == Seq(task))
    assert(trees(patched, "v1").metadata.isEmpty)
    // clearing the tag on `latest` clears it on v2 and leaves v1 alone
    val untagged = cat.withVersionPatched("trees", "latest", _.copy(isLatest = false))
    assert(!trees(untagged, "v2").isLatest && !trees(untagged, "v1").isLatest)
    assert(untagged.latest("trees").isEmpty)
    assert(cat.withoutVersion("trees", "latest").record("trees", "v2").isEmpty)
    assert(cat.withoutVersion("trees", "latest").record("trees", "v1").isDefined)
    val noAsset = cat.withoutAsset("trees", "latest", "a1")
    assert(trees(noAsset, "v2").assets.isEmpty && trees(noAsset, "v1").assets.nonEmpty)
    // the order of records survives a patch
    assert(patched.dataset("trees").get.versions.map(_.version) == Seq("v1", "v2"))
    assert(patched.datasets.map(_.name) == cat.datasets.map(_.name))
  }

  test("withoutVersion drops the version's asset metadata, field overrides and tasks") {
    val annotated = cat
      .withAssetPatched("a1", _.copy(metadata = Some(Map("resolution" -> "10m")),
        fieldMetadata = Map("id" -> Map("alias" -> "Id"))))
    val (v, a) = annotated.asset("a1").get
    assert(a.metadata.isDefined && a.fieldMetadata.nonEmpty)
    val withTask = annotated.withVersionPatched(v.dataset, v.version,
      _.withTasks(Seq(Task("t1", "a1", Nil))))
    assert(withTask.task("t1").isDefined)
    val dropped = withTask.withoutVersion(v.dataset, v.version)
    assert(dropped.task("t1").isEmpty)
    assert(dropped.record(v.dataset, v.version).isEmpty)
    // a re-created version starts from fresh asset records
    val recreated = dropped.withVersion(v.dataset,
      Version(v.dataset, v.version, isLatest = false, assets = Seq(tableAsset(AssetType.DatabaseTable))))
    val fresh = recreated.record(v.dataset, v.version).get
    assert(fresh.assets.forall(x => x.metadata.isEmpty && x.fieldMetadata.isEmpty))
    assert(fresh.tasks.isEmpty)
  }

  test("a first creation is a record before it serves") {
    val pending = cat.withVersion("fresh",
      Version("fresh", "v1", isLatest = false, status = "pending"))
    assert(pending.record("fresh", "v1").map(_.status).contains("pending"))
    assert(pending.version("fresh", "v1").isEmpty)
    assert(pending.queryEngine("fresh", "v1").isLeft)
    assert(pending.dataset("fresh").exists(_.versions.nonEmpty))
  }
}
