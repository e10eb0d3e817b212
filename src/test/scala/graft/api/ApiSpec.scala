package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  private var server: ApiServer = _
  private var port: Int = _
  private val client = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NEVER).build()

  override def beforeAll(): Unit = {
    server = new ApiServer(spark, "/root/testdata/sf0.001",
      nonDownloadable = Set("embeddings"),
      adminTokens = Set("test-admin"))
    port = server.start()
  }
  override def afterAll(): Unit = { server.stop(); spark.stop() }

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("count query returns JSEND data (reference test_query.py:65-75 shape)") {
    val r = get("/dataset/nation/v1/query/json?sql=SELECT%20count(*)%20AS%20cnt%20FROM%20data")
    assert(r.statusCode() == 200)
    assert(r.body() == """{"data":[{"cnt":25}],"status":"success"}""")
    assert(r.headers().firstValue("Cache-Control").get == "max-age=7200")
  }

  test("deprecated /query path 308-redirects preserving the query string") {
    val r = get("/dataset/nation/v1/query?sql=SELECT%201%20FROM%20data")
    assert(r.statusCode() == 308)
    assert(r.headers().firstValue("Location").get ==
      "/dataset/nation/v1/query/json?sql=SELECT%201%20FROM%20data")
  }

  test("csv endpoint applies QUOTE_NONNUMERIC") {
    val r = get("/dataset/region/v1/query/csv?sql=" +
      java.net.URLEncoder.encode(
        "SELECT r_regionkey, r_name FROM data ORDER BY r_regionkey LIMIT 2", "UTF-8"))
    assert(r.statusCode() == 200)
    val lines = r.body().split("\r\n")
    assert(lines(0) == "\"r_regionkey\",\"r_name\"")
    assert(lines(1).matches("0,\".+\""))
  }

  test("unknown function fails with PG's error text (test_query.py:305-321)") {
    val r = get("/dataset/nation/v1/query/json?sql=" +
      java.net.URLEncoder.encode("select doesnotexist() from mytable;", "UTF-8"))
    assert(r.statusCode() == 400)
    assert(r.body().contains("Bad request. function doesnotexist() does not exist"))
    assert(r.body().contains("HINT:  No function matches the given name and argument types."))
  }

  test("forbidden function rejected with the reference's message") {
    val r = get("/dataset/nation/v1/query/json?sql=" +
      java.net.URLEncoder.encode("SELECT pg_ls_dir('/') FROM data", "UTF-8"))
    assert(r.statusCode() == 400)
    assert(r.body().contains("Use of admin, system or private functions is not allowed."))
  }

  test("unknown dataset → 404; 'latest' version alias resolves") {
    assert(get("/dataset/nope/v1/query/json?sql=SELECT%201%20FROM%20data").statusCode() == 404)
    assert(get("/dataset/nation/latest/query/json?sql=SELECT%20count(*)%20AS%20c%20FROM%20data")
      .statusCode() == 200)
  }

  test("POST query with JSON body") {
    val r = post("/dataset/nation/v1/query/json",
      """{"sql": "SELECT count(*) AS cnt FROM data"}""")
    assert(r.statusCode() == 200)
    assert(r.body() == """{"data":[{"cnt":25}],"status":"success"}""")
    assert(post("/dataset/nation/v1/query/json", """{"nope": 1}""").statusCode() == 422)
  }

  test("download endpoint: attachment header + downloadability gate") {
    val ok = get("/dataset/region/v1/download/csv?sql=" +
      java.net.URLEncoder.encode("SELECT r_regionkey FROM data LIMIT 1", "UTF-8"))
    assert(ok.statusCode() == 200)
    assert(ok.headers().firstValue("Content-Disposition").get
      .startsWith("attachment"))
    val blocked = get("/dataset/embeddings/v1/download/csv?sql=" +
      java.net.URLEncoder.encode("SELECT vec_id FROM data LIMIT 1", "UTF-8"))
    assert(blocked.statusCode() == 403)
    assert(blocked.body().contains("This dataset is not available for download"))
  }

  test("raster dataset: geostore-mandatory 422, zonal results, reserved fields") {
    // no geostore → 422
    val bare = get("/dataset/landcover_raster/v1/query/json?sql=" +
      java.net.URLEncoder.encode("SELECT sum(area__ha) FROM data", "UTF-8"))
    assert(bare.statusCode() == 422)
    assert(bare.body().contains("require a geostore"))
    // with geostore → zonal rows
    val gj = """{"type":"Polygon","coordinates":[[[0.3513,40.6821],[3.1242,40.9753],[3.7081,43.2517],[0.8472,42.8391],[0.3513,40.6821]]]}"""
    val id = "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(post("/geostore", gj).body()).get.group(1)
    val r = get("/dataset/landcover_raster/v1/query/json?geostore_id=" + id + "&sql=" +
      java.net.URLEncoder.encode("SELECT sum(area__ha) AS area__ha FROM data", "UTF-8"))
    assert(r.statusCode() == 200, r.body().take(300))
    assert(r.body().contains("\"area__ha\":"))
    // the SQL actually runs: grouped query over layer pseudo-columns
    // (otf_payload.py:44 shape) returns per-class rows
    val grouped = get("/dataset/landcover_raster/v1/query/json?geostore_id=" + id +
      "&sql=" + java.net.URLEncoder.encode(
        "SELECT landcover_raster__class AS cls, sum(area__ha) AS area__ha FROM data " +
          "WHERE umd_tree_cover_density_2000__threshold >= 30 GROUP BY " +
          "landcover_raster__class ORDER BY cls", "UTF-8"))
    assert(grouped.statusCode() == 200, grouped.body().take(300))
    assert(grouped.body().contains("\"cls\":0") && grouped.body().contains("\"cls\":6"))
    // unknown layer → 422 with the layer name
    val bad = get("/dataset/landcover_raster/v1/query/json?geostore_id=" + id +
      "&sql=" + java.net.URLEncoder.encode(
        "SELECT sum(nope__layer) FROM data", "UTF-8"))
    assert(bad.statusCode() == 422, bad.body().take(300))
    assert(bad.body().contains("Layer 'nope__layer' is invalid"))
    // pixel LISTING through the served path (alerts-download shape)
    val listing = get("/dataset/umd_glad_landsat_alerts/v1/query/json?geostore_id=" +
      id + "&sql=" + java.net.URLEncoder.encode(
        "SELECT latitude, longitude, umd_glad_landsat_alerts__date AS d " +
          "FROM data WHERE umd_glad_landsat_alerts__date >= '2021-01-01' " +
          "ORDER BY latitude, longitude LIMIT 5", "UTF-8"))
    assert(listing.statusCode() == 200, listing.body().take(300))
    assert(listing.body().contains("\"latitude\":") &&
      listing.body().contains("\"d\":\"202"))
    // isoweek group key through the served path
    val byWeek = get("/dataset/umd_glad_landsat_alerts/v1/query/json?geostore_id=" +
      id + "&sql=" + java.net.URLEncoder.encode(
        "SELECT isoweek(umd_glad_landsat_alerts__date) AS w, count(*) AS n " +
          "FROM data GROUP BY isoweek(umd_glad_landsat_alerts__date) " +
          "ORDER BY w LIMIT 3", "UTF-8"))
    assert(byWeek.statusCode() == 200, byWeek.body().take(300))
    assert(byWeek.body().contains("\"w\":1"))
    // raster fields expose reserved pseudo-columns (versions.py:516-522)
    val f = get("/dataset/landcover_raster/v1/fields")
    assert(f.statusCode() == 200)
    assert(f.body().contains(""""name":"area__ha","data_type":"number","is_reserved":true"""))
    assert(f.body().contains(""""name":"latitude""""))
  }

  test("fields endpoint returns schema metadata") {
    val r = get("/dataset/region/v1/fields")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""name":"r_name","data_type":"string""""))
  }

  test("zonal analysis over a stored geostore AOI") {
    // AOI inside the synthetic grid (lon [0,4), lat [40,44))
    val gj = """{"type":"Polygon","coordinates":[[[0.3513,40.6821],[3.1242,40.9753],[3.7081,43.2517],[0.8472,42.8391],[0.3513,40.6821]]]}"""
    val created = post("/geostore", gj)
    val id = "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(created.body()).get.group(1)
    val r = get(s"/analysis/zonal?geostore_id=$id&group_by=landcover&tcd_threshold=30")
    assert(r.statusCode() == 200, r.body().take(300))
    assert(r.body().contains("\"landcover_name\":\"forest\""))
    assert(r.body().contains("\"area_ha\":"))
    // missing geostore → 422 / unknown id → 404 / non-polygon → 400
    assert(get("/analysis/zonal").statusCode() == 422)
    assert(get("/analysis/zonal?geostore_id=00000000-0000-0000-0000-000000000000")
      .statusCode() == 404)
    val pt = post("/geostore", """{"type":"Point","coordinates":[1.5,41.5]}""")
    val pid = "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(pt.body()).get.group(1)
    val bad = get(s"/analysis/zonal?geostore_id=$pid")
    assert(bad.statusCode() == 400)
    assert(bad.body().contains("Geometry must be a Polygon or MultiPolygon"))
  }

  test("batch zonal analysis: 202 + pollable job with per-feature results") {
    val body =
      """{"feature_collection": {"type": "FeatureCollection", "features": [
        |  {"type": "Feature", "geometry": {"type":"Polygon","coordinates":[[[0.3513,40.6821],[3.1242,40.9753],[3.7081,43.2517],[0.8472,42.8391],[0.3513,40.6821]]]}},
        |  {"type": "Feature", "geometry": {"type":"Polygon","coordinates":[[[1.1513,41.2821],[2.9242,41.3753],[2.8081,42.9517],[1.2472,42.7391],[1.1513,41.2821]]]}}
        |]}, "tcd_threshold": 30}""".stripMargin
    val submitted = post("/analysis/zonal/batch", body)
    assert(submitted.statusCode() == 202, submitted.body().take(300))
    val jobId = "\"job_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(submitted.body()).get.group(1)
    // poll until terminal (bounded)
    var status = "pending"
    var bodyTxt = ""
    var tries = 0
    while (status == "pending" && tries < 120) {
      Thread.sleep(500)
      val r = get(s"/job/$jobId")
      bodyTxt = r.body()
      status = "\"status\":\"(\\w+)\"".r.findFirstMatchIn(bodyTxt).get.group(1)
      tries += 1
    }
    assert(status == "success", bodyTxt.take(500))
    assert(bodyTxt.contains("\"fid\":0") && bodyTxt.contains("\"fid\":1"))
    assert(bodyTxt.contains("\"landcover_name\":\"forest\""))
    // durable result link: the payload re-reads from disk
    assert(bodyTxt.contains(s""""download_link":"/job/$jobId/download""""))
    val dl = get(s"/job/$jobId/download")
    assert(dl.statusCode() == 200 && dl.body().contains("\"fid\":0"))
    // unknown job → 404; empty feature list → 400
    assert(get("/job/00000000-0000-0000-0000-000000000000").statusCode() == 404)
    assert(post("/analysis/zonal/batch",
      """{"feature_collection": {"type": "FeatureCollection", "features": []}}""")
      .statusCode() == 400)
  }

  test("auth: API keys and protected datasets gate query routes") {
    val keys = new ApiKeys
    val secured = new ApiServer(spark, "/root/testdata/sf0.001",
      apiKeys = Some(keys), protectedDatasets = Set("lineitem"),
      adminTokens = Set("admintok"))
    val sp = secured.start()
    def sget(path: String, hdrs: (String, String)*): HttpResponse[String] = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$sp$path")).GET()
      hdrs.foreach { case (k, v) => b.header(k, v) }
      client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    }
    try {
      val q = "/dataset/nation/v1/query/json?sql=SELECT%20count(*)%20AS%20c%20FROM%20data"
      // no key → 403 with the reference's message
      val noKey = sget(q)
      assert(noKey.statusCode() == 403)
      assert(noKey.body().contains("No valid API Key found."))
      // invalid key → 403; valid key header → 200
      assert(sget(q, "x-api-key" -> "not-a-key").statusCode() == 403)
      val key = keys.create()
      assert(sget(q, "x-api-key" -> key).statusCode() == 200)
      // key as query param also accepted
      assert(sget(q + s"&x-api-key=$key").statusCode() == 200)
      // domain-restricted key: wrong/missing origin → 403, match → 200
      val dkey = keys.create(Seq("*.example.com"))
      assert(sget(q, "x-api-key" -> dkey).statusCode() == 403)
      assert(sget(q, "x-api-key" -> dkey,
        "Origin" -> "https://evil.org").statusCode() == 403)
      assert(sget(q, "x-api-key" -> dkey,
        "Origin" -> "https://maps.example.com/page").statusCode() == 200)
      // protected dataset: valid key but no admin token → 401
      val pq = "/dataset/lineitem/v1/query/json?sql=SELECT%20count(*)%20AS%20c%20FROM%20data"
      val noTok = sget(pq, "x-api-key" -> key)
      assert(noTok.statusCode() == 401)
      assert(noTok.body().contains("Unauthorized query on a restricted dataset"))
      assert(sget(pq, "x-api-key" -> key,
        "Authorization" -> "Bearer admintok").statusCode() == 200)
      // POST /auth/apikey requires an authenticated caller (reference
      // create_api_key → get_user): anonymous minting is refused
      assert(client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$sp/auth/apikey"))
          .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 401)
      val created = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$sp/auth/apikey"))
          .header("Authorization", "Bearer admintok")
          .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(created.statusCode() == 201)
      val minted = "\"api_key\":\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(created.body()).get.group(1)
      assert(sget(q, "x-api-key" -> minted).statusCode() == 200)
      // reference elif-chain: a NON-matching Origin falls through to
      // the Referer check — either header matching validates
      assert(sget(q, "x-api-key" -> dkey,
        "Origin" -> "https://evil.org",
        "Referer" -> "https://maps.example.com/page").statusCode() == 200)
      // file downloads are gated like csv/json downloads: a 307 to
      // the asset is still a download of protected data
      assert(sget("/dataset/nation/v1/download/shp").statusCode() == 403)
      assert(sget("/dataset/nation/v1/download/geotiff?tile_id=x&pixel_meaning=v")
        .statusCode() == 403)
    } finally secured.stop()
  }

  test("client errors are 4xx: bad numerics, bad bodies, unknown geostore") {
    // non-numeric query param → 422, not a NumberFormatException 500
    assert(get("/datasets?page[size]=abc").statusCode() == 422)
    // malformed JSON body → 422 on body-taking routes
    assert(post("/dataset/nation/v1/query/json", "{bad json").statusCode() == 422)
    // an UNRESOLVABLE geostore on the tabular query path is 404 — the
    // AOI must never be silently dropped (full-table leak)
    val r = get("/dataset/nation/v1/query/json?sql=SELECT%20count(*)%20AS%20c%20FROM%20data" +
      "&geostore_id=00000000-dead-beef-0000-000000000000")
    assert(r.statusCode() == 404, s"${r.statusCode()} ${r.body().take(120)}")
    assert(r.body().contains("does not exist"))
  }

  test("streaming download matches the collect encoding") {
    val streamed = get("/dataset/region/v1/download/csv?sql=" +
      java.net.URLEncoder.encode(
        "SELECT r_regionkey, r_name FROM data ORDER BY r_regionkey", "UTF-8"))
    assert(streamed.statusCode() == 200)
    val collected = get("/dataset/region/v1/query/csv?sql=" +
      java.net.URLEncoder.encode(
        "SELECT r_regionkey, r_name FROM data ORDER BY r_regionkey", "UTF-8"))
    assert(streamed.body() == collected.body())
  }

  test("POST /query/csv returns CSV") {
    val r = post("/dataset/nation/v1/query/csv",
      """{"sql": "SELECT count(*) AS cnt FROM data"}""")
    assert(r.statusCode() == 200)
    assert(r.body().startsWith("\"cnt\"\r\n25"))
  }

  test("features over a created vector version (PUT source_type=vector)") {
    val src = java.nio.file.Files.createTempDirectory("vecsrc")
    java.nio.file.Files.writeString(src.resolve("f.ndjson"),
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[10.001,45.0]},"properties":{"pid":1}}
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[-100.0,-40.0]},"properties":{"pid":2}}
        |""".stripMargin)
    val body =
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("f.ndjson")}"],
         |  "source_type": "vector"}}""".stripMargin
    val put = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataset/vecds/v1"))
        .header("Authorization", "Bearer test-admin")
        .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(put.statusCode() == 202, put.body().take(300))
    var status = "pending"
    var vbody = ""
    var tries = 0
    while (status == "pending" && tries < 120) {
      Thread.sleep(250)
      vbody = get("/dataset/vecds/v1").body()
      status = "\"status\":\"(\\w+)\"".r.findFirstMatchIn(vbody).get.group(1)
      tries += 1
    }
    assert(status == "saved", vbody.take(500))
    // zoom 10 → 500 m radius: only the nearby point matches, with its
    // property column and the derived GFW fields served back
    val hit = get("/dataset/vecds/v1/features?lat=45.0&lng=10.0&z=10")
    assert(hit.statusCode() == 200, hit.body().take(300))
    assert(hit.body().contains("\"pid\":1") && !hit.body().contains("\"pid\":2"))
    assert(hit.body().contains("\"gfw_geostore_id\""))
    assert(hit.body().contains("\"dist_m\""))
    // the created version is also queryable through the tabular surface
    val q = get("/dataset/vecds/v1/query/json?sql=" +
      java.net.URLEncoder.encode("SELECT count(*) AS cnt FROM data", "UTF-8"))
    assert(q.statusCode() == 200 && q.body().contains("\"cnt\":2"), q.body().take(300))
    // the creation DAG built a real shapefile export; /download/shp
    // 307-redirects to it and the artifact parses back losslessly
    assert(vbody.contains("\"task\":\"export_shp\",\"status\":\"success\""), vbody.take(800))
    val dl = get("/dataset/vecds/v1/download/shp")
    assert(dl.statusCode() == 307, dl.body().take(200))
    val loc = dl.headers().firstValue("Location").get
    assert(loc.endsWith("export.shp"), loc)
    assert(new java.io.File(loc).exists(), loc)
    val parsed = graft.etl.Shapefile
      .read(spark, new java.io.File(loc).getParent).collect()
    assert(parsed.length == 2)
    assert(parsed.map(_.getAs[Long]("pid")).sorted.toSeq == Seq(1L, 2L))
    // creation options round-trip (versions.py:333-347)
    val co = get("/dataset/vecds/v1/creation_options")
    assert(co.statusCode() == 200 && co.body().contains("\"source_type\":\"vector\""),
      co.body().take(300))
    // vector append: one replayed feature (same geometry → same
    // gfw_geostore_id, dropped) + one genuinely new feature
    java.nio.file.Files.writeString(src.resolve("g.ndjson"),
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[10.001,45.0]},"properties":{"pid":1}}
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[55.5,-20.25]},"properties":{"pid":3}}
        |""".stripMargin)
    val app = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataset/vecds/v1/append"))
        .header("Authorization", "Bearer test-admin")
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"creation_options": {"source_uri": ["file://${src.resolve("g.ndjson")}"]}}"""))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(app.statusCode() == 202, app.body().take(300))
    var abody = ""
    var atries = 0
    while (atries < 120 && { abody = get("/dataset/vecds/v1").body()
      abody.contains("\"status\":\"pending\"") }) { Thread.sleep(250); atries += 1 }
    assert(abody.contains("appended 1 new feature(s)"), abody.take(900))
    val q2 = get("/dataset/vecds/v1/query/json?sql=" +
      java.net.URLEncoder.encode("SELECT count(*) AS cnt, sum(pid) AS s FROM data", "UTF-8"))
    assert(q2.body().contains("\"cnt\":3") && q2.body().contains("\"s\":6"),
      q2.body().take(300))
  }

  test("polygon vector version builds a type-5 shapefile export") {
    val src = java.nio.file.Files.createTempDirectory("polysrc")
    java.nio.file.Files.writeString(src.resolve("p.ndjson"),
      """{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0,0],[3,0],[3,3],[0,3],[0,0]],[[1,1],[1,2],[2,2],[2,1],[1,1]]]},"properties":{"zone":10}}
        |{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[10,10],[12,10],[11,12],[10,10]]]},"properties":{"zone":20}}
        |""".stripMargin)
    val body =
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("p.ndjson")}"],
         |  "source_type": "vector"}}""".stripMargin
    val put = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataset/polyds/v1"))
        .header("Authorization", "Bearer test-admin")
        .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(put.statusCode() == 202, put.body().take(300))
    var vbody = ""
    var tries = 0
    while (tries < 120 && { vbody = get("/dataset/polyds/v1").body()
      vbody.contains("\"status\":\"pending\"") }) { Thread.sleep(250); tries += 1 }
    assert(vbody.contains("\"status\":\"saved\""), vbody.take(500))
    assert(vbody.contains("\"task\":\"export_shp\",\"status\":\"success\""), vbody.take(800))
    val dl = get("/dataset/polyds/v1/download/shp")
    assert(dl.statusCode() == 307, dl.body().take(200))
    val loc = dl.headers().firstValue("Location").get
    val parsed = graft.etl.Shapefile
      .read(spark, new java.io.File(loc).getParent).collect()
      .sortBy(_.getAs[Long]("zone"))
    assert(parsed.length == 2)
    val donut = graft.geo.Geom.fromWkb(parsed(0).getAs[Array[Byte]]("geom"))
      .asInstanceOf[graft.geo.Polygon]
    assert(donut.rings.length == 2 && donut.rings(0).length == 5)
    val tri = graft.geo.Geom.fromWkb(parsed(1).getAs[Array[Byte]]("geom"))
      .asInstanceOf[graft.geo.Polygon]
    assert(tri.rings.length == 1 && tri.rings(0).length == 4)
    // /features over the POLYGON version (features.py serves any geo
    // table): a point inside the donut's solid part matches at dist 0;
    // a point inside its HOLE is outside the polygon and the hole edge
    // is far beyond the z=10 radius; a far point matches nothing
    val in = get("/dataset/polyds/v1/features?lat=0.5&lng=0.5&z=10")
    assert(in.statusCode() == 200, in.body().take(300))
    assert(in.body().contains("\"zone\":10") && in.body().contains("\"dist_m\":0"),
      in.body().take(300))
    assert(!in.body().contains("\"zone\":20"))
    val inHole = get("/dataset/polyds/v1/features?lat=1.5&lng=1.5&z=10")
    assert(inHole.body() == """{"data":[],"status":"success"}""", inHole.body().take(200))
    val far = get("/dataset/polyds/v1/features?lat=-40.0&lng=-90.0&z=10")
    assert(far.body() == """{"data":[],"status":"success"}""")
    // the GeoPackage twin of the export: 307 + full geometry round-trip
    assert(vbody.contains("\"task\":\"export_gpkg\",\"status\":\"success\""), vbody.take(900))
    val dlg = get("/dataset/polyds/v1/download/gpkg")
    assert(dlg.statusCode() == 307, dlg.body().take(200))
    val gloc = dlg.headers().firstValue("Location").get
    assert(gloc.endsWith("export.gpkg"), gloc)
    val gback = graft.etl.Geopackage
      .readFiles(spark, Seq(gloc)).collect().sortBy(_.getAs[Long]("zone"))
    assert(gback.length == 2)
    val gdonut = graft.geo.Geom.fromWkb(gback(0).getAs[Array[Byte]]("geom"))
      .asInstanceOf[graft.geo.Polygon]
    assert(gdonut.rings.length == 2 && gdonut.rings(0).length == 5)
  }

  test("vector version creation from a GeoPackage source") {
    val src = java.nio.file.Files.createTempDirectory("gpkgsrc")
    val rows = (1 to 20).map { i =>
      (graft.geo.Geom.toWkb(graft.geo.Point(10.0 + i * 0.001, 45.0)),
        Seq[Any](i.toLong))
    }
    graft.etl.Geopackage.write(src.resolve("pts.gpkg"), "pts", "POINT", rows,
      Seq("pid" -> org.apache.spark.sql.types.LongType))
    val body =
      s"""{"creation_options": {"source_uri": ["${src.resolve("pts.gpkg")}"],
         |  "source_type": "vector"}}""".stripMargin
    val put = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataset/gpkgds/v1"))
        .header("Authorization", "Bearer test-admin")
        .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(put.statusCode() == 202, put.body().take(300))
    var vbody = ""
    var tries = 0
    while (tries < 120 && { vbody = get("/dataset/gpkgds/v1").body()
      vbody.contains("\"status\":\"pending\"") }) { Thread.sleep(250); tries += 1 }
    assert(vbody.contains("\"status\":\"saved\""), vbody.take(600))
    assert(vbody.contains("GPKG source uri"), vbody.take(600))
    val q = get("/dataset/gpkgds/v1/query/json?sql=" +
      java.net.URLEncoder.encode(
        "SELECT count(*) AS cnt, sum(pid) AS s FROM data", "UTF-8"))
    assert(q.statusCode() == 200 && q.body().contains("\"cnt\":20") &&
      q.body().contains("\"s\":210"), q.body().take(300))
  }

  test("raster version from GeoTIFF sources: ingest, query, download") {
    // 2×2 tiles of 10×10 px, 0.1°/px, origin (20°E, 10°N): the pixETL
    // path — sources land on a NEW grid with its own tile lake
    val src = java.nio.file.Files.createTempDirectory("tifsrc")
    val px = 10
    val deg = 0.1
    def value(gx: Int, gy: Int): Int = (gx * 3 + gy * 5) % 4
    for (tx <- 0 to 1; ty <- 0 to 1) {
      val pixels = Array.tabulate(px * px) { i =>
        value(tx * px + i % px, ty * px + i / px)
      }
      graft.raster.GeoTiff.write(src.resolve(s"t${tx}_$ty.tif"),
        graft.raster.GeoTiff.Tile(px, px,
          20.0 + tx * px * deg, 10.0 - ty * px * deg, deg, pixels))
    }
    val body =
      s"""{"creation_options": {
         |  "source_uri": ["${src.resolve("t0_0.tif")}", "${src.resolve("t0_1.tif")}",
         |                 "${src.resolve("t1_0.tif")}", "${src.resolve("t1_1.tif")}"],
         |  "source_type": "raster", "pixel_meaning": "class"}}""".stripMargin
    val put = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataset/rastds/v1"))
        .header("Authorization", "Bearer test-admin")
        .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(put.statusCode() == 202, put.body().take(300))
    var vbody = ""
    var tries = 0
    while (tries < 120 && { vbody = get("/dataset/rastds/v1").body()
      vbody.contains("\"status\":\"pending\"") }) { Thread.sleep(250); tries += 1 }
    assert(vbody.contains("\"status\":\"saved\""), vbody.take(600))
    assert(vbody.contains("derived grid 2×2 tiles of 10 px"), vbody.take(600))
    // the ingested tile set serves user raster SQL through the same
    // fused zonal engine — AOI covers the whole 2°×2° extent, so every
    // pixel center is inside and counts follow the value formula
    val aoi = """{"type":"Polygon","coordinates":[[[19.9,7.9],[22.1,7.9],[22.1,10.1],[19.9,10.1],[19.9,7.9]]]}"""
    val q = post("/dataset/rastds/v1/query/json",
      s"""{"sql": "SELECT rastds__class AS cls, count(*) AS n FROM data GROUP BY rastds__class ORDER BY cls", "geometry": $aoi}""")
    assert(q.statusCode() == 200, q.body().take(400))
    val expected = (0 until 20).flatMap(gx => (0 until 20).map(gy =>
      value(gx, gy))).groupBy(identity).view.mapValues(_.size).toMap
    for ((cls, n) <- expected)
      assert(q.body().contains(s"""{"cls":$cls,"n":$n}"""),
        s"class $cls=$n missing in ${q.body().take(400)}")
    // /download/geotiff materializes the tile back from the lake
    val grid = graft.raster.Grid(20.0, 10.0, 2, 2, 1.0, 10)
    val tid = grid.tileId(1, 0)
    val dl = get(s"/dataset/rastds/v1/download/geotiff?tile_id=$tid&pixel_meaning=class")
    assert(dl.statusCode() == 307, dl.body().take(300))
    val tif = graft.raster.GeoTiff.read(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dl.headers().firstValue("Location").get)))
    assert(tif.width == 10 && tif.originLon == 21.0 && tif.originLat == 10.0)
    assert(tif.pixels.toSeq == (0 until px * px)
      .map(i => value(px + i % px, i / px)))
    // wrong pixel_meaning → 404
    assert(get(s"/dataset/rastds/v1/download/geotiff?tile_id=$tid&pixel_meaning=bogus")
      .statusCode() == 404)
    // LZW-compressed variant round-trips to the same pixels
    val dlLzw = get(s"/dataset/rastds/v1/download/geotiff?tile_id=$tid&pixel_meaning=class&compression=lzw")
    assert(dlLzw.statusCode() == 307, dlLzw.body().take(300))
    val lzwPath = dlLzw.headers().firstValue("Location").get
    assert(lzwPath.endsWith("_lzw.tif"), lzwPath)
    val tifLzw = graft.raster.GeoTiff.read(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(lzwPath)))
    assert(tifLzw.pixels.toSeq == tif.pixels.toSeq)
    assert(get(s"/dataset/rastds/v1/download/geotiff?tile_id=$tid&pixel_meaning=class&compression=zip")
      .statusCode() == 422)
    // srid=3857 serves the tile warped to web mercator (the tile-cache
    // CRS): projected geokeys, x linear in lon, columns untouched
    val dlWm = get(s"/dataset/rastds/v1/download/geotiff?tile_id=$tid&pixel_meaning=class&srid=3857")
    assert(dlWm.statusCode() == 307, dlWm.body().take(300))
    val wm = graft.raster.GeoTiff.readRaster(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dlWm.headers().firstValue("Location").get)))
    assert(wm.epsg == 3857 && wm.width == 10 && wm.height == 10)
    assert(wm.originX == graft.geo.Geom.toWebMercatorX(21.0))
    assert(wm.originY == graft.geo.Geom.toWebMercatorY(10.0))
    // near the equator the warp moves no rows at 10 px: pixel values
    // match the 4326 tile exactly
    assert(wm.bands.head.map(_.toInt).toSeq == tif.pixels.toSeq)
    assert(get(s"/dataset/rastds/v1/download/geotiff?tile_id=$tid&pixel_meaning=class&srid=9999")
      .statusCode() == 422)
    // POST /assets builds a COG follow-up asset from the tile set
    // (add_new_asset + cog_assets.py)
    def req(method: String, path: String, body: String,
            hdrs: (String, String)*): HttpResponse[String] = {
      val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      hdrs.foreach { case (k, v) => rb.header(k, v) }
      client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
    }
    val admin = "Authorization" -> "Bearer test-admin"
    val cogBody = """{"asset_type": "COG", "creation_options": {
      "source_asset_id": "rastds-v1-default", "block_size": 16}}"""
    assert(req("POST", "/dataset/rastds/v1/assets", cogBody).statusCode() == 401)
    // bad source / resampling / block size are rejected up front
    assert(req("POST", "/dataset/rastds/v1/assets",
      """{"asset_type": "COG", "creation_options": {"source_asset_id": "nope"}}""",
      admin).statusCode() == 400)
    assert(req("POST", "/dataset/rastds/v1/assets",
      """{"asset_type": "COG", "creation_options": {"source_asset_id": "rastds-v1-default", "resampling": "cubic"}}""",
      admin).statusCode() == 501)
    assert(req("POST", "/dataset/rastds/v1/assets",
      """{"asset_type": "Dynamic vector tile cache"}""", admin).statusCode() == 501)
    val accepted = req("POST", "/dataset/rastds/v1/assets", cogBody, admin)
    assert(accepted.statusCode() == 202, accepted.body().take(300))
    val jobId = "\"job_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(accepted.body()).get.group(1)
    var jb = ""
    var jtries = 0
    while (jtries < 120 && { jb = get(s"/job/$jobId").body()
      jb.contains("\"status\":\"pending\"") }) { Thread.sleep(250); jtries += 1 }
    assert(jb.contains("\"status\":\"success\""), jb.take(400))
    // the asset registered and the artifact is a real COG: base 20×20
    // exact vs the tile-lake values, one 10×10 average overview
    val cog = get("/asset/rastds-v1-cog-default")
    assert(cog.statusCode() == 200 && cog.body().contains("\"asset_type\":\"COG\""),
      cog.body().take(300))
    val cogPath = "\"asset_uri\":\"([^\"]+)\"".r
      .findFirstMatchIn(cog.body()).get.group(1)
    val cogLevels = graft.raster.GeoTiff.readLevels(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cogPath)))
    assert(cogLevels.map(l => (l.width, l.height)) == Seq((20, 20), (10, 10)))
    assert(cogLevels.head.pixels.toSeq ==
      (0 until 20 * 20).map(i => value(i % 20, i / 20)))
    assert(cogLevels.head.originLon == 20.0 && cogLevels.head.originLat == 10.0)
    // its task record is pollable; duplicate implementation → 409
    val cogTasks = get("/asset/rastds-v1-cog-default/tasks")
    assert(cogTasks.body().contains("\"task\":\"cogify\""), cogTasks.body().take(300))
    assert(req("POST", "/dataset/rastds/v1/assets", cogBody, admin).statusCode() == 409)
    // the global asset list filters by type
    val globalCogs = get("/assets?asset_type=COG")
    assert(globalCogs.body().contains("rastds-v1-cog-default"), globalCogs.body().take(300))
    assert(!get("/assets?asset_type=COG&dataset=nation").body().contains("cog"),
      "dataset filter leaked")
    // asset-level stats/extent delegate to the version AND report the
    // version's own grid (4 tiles of 10×10 px, one band) — not the
    // builtin lake's; fields serve the raster pseudo-column contract
    val astats = get("/asset/rastds-v1-default/stats")
    assert(astats.statusCode() == 200 &&
      astats.body().contains("\"tile_count\":4") &&
      astats.body().contains("\"pixel_count\":400") &&
      astats.body().contains("\"bands\":1"), astats.body().take(200))
    val afields = get("/asset/rastds-v1-default/fields")
    assert(afields.statusCode() == 200 &&
      afields.body().contains("\"name\":\"area__ha\"") &&
      afields.body().contains("\"name\":\"class\""), afields.body().take(300))
    val aext = get("/asset/rastds-v1-default/extent")
    assert(aext.body().contains("\"extent\":[20.0,8.0,22.0,10.0]"), aext.body().take(200))
    val ti = get("/asset/rastds-v1-default/tiles_info")
    assert(ti.statusCode() == 307, ti.body().take(200))
    val tiJson = java.nio.file.Files.readString(java.nio.file.Paths.get(
      ti.headers().firstValue("Location").get))
    assert(tiJson.contains("\"FeatureCollection\"") &&
      "\"type\":\"Feature\"".r.findAllIn(tiJson).length == 4, tiJson.take(300))
    assert(get("/asset/rastds-v1-cog-default/tiles_info").statusCode() == 400)
    // zonal also answers on the path-param form (analysis.py /zonal/{gid})
    val gj = """{"type":"Polygon","coordinates":[[[0.3,40.6],[3.1,40.9],[3.7,43.2],[0.8,42.8],[0.3,40.6]]]}"""
    val zgid = "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(post("/geostore", gj).body()).get.group(1)
    val zp = get(s"/analysis/zonal/$zgid")
    assert(zp.statusCode() == 200, zp.body().take(300))
  }

  test("raster tile cache asset: z/x/y PNG pyramid served at the cache URL") {
    // self-contained fixture: tcds/v1, 2×2 one-degree tiles at
    // (20E,10N), class = (gx*3+gy*5)%4 (the tcds formula)
    def req(method: String, path: String, body: String,
            hdrs: (String, String)*): HttpResponse[String] = {
      val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      hdrs.foreach { case (k, v) => rb.header(k, v) }
      client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
    }
    val admin = "Authorization" -> "Bearer test-admin"
    val src = java.nio.file.Files.createTempDirectory("tcsrc")
    val px0 = 10; val deg = 0.1
    for (tx <- 0 to 1; ty <- 0 to 1) {
      val pixels = Array.tabulate(px0 * px0) { i =>
        ((tx * px0 + i % px0) * 3 + (ty * px0 + i / px0) * 5) % 4
      }
      graft.raster.GeoTiff.write(src.resolve(s"t${tx}_$ty.tif"),
        graft.raster.GeoTiff.Tile(px0, px0,
          20.0 + tx * px0 * deg, 10.0 - ty * px0 * deg, deg, pixels))
    }
    val putBody =
      s"""{"creation_options": {
         |  "source_uri": ["${src.resolve("t0_0.tif")}", "${src.resolve("t0_1.tif")}",
         |                 "${src.resolve("t1_0.tif")}", "${src.resolve("t1_1.tif")}"],
         |  "source_type": "raster", "pixel_meaning": "class"}}""".stripMargin
    assert(req("PUT", "/dataset/tcds/v1", putBody, admin).statusCode() == 202)
    var vb = ""
    var vtries = 0
    while (vtries < 240 && { vb = get("/dataset/tcds/v1").body()
      vb.contains("\"status\":\"pending\"") }) { Thread.sleep(250); vtries += 1 }
    assert(vb.contains("\"status\":\"saved\""), vb.take(400))
    val sym = """"symbology": {"type": "discrete", "colormap": {
      "0": {"red": 10, "green": 0, "blue": 0},
      "1": {"red": 70, "green": 0, "blue": 0},
      "2": {"red": 130, "green": 0, "blue": 0},
      "3": {"red": 190, "green": 0, "blue": 0}}}"""
    val tcBody = s"""{"asset_type": "Raster tile cache", "creation_options": {
      "source_asset_id": "tcds-v1-default", "max_static_zoom": 8, $sym}}"""
    assert(req("POST", "/dataset/tcds/v1/assets", tcBody).statusCode() == 401)
    // symbology is required; bad resampling 501s
    assert(req("POST", "/dataset/tcds/v1/assets",
      """{"asset_type": "Raster tile cache", "creation_options": {
        "source_asset_id": "tcds-v1-default"}}""", admin).statusCode() == 422)
    assert(req("POST", "/dataset/tcds/v1/assets",
      s"""{"asset_type": "Raster tile cache", "creation_options": {
        "source_asset_id": "tcds-v1-default", "resampling": "average", $sym}}""",
      admin).statusCode() == 501)
    val accepted = req("POST", "/dataset/tcds/v1/assets", tcBody, admin)
    assert(accepted.statusCode() == 202, accepted.body().take(300))
    val jobId = "\"job_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(accepted.body()).get.group(1)
    var jb = ""
    var jtries = 0
    while (jtries < 240 && { jb = get(s"/job/$jobId").body()
      jb.contains("\"status\":\"pending\"") }) { Thread.sleep(250); jtries += 1 }
    assert(jb.contains("\"status\":\"success\""), jb.take(400))
    // the tile containing the grid center serves as image/png with
    // colormapped pixels following the class formula
    import graft.raster.TileCache
    val z = 8
    val tx = math.floor(TileCache.xOfLon(21.0, z)).toInt
    val ty = math.floor(TileCache.yOfLat(9.0, z)).toInt
    val tileResp = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/tcds/v1/default/$z/$tx/$ty.png"))
        .GET().build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(tileResp.statusCode() == 200, new String(tileResp.body()).take(200))
    assert(tileResp.headers().firstValue("Content-Type").get == "image/png")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(tileResp.body()))
    assert(img.getWidth == 256 && img.getHeight == 256)
    var inGrid = 0
    for (py <- 0 until 256 by 37; px <- 0 until 256 by 37) {
      val lon = TileCache.lonOfX(tx + (px + 0.5) / 256.0, z)
      val lat = TileCache.latOfY(ty + (py + 0.5) / 256.0, z)
      val gx = math.floor((lon - 20.0) / 0.1).toInt
      val gy = math.floor((10.0 - lat) / 0.1).toInt
      if (gx >= 0 && gx < 20 && gy >= 0 && gy < 20) {
        val cls = (gx * 3 + gy * 5) % 4
        val argb = img.getRGB(px, py)
        assert((argb >>> 24) == 255 && ((argb >> 16) & 0xff) == 10 + cls * 60,
          s"($px,$py) lake($gx,$gy) class $cls got ${argb.toHexString}")
        inGrid += 1
      }
    }
    assert(inGrid > 0, "tile shares no pixels with the grid")
    // a tile outside the pyramid 404s; duplicate implementation 409s;
    // the asset lists with its type
    assert(get(s"/tcds/v1/default/3/0/0.png").statusCode() == 404)
    assert(req("POST", "/dataset/tcds/v1/assets", tcBody, admin).statusCode() == 409)
    assert(get("/assets?asset_type=Raster%20tile%20cache").body()
      .contains("tcds-v1-tilecache-default"))
  }

  test("static vector tile cache asset: z/x/y MVT pyramid + root.json") {
    def req(method: String, path: String, body: String,
            hdrs: (String, String)*): HttpResponse[String] = {
      val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      hdrs.foreach { case (k, v) => rb.header(k, v) }
      client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
    }
    val admin = "Authorization" -> "Bearer test-admin"
    // vector version: two polygons around (12E, 48N) — NDJSON ingest
    // needs one geometry arity per file (Spark JSON schema inference);
    // the MVT point/line paths are covered by MvtSpec
    val src = java.nio.file.Files.createTempDirectory("vtcsrc")
    java.nio.file.Files.writeString(src.resolve("f.ndjson"),
      """{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[10.0,46.0],[14.0,46.0],[14.0,50.0],[10.0,50.0],[10.0,46.0]]]},"properties":{"kind":"park","score":9}}
        |{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[11.0,47.0],[12.5,47.0],[12.5,48.5],[11.0,48.5],[11.0,47.0]]]},"properties":{"kind":"lake","score":1}}
        |""".stripMargin)
    assert(req("PUT", "/dataset/vtcds/v1",
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("f.ndjson")}"],
         |  "source_type": "vector"}}""".stripMargin, admin).statusCode() == 202)
    var vb = ""
    var tries = 0
    while (tries < 240 && { vb = get("/dataset/vtcds/v1").body()
      vb.contains("\"status\":\"pending\"") }) { Thread.sleep(250); tries += 1 }
    assert(vb.contains("\"status\":\"saved\""), vb.take(400))
    // zoom validation; then build zooms 0..3 with the style passthrough
    assert(req("POST", "/dataset/vtcds/v1/assets",
      """{"asset_type": "Static vector tile cache", "creation_options": {
        "min_zoom": 4, "max_zoom": 2}}""", admin).statusCode() == 422)
    val accepted = req("POST", "/dataset/vtcds/v1/assets",
      """{"asset_type": "Static vector tile cache", "creation_options": {
        "max_zoom": 3, "tile_strategy": "discontinuous",
        "layer_style": [{"id": "parks", "type": "fill", "source": "vtcds",
                         "source-layer": "vtcds"}]}}""", admin)
    assert(accepted.statusCode() == 202, accepted.body().take(300))
    val jobId = "\"job_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(accepted.body()).get.group(1)
    var jb = ""
    tries = 0
    while (tries < 240 && { jb = get(s"/job/$jobId").body()
      jb.contains("\"status\":\"pending\"") }) { Thread.sleep(250); tries += 1 }
    assert(jb.contains("\"status\":\"success\""), jb.take(400))
    // the z2 tile over (12E, 48N) serves as protobuf and contains the
    // layer name + attribute keys as raw strings
    import graft.raster.TileCache.{xOfLon, yOfLat}
    val z = 2
    val tx = math.floor(xOfLon(12.0, z)).toInt
    val ty = math.floor(yOfLat(48.0, z)).toInt
    val tile = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/vtcds/v1/default/$z/$tx/$ty.pbf"))
        .GET().build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(tile.statusCode() == 200)
    assert(tile.headers().firstValue("Content-Type").get == "application/x-protobuf")
    val s = new String(tile.body(), java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(s.contains("vtcds") && s.contains("kind") && s.contains("park"), "layer/keys missing")
    // root.json serves from the tile-cache URL shape and carries the
    // posted style + the tiles template
    val rootResp = get("/vtcds/v1/default/root.json")
    assert(rootResp.statusCode() == 200, rootResp.body().take(300))
    val root = rootResp.body()
    assert(root.contains("\"parks\"") &&
      root.contains("/vtcds/v1/default/{z}/{x}/{y}.pbf"), root.take(300))
    assert(get("/vtcds/v1/nosuch/root.json").statusCode() == 404)
    // absent tile 404s; duplicate implementation 409s
    assert(get("/vtcds/v1/default/3/0/0.pbf").statusCode() == 404)
    assert(req("POST", "/dataset/vtcds/v1/assets",
      """{"asset_type": "Static vector tile cache", "creation_options": {}}""",
      admin).statusCode() == 409)
  }

  test("multi-band GeoTIFF sources ingest as per-band layers; float lands as double; projected CRS is rejected") {
    import graft.raster.GeoTiff
    import GeoTiff.{Raster, SampleType}
    val src = java.nio.file.Files.createTempDirectory("mbsrc")
    // one 8×8 uint16 2-band tile at (5E, 5N), 0.25°/px
    val px = 8
    val b1 = Array.tabulate(px * px)(i => (i % 3).toDouble)
    val b2 = Array.tabulate(px * px)(i => (i % 5).toDouble)
    GeoTiff.writeRaster(src.resolve("mb.tif"),
      Raster(px, px, 5.0, 5.0, 0.25, 4326, SampleType.UInt16, Seq(b1, b2)))
    val body =
      s"""{"creation_options": {
         |  "source_uri": ["${src.resolve("mb.tif")}"],
         |  "source_type": "raster", "pixel_meaning": "pair",
         |  "no_data": "0"}}""".stripMargin
    val put = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataset/mbds/v1"))
        .header("Authorization", "Bearer test-admin")
        .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(put.statusCode() == 202, put.body().take(300))
    var vbody = ""
    var tries = 0
    while (tries < 120 && { vbody = get("/dataset/mbds/v1").body()
      vbody.contains("\"status\":\"pending\"") }) { Thread.sleep(250); tries += 1 }
    assert(vbody.contains("\"status\":\"saved\""), vbody.take(600))
    assert(vbody.contains("px_pair_b1,px_pair_b2"), vbody.take(600))
    // band 1 answers as mbds__pair, band 2 as mbds__pair_b2
    val aoi = """{"type":"Polygon","coordinates":[[[4.9,2.9],[7.1,2.9],[7.1,5.1],[4.9,5.1],[4.9,2.9]]]}"""
    val q = post("/dataset/mbds/v1/query/json",
      s"""{"sql": "SELECT mbds__pair AS k, count(*) AS n FROM data GROUP BY mbds__pair ORDER BY k", "geometry": $aoi}""")
    assert(q.statusCode() == 200, q.body().take(400))
    // base-layer contract: FROM data masks pixels where the DEFAULT
    // layer's band (b1) equals no_data — for every selected layer
    val exp1 = b1.filter(_ != 0.0).groupBy(_.toInt)
      .view.mapValues(_.length).toMap
    for ((k, n) <- exp1)
      assert(q.body().contains(s"""{"k":$k,"n":$n}"""), s"b1 $k=$n: ${q.body().take(300)}")
    assert(!q.body().contains("\"k\":0,"), s"nodata leaked: ${q.body().take(300)}")
    val q2 = post("/dataset/mbds/v1/query/json",
      s"""{"sql": "SELECT mbds__pair_b2 AS k, count(*) AS n FROM data GROUP BY mbds__pair_b2 ORDER BY k", "geometry": $aoi}""")
    assert(q2.statusCode() == 200, q2.body().take(400))
    // grouping by b2 under the b1 base mask: b2 = 0 rows are real
    // data (only the BASE band's no_data masks)
    val exp2 = b1.zip(b2).filter(_._1 != 0.0).map(_._2.toInt)
      .groupBy(identity).view.mapValues(_.length).toMap
    for ((k, n) <- exp2)
      assert(q2.body().contains(s"""{"k":$k,"n":$n}"""), s"b2 $k=$n: ${q2.body().take(300)}")
    // float samples ingest as array<double> lake columns (S7 float
    // path) — quarters are float32-exact, so the round trip is exact
    val bf = Array.tabulate(px * px)(i => (i % 5) / 4.0)
    GeoTiff.writeRaster(src.resolve("f32.tif"),
      Raster(px, px, 5.0, 5.0, 0.25, 4326, SampleType.Float32, Seq(bf)))
    val putF = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataset/fltds/v1"))
        .header("Authorization", "Bearer test-admin")
        .PUT(HttpRequest.BodyPublishers.ofString(
          s"""{"creation_options": {"source_uri": ["${src.resolve("f32.tif")}"],
             |  "source_type": "raster", "pixel_meaning": "x"}}""".stripMargin))
        .build(), HttpResponse.BodyHandlers.ofString())
    assert(putF.statusCode() == 202, putF.body().take(300))
    var fb = ""
    tries = 0
    while (tries < 120 && { fb = get("/dataset/fltds/v1").body()
      fb.contains("\"status\":\"pending\"") }) { Thread.sleep(250); tries += 1 }
    assert(fb.contains("\"status\":\"saved\"") && fb.contains("float32"),
      fb.take(600))
    // the lake column is array<double> and the pixel values survive
    // the float32 TIFF round trip exactly
    val fltLake = spark.read.parquet(
      s"${sys.props("java.io.tmpdir")}/graft_versions/fltds_v1")
    val fltField = fltLake.schema("px_x").dataType
    assert(fltField ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType),
      fltField.toString)
    val got = fltLake.selectExpr("px_x").collect()
      .head.getSeq[Double](0)
    assert(got == bf.toSeq, s"float pixels drifted: ${got.take(8)}")
    // projected-CRS source → clean failure pointing at unify_projection
    GeoTiff.writeRaster(src.resolve("wm.tif"),
      Raster(px, px, 556597.0, 556597.0, 1000.0, 3857, SampleType.Int32, Seq(b1)))
    val putW = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataset/wmds/v1"))
        .header("Authorization", "Bearer test-admin")
        .PUT(HttpRequest.BodyPublishers.ofString(
          s"""{"creation_options": {"source_uri": ["${src.resolve("wm.tif")}"],
             |  "source_type": "raster", "pixel_meaning": "x"}}""".stripMargin))
        .build(), HttpResponse.BodyHandlers.ofString())
    assert(putW.statusCode() == 202, putW.body().take(300))
    var wb = ""
    tries = 0
    while (tries < 120 && { wb = get("/dataset/wmds/v1").body()
      wb.contains("\"status\":\"pending\"") }) { Thread.sleep(250); tries += 1 }
    assert(wb.contains("\"status\":\"failed\"") && wb.contains("4326"),
      wb.take(600))
  }

  test("unify_projection warps EPSG:3857 sources onto a 4326 grid at ingest") {
    import graft.raster.GeoTiff
    import GeoTiff.{Raster, SampleType}
    import graft.geo.Geom
    // two stacked 8×8 mercator tiles at ~47°N (10 km pixels): source
    // global pixel value = globalRow*100 + col, so the warped rows
    // are directly readable
    val src = java.nio.file.Files.createTempDirectory("wmsrc")
    val px = 8
    val pixelM = 10000.0
    val yTop = 6000000.0
    for (ty <- 0 to 1) {
      val bands = Seq(Array.tabulate(px * px) { i =>
        ((ty * px + i / px) * 100 + i % px).toDouble
      })
      GeoTiff.writeRaster(src.resolve(s"m$ty.tif"),
        Raster(px, px, 0.0, yTop - ty * px * pixelM, pixelM, 3857,
          SampleType.Int32, bands))
    }
    val put = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataset/warpds/v1"))
        .header("Authorization", "Bearer test-admin")
        .PUT(HttpRequest.BodyPublishers.ofString(
          s"""{"creation_options": {
             |  "source_uri": ["${src.resolve("m0.tif")}", "${src.resolve("m1.tif")}"],
             |  "source_type": "raster", "pixel_meaning": "code",
             |  "unify_projection": true, "no_data": "-1"}}""".stripMargin))
        .build(), HttpResponse.BodyHandlers.ofString())
    assert(put.statusCode() == 202, put.body().take(300))
    var vbody = ""
    var tries = 0
    while (tries < 120 && { vbody = get("/dataset/warpds/v1").body()
      vbody.contains("\"status\":\"pending\"") }) { Thread.sleep(250); tries += 1 }
    assert(vbody.contains("\"status\":\"saved\""), vbody.take(600))
    assert(vbody.contains("warped from EPSG:3857"), vbody.take(600))
    // expected warp, computed independently: for each target global
    // row, lat at the row center → mercator y → nearest source row
    val pixelDeg = Math.toDegrees(pixelM / Geom.WebMercatorR)
    def latOfY(y: Double) = Math.toDegrees(
      2.0 * Math.atan(Math.exp(y / Geom.WebMercatorR)) - Math.PI / 2.0)
    val latTop = latOfY(yTop)
    val yBot = yTop - 16 * pixelM
    val targetRows = math.ceil((latTop - latOfY(yBot)) / pixelDeg - 1e-9).toInt
    def expectedRow(gr: Int): Seq[Int] = {
      val y = Geom.toWebMercatorY(latTop - (gr + 0.5) * pixelDeg)
      if (y > yTop || y <= yBot) Seq.fill(px)(-1) // no_data fill
      else {
        val sr = math.min(15, ((yTop - y) / pixelM).toInt)
        (0 until px).map(c => sr * 100 + c)
      }
    }
    // grid: 1 × ceil(targetRows/8) tiles anchored at the projected NW
    val g = graft.raster.Grid(Math.toDegrees(0.0), latTop,
      1, (targetRows + px - 1) / px, px * pixelDeg, px)
    // tile 0 materializes through /download/geotiff and matches the
    // expected warp row-for-row
    val dl = get(s"/dataset/warpds/v1/download/geotiff?tile_id=${g.tileId(0, 0)}&pixel_meaning=code")
    assert(dl.statusCode() == 307, dl.body().take(300))
    val tif = GeoTiff.read(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dl.headers().firstValue("Location").get)))
    assert(math.abs(tif.originLat - latTop) < 1e-12 && tif.originLon == 0.0)
    for (r <- 0 until px)
      assert(tif.pixels.slice(r * px, r * px + px).toSeq == expectedRow(r),
        s"row $r")
    // the last tile carries the trailing rows + no_data fill
    val lastTy = (targetRows + px - 1) / px - 1
    val dl2 = get(s"/dataset/warpds/v1/download/geotiff?tile_id=${g.tileId(0, lastTy)}&pixel_meaning=code")
    assert(dl2.statusCode() == 307, dl2.body().take(300))
    val tif2 = GeoTiff.read(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dl2.headers().firstValue("Location").get)))
    for (r <- 0 until px) {
      val gr = lastTy * px + r
      val exp = if (gr < targetRows) expectedRow(gr) else Seq.fill(px)(-1)
      assert(tif2.pixels.slice(r * px, r * px + px).toSeq == exp,
        s"last-tile row $r (gr $gr)")
    }
    // and the warped lake answers zonal SQL like any other version
    val aoi = s"""{"type":"Polygon","coordinates":[[[-0.1,${latOfY(yBot) - 0.1}],[1.2,${latOfY(yBot) - 0.1}],[1.2,${latTop + 0.1}],[-0.1,${latTop + 0.1}],[-0.1,${latOfY(yBot) - 0.1}]]]}"""
    val q = post("/dataset/warpds/v1/query/json",
      s"""{"sql": "SELECT count(*) AS n FROM data", "geometry": $aoi}""")
    assert(q.statusCode() == 200 && !q.body().contains("\"n\":0"), q.body().take(300))

    // a trailing target tile whose ONLY row is unmapped (here
    // yTop = 8050 km → 9 target rows, the 9th south of the source
    // span) must still be written — all no_data — so every advertised
    // tile id resolves
    val src2 = java.nio.file.Files.createTempDirectory("wmsrc2")
    val yTop2 = 8050000.0
    for (ty <- 0 to 1) {
      GeoTiff.writeRaster(src2.resolve(s"m$ty.tif"),
        Raster(px, px, 0.0, yTop2 - ty * px * pixelM, pixelM, 3857,
          SampleType.Int32,
          Seq(Array.tabulate(px * px)(i => (1 + i % 3).toDouble))))
    }
    val put2 = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataset/warpds2/v1"))
        .header("Authorization", "Bearer test-admin")
        .PUT(HttpRequest.BodyPublishers.ofString(
          s"""{"creation_options": {
             |  "source_uri": ["${src2.resolve("m0.tif")}", "${src2.resolve("m1.tif")}"],
             |  "source_type": "raster", "pixel_meaning": "v",
             |  "unify_projection": true, "no_data": "-1"}}""".stripMargin))
        .build(), HttpResponse.BodyHandlers.ofString())
    assert(put2.statusCode() == 202, put2.body().take(300))
    var v2 = ""
    tries = 0
    while (tries < 120 && { v2 = get("/dataset/warpds2/v1").body()
      v2.contains("\"status\":\"pending\"") }) { Thread.sleep(250); tries += 1 }
    assert(v2.contains("\"status\":\"saved\""), v2.take(600))
    val latTop2 = latOfY(yTop2)
    val yBot2 = yTop2 - 16 * pixelM
    val targetRows2 = math.ceil((latTop2 - latOfY(yBot2)) /
      pixelDeg - 1e-9).toInt
    assert(targetRows2 % px == 1, s"fixture drifted: targetRows $targetRows2")
    val g2 = graft.raster.Grid(0.0, latTop2, 1, (targetRows2 + px - 1) / px,
      px * pixelDeg, px)
    val dlt = get(s"/dataset/warpds2/v1/download/geotiff?tile_id=${g2.tileId(0, 1)}&pixel_meaning=v")
    assert(dlt.statusCode() == 307, s"trailing tile 404: ${dlt.body().take(300)}")
    val tift = GeoTiff.read(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dlt.headers().firstValue("Location").get)))
    // the tile's single in-range row (gr=8) is unmapped, so the
    // whole tile is the no_data fill
    assert(tift.pixels.forall(_ == -1), tift.pixels.take(20).toSeq.toString)
  }

  test("api key management: get, list, validate, delete") {
    val secured = new ApiServer(spark, "/root/testdata/sf0.001",
      apiKeys = Some(new ApiKeys), adminTokens = Set("admintok"))
    val p = secured.start()
    try {
      def req(method: String, path: String, body: String,
              hdrs: (String, String)*): HttpResponse[String] = {
        val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
          .method(method, HttpRequest.BodyPublishers.ofString(body))
        hdrs.foreach { case (k, v) => rb.header(k, v) }
        client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
      }
      val admin = "Authorization" -> "Bearer admintok"
      val created = req("POST", "/auth/apikey",
        """{"domains": ["*.example.com"]}""", admin)
      assert(created.statusCode() == 201, created.body().take(200))
      val key = "\"api_key\":\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(created.body()).get.group(1)
      // get requires auth; 404 for unknown keys
      assert(req("GET", s"/auth/apikey/$key", "").statusCode() == 401)
      val got = req("GET", s"/auth/apikey/$key", "", admin)
      assert(got.statusCode() == 200 &&
        got.body().contains("\"domains\":[\"*.example.com\"]"), got.body().take(200))
      assert(req("GET", "/auth/apikey/00000000-0000-0000-0000-000000000000", "",
        admin).statusCode() == 404)
      // list contains it
      assert(req("GET", "/auth/apikeys", "", admin).body().contains(key))
      // validate applies the domain rule (api_key_is_valid)
      assert(req("GET", s"/auth/apikey/$key/validate?origin=https://app.example.com",
        "", admin).body().contains("\"is_valid\":true"))
      assert(req("GET", s"/auth/apikey/$key/validate?origin=https://evil.org",
        "", admin).body().contains("\"is_valid\":false"))
      // delete, then the key no longer validates requests
      assert(req("DELETE", s"/auth/apikey/$key", "", admin).statusCode() == 200)
      assert(req("DELETE", s"/auth/apikey/$key", "", admin).statusCode() == 404)
      assert(req("GET", s"/auth/apikey/$key", "", admin).statusCode() == 404)
    } finally secured.stop()
  }

  test("features point lookup: zoom radius table + out-of-range 400") {
    // customer lattice point for c_custkey=1: lon -179.25, lat -84.25
    val hit = get("/dataset/customer/v1/features?lat=-84.25&lng=-179.25&z=0")
    assert(hit.statusCode() == 200, hit.body().take(200))
    assert(hit.body().contains("\"c_custkey\":1"))
    // zoom 14 → 25 m radius: nothing within it but the exact point
    val none = get("/dataset/customer/v1/features?lat=-60.0&lng=100.0&z=14")
    assert(none.statusCode() == 200)
    assert(none.body() == """{"data":[],"status":"success"}""")
    assert(get("/dataset/customer/v1/features?lat=0&lng=0&z=40").statusCode() == 400)
    assert(get("/dataset/customer/v1/features?lat=0&lng=0").statusCode() == 422)
    assert(get("/dataset/nation/v1/features?lat=0&lng=0&z=5").statusCode() == 501)
  }

  test("stats and extent endpoints") {
    val ts = get("/dataset/nation/v1/stats")
    assert(ts.statusCode() == 200 && ts.body().contains("\"row_count\":25"))
    val rs = get("/dataset/landcover_raster/v1/stats")
    assert(rs.statusCode() == 200 && rs.body().contains("\"tile_count\":16"))
    val re = get("/dataset/landcover_raster/v1/extent")
    assert(re.statusCode() == 200 &&
      re.body().contains("\"extent\":[0.0,40.0,4.0,44.0]"))
    val te = get("/dataset/nation/v1/extent")
    assert(te.statusCode() == 200 && te.body().contains("\"extent\":null"))
    assert(get("/dataset/nope/v1/stats").statusCode() == 404)
  }

  test("political id-lookup matches accent-folded names") {
    // norm_name folds accents + case: "nátion_7" matches "NATION_7"
    val r = get("/political/id-lookup?country=" +
      java.net.URLEncoder.encode("nátion_7", "UTF-8"))
    assert(r.statusCode() == 200, r.body().take(200))
    assert(r.body().contains("\"name\":\"NATION_7\""))
    assert(get("/political/id-lookup").statusCode() == 400)
  }

  test("version creation lifecycle: PUT -> task change log -> queryable") {
    // write a small CSV source with a duplicate key for the unique
    // constraint to drop
    val src = java.nio.file.Files.createTempDirectory("vcsrc")
    java.nio.file.Files.writeString(src.resolve("part1.csv"),
      "id,name,score\n1,alpha,10\n2,beta,20\n2,beta,20\n3,gamma,30\n")
    val body =
      s"""{"creation_options": {
         |  "source_uri": ["file://${src.resolve("part1.csv")}"],
         |  "delimiter": ",",
         |  "table_schema": [{"name": "id", "data_type": "bigint"}],
         |  "constraints": [{"constraint_type": "unique", "column_names": ["id"]}],
         |  "indices": [{"index_type": "btree", "column_names": ["score"]}]
         |}}""".stripMargin
    def putReq(path: String, b: String, hdrs: (String, String)*): HttpResponse[String] = {
      val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .PUT(HttpRequest.BodyPublishers.ofString(b))
      hdrs.foreach { case (k, v) => rb.header(k, v) }
      client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
    }
    val admin = "Authorization" -> "Bearer test-admin"
    // writes require an authenticated admin (reference get_owner): 401
    assert(putReq("/dataset/myds/v202608", body).statusCode() == 401)
    // created datasets may not reuse a lake table name
    assert(putReq("/dataset/nation/v9", body, admin).statusCode() == 409)
    // sources outside the allowed data roots are refused
    assert(putReq("/dataset/myds/v202608",
      body.replace(s"file://${src.resolve("part1.csv")}", "file:///etc/passwd"),
      admin).statusCode() == 403)
    val put = putReq("/dataset/myds/v202608", body, admin)
    assert(put.statusCode() == 202, put.body().take(300))
    // poll until terminal
    var status = "pending"
    var vbody = ""
    var tries = 0
    while (status == "pending" && tries < 120) {
      Thread.sleep(250)
      vbody = get("/dataset/myds/v202608").body()
      status = "\"status\":\"(\\w+)\"".r.findFirstMatchIn(vbody).get.group(1)
      tries += 1
    }
    assert(status == "saved", vbody.take(500))
    // every DAG task logged success, in order
    for (task <- Seq("create_table", "load_data", "apply_layout", "register"))
      assert(vbody.contains(s""""task":"$task","status":"success""""), vbody)
    assert(vbody.contains("\"is_latest\":true"))
    // the new version is queryable through the standard surface, with
    // the unique constraint applied and the schema patch in force
    val q = get("/dataset/myds/v202608/query/json?sql=" +
      java.net.URLEncoder.encode(
        "SELECT count(*) AS cnt, sum(id) AS id_sum FROM data", "UTF-8"))
    assert(q.statusCode() == 200, q.body().take(300))
    assert(q.body().contains("\"cnt\":3") && q.body().contains("\"id_sum\":6"))
    // append: new source with one genuinely new row + one unique-key
    // replay; only the new row lands, and the change log grows
    java.nio.file.Files.writeString(src.resolve("part2.csv"),
      "id,name,score\n3,gamma,30\n4,delta,40\n")
    def postReq(path: String, b: String, hdrs: (String, String)*): HttpResponse[String] = {
      val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(b))
      hdrs.foreach { case (k, v) => rb.header(k, v) }
      client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
    }
    val appendBody =
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("part2.csv")}"]}}"""
    assert(postReq("/dataset/myds/v202608/append", appendBody).statusCode() == 401)
    assert(postReq("/dataset/nosuch/v1/append", appendBody, admin).statusCode() == 404)
    val app = postReq("/dataset/myds/v202608/append", appendBody, admin)
    assert(app.statusCode() == 202, app.body().take(300))
    status = "pending"; tries = 0
    while (status == "pending" && tries < 120) {
      Thread.sleep(250)
      vbody = get("/dataset/myds/v202608").body()
      status = "\"status\":\"(\\w+)\"".r.findFirstMatchIn(vbody).get.group(1)
      tries += 1
    }
    assert(status == "saved" && vbody.contains("appended 1 new row(s)"), vbody.take(800))
    val q2 = get("/dataset/myds/v202608/query/json?sql=" +
      java.net.URLEncoder.encode(
        "SELECT count(*) AS cnt, sum(id) AS id_sum FROM data", "UTF-8"))
    assert(q2.body().contains("\"cnt\":4") && q2.body().contains("\"id_sum\":10"),
      q2.body().take(300))
    // bad creation options → 422
    assert(putReq("/dataset/bad/v1", """{"creation_options": {}}""", admin)
      .statusCode() == 422)
  }

  test("batch user SQL over feature lists: inline, geostore_ids, uri, caps") {
    val poly1 = """{"type":"Polygon","coordinates":[[[0.3513,40.6821],[3.1242,40.9753],[3.7081,43.2517],[0.8472,42.8391],[0.3513,40.6821]]]}"""
    val poly2 = """{"type":"Polygon","coordinates":[[[1.1513,41.2821],[2.9242,41.3753],[2.8081,42.9517],[1.2472,42.7391],[1.1513,41.2821]]]}"""
    val sql = "SELECT landcover_raster__class AS cls, sum(area__ha) AS area__ha FROM data GROUP BY landcover_raster__class"
    def poll(submitted: HttpResponse[String]): String = {
      assert(submitted.statusCode() == 202, submitted.body().take(300))
      val jobId = "\"job_id\":\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(submitted.body()).get.group(1)
      var status = "pending"; var bodyTxt = ""; var tries = 0
      while (status == "pending" && tries < 120) {
        Thread.sleep(250)
        bodyTxt = get(s"/job/$jobId").body()
        status = "\"status\":\"(\\w+)\"".r.findFirstMatchIn(bodyTxt).get.group(1)
        tries += 1
      }
      assert(status == "success", bodyTxt.take(500))
      bodyTxt
    }
    // inline feature collection with id_field from properties
    val inline = poll(post("/dataset/landcover_raster/v1/query/batch",
      s"""{"sql": "$sql", "id_field": "name", "feature_collection": {
         |  "type": "FeatureCollection", "features": [
         |  {"type": "Feature", "properties": {"name": "alpha"}, "geometry": $poly1},
         |  {"type": "Feature", "properties": {"name": "beta"}, "geometry": $poly2}
         |]}}""".stripMargin))
    assert(inline.contains("\"fid\":\"\\\"alpha\\\"\"") ||
      inline.contains("\"fid\":\"alpha\""), inline.take(400))
    assert(inline.contains("\"cls\":0") && inline.contains("\"area__ha\":"))
    // non-aggregate SQL → batch pixel LISTING (per-feature alert
    // download rows, `queries.py:300-343`): one (fid, latitude,
    // longitude, value...) row per masked+filtered pixel
    val listSql = "SELECT latitude, longitude, " +
      "umd_glad_landsat_alerts__date AS alert__date FROM data " +
      "WHERE umd_glad_landsat_alerts__date >= '2020-06-23' " +
      "AND umd_glad_landsat_alerts__confidence >= 3"
    val listing = poll(post("/dataset/umd_glad_landsat_alerts/v1/query/batch",
      s"""{"sql": "$listSql", "id_field": "name", "feature_collection": {
         |  "type": "FeatureCollection", "features": [
         |  {"type": "Feature", "properties": {"name": "alpha"}, "geometry": $poly1},
         |  {"type": "Feature", "properties": {"name": "beta"}, "geometry": $poly2}
         |]}}""".stripMargin))
    assert(listing.contains("\"latitude\":") && listing.contains("\"alert__date\":"),
      listing.take(400))
    assert(listing.contains("alpha") && listing.contains("beta"), listing.take(400))
    // geostore_ids variant
    val gid = "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(post("/geostore", poly1).body()).get.group(1)
    val viaIds = poll(post("/dataset/landcover_raster/v1/query/batch",
      s"""{"sql": "$sql", "geostore_ids": ["$gid"]}"""))
    assert(viaIds.contains(s""""fid":"$gid""""))
    // uri variant (file-referenced FeatureCollection)
    val f = java.nio.file.Files.createTempFile("fc", ".geojson")
    java.nio.file.Files.writeString(f,
      s"""{"type": "FeatureCollection", "features": [
         |{"type": "Feature", "properties": {}, "geometry": $poly2}]}""".stripMargin)
    val viaUri = poll(post("/dataset/landcover_raster/v1/query/batch",
      s"""{"sql": "$sql", "uri": "file://$f"}"""))
    assert(viaUri.contains("\"rows\":["))
    // error shapes: both sources, neither source, tabular dataset, oversize
    val both = post("/dataset/landcover_raster/v1/query/batch",
      s"""{"sql": "$sql", "geostore_ids": ["$gid"], "uri": "file://$f"}""")
    assert(both.statusCode() == 400 && both.body().contains("only one of"))
    val neither = post("/dataset/landcover_raster/v1/query/batch", s"""{"sql": "$sql"}""")
    assert(neither.statusCode() == 400)
    val tabular = post("/dataset/nation/v1/query/batch",
      s"""{"sql": "$sql", "geostore_ids": ["$gid"]}""")
    assert(tabular.statusCode() == 400 &&
      tabular.body().contains("only available for raster tile sets"))
    val oversize = post("/dataset/landcover_raster/v1/query/batch",
      s"""{"sql": "$sql", "feature_collection": {"pad": "${"x" * (257 * 1024)}"}}""")
    assert(oversize.statusCode() == 413)
    val badUri = post("/dataset/landcover_raster/v1/query/batch",
      s"""{"sql": "$sql", "uri": "file://${sys.props("java.io.tmpdir")}/nope-missing.geojson"}""")
    assert(badUri.statusCode() == 400 &&
      badUri.body().contains("Cannot access all of the source files"))
    // uris outside the allowed data roots never reach the filesystem
    val outsideUri = post("/dataset/landcover_raster/v1/query/batch",
      s"""{"sql": "$sql", "uri": "file:///etc/passwd"}""")
    assert(outsideUri.statusCode() == 403)
  }

  test("rw geostore origin fallback with memoization") {
    var calls = 0
    val rwPoly = """{"type":"Polygon","coordinates":[[[0.3513,40.6821],[3.1242,40.9753],[3.7081,43.2517],[0.8472,42.8391],[0.3513,40.6821]]]}"""
    val rw = new ApiServer(spark, "/root/testdata/sf0.001",
      rwGeostore = Some(id => { calls += 1
        if (id == "rw-id-1") Some(rwPoly) else None }))
    val rp = rw.start()
    def rget(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$rp$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      val q = "/dataset/landcover_raster/v1/query/json?geostore_id=rw-id-1&sql=" +
        java.net.URLEncoder.encode("SELECT sum(area__ha) AS a FROM data", "UTF-8")
      assert(rget(q).statusCode() == 200)
      assert(rget(q).statusCode() == 200)
      assert(calls == 1, s"rw fetcher called $calls times — memo broken")
      // the zonal route resolves through the same origin fallback + memo
      assert(rget("/analysis/zonal?geostore_id=rw-id-1").statusCode() == 200)
      assert(calls == 1, s"rw fetcher called $calls times after zonal — memo bypassed")
      // unknown id still 422 (no geostore resolved)
      assert(rget("/dataset/landcover_raster/v1/query/json?geostore_id=nope&sql=" +
        java.net.URLEncoder.encode("SELECT 1 FROM data", "UTF-8")).statusCode() == 422)
    } finally rw.stop()
  }

  test("shapefile/geopackage downloads 307-redirect to the export asset") {
    val shp = get("/dataset/region/v1/download/shp")
    assert(shp.statusCode() == 307)
    assert(shp.headers().firstValue("Location").get.endsWith("region.shp.zip"))
    val gpkg = get("/dataset/region/v1/download/gpkg")
    assert(gpkg.statusCode() == 307)
    assert(gpkg.headers().firstValue("Location").get.endsWith("region.gpkg"))
    // no export asset → reference's 501
    val none = get("/dataset/nation/v1/download/shp")
    assert(none.statusCode() == 501)
    // ≥500 answers carry JSEND status "error" (`errors.py:43-46`)
    assert(none.body() ==
      """{"status":"error","message":"This endpoint is not implemented for the given dataset."}""")
  }

  test("dataset CRUD: PUT/GET/PATCH/DELETE with reference status codes") {
    def req(method: String, path: String, body: String,
            hdrs: (String, String)*): HttpResponse[String] = {
      val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      hdrs.foreach { case (k, v) => rb.header(k, v) }
      client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
    }
    val admin = "Authorization" -> "Bearer test-admin"
    // writes are gated (reference get_manager / get_owner)
    assert(req("PUT", "/dataset/crudds", "{}").statusCode() == 401)
    // create: 201 + Location header + metadata round-trip
    val created = req("PUT", "/dataset/crudds",
      """{"metadata": {"title": "Crud DS", "license": "MIT"}}""", admin)
    assert(created.statusCode() == 201, created.body().take(300))
    assert(created.headers().firstValue("Location").get == "/crudds")
    assert(created.body().contains("\"title\":\"Crud DS\""))
    // duplicate create → 400 (RecordAlreadyExistsError)
    assert(req("PUT", "/dataset/crudds", "{}", admin).statusCode() == 400)
    assert(req("PUT", "/dataset/nation", "{}", admin).statusCode() == 400)
    // GET: record visible, listed in /datasets
    val got = get("/dataset/crudds")
    assert(got.statusCode() == 200 && got.body().contains("\"license\":\"MIT\""))
    assert(get("/datasets").body().contains("\"dataset\":\"crudds\""))
    assert(get("/dataset/nosuchds").statusCode() == 404)
    // PATCH merges individual metadata fields, leaves the rest
    val patched = req("PATCH", "/dataset/crudds",
      """{"metadata": {"license": "CC-BY-4.0"}}""", admin)
    assert(patched.statusCode() == 200, patched.body().take(300))
    assert(patched.body().contains("\"license\":\"CC-BY-4.0\"") &&
      patched.body().contains("\"title\":\"Crud DS\""))
    // attach a version, then dataset DELETE must 409 until it is gone
    val src = java.nio.file.Files.createTempDirectory("crudsrc")
    java.nio.file.Files.writeString(src.resolve("a.csv"), "id,v\n1,x\n2,y\n")
    val put = req("PUT", "/dataset/crudds/v1",
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("a.csv")}"]}}""",
      admin)
    assert(put.statusCode() == 202, put.body().take(300))
    var tries = 0
    while (tries < 120 && {
      val b = get("/dataset/crudds/v1").body()
      b.contains("\"status\":\"pending\"")
    }) { Thread.sleep(250); tries += 1 }
    assert(get("/dataset/crudds/v1").body().contains("\"status\":\"saved\""))
    assert(get("/dataset/crudds").body().contains("\"versions\":[\"v1\"]"))
    val delBlocked = req("DELETE", "/dataset/crudds", "", admin)
    assert(delBlocked.statusCode() == 409 &&
      delBlocked.body().contains("versions registered"), delBlocked.body().take(300))
    // PATCH version: drop the latest tag, then flip it back
    val unlatest = req("PATCH", "/dataset/crudds/v1",
      """{"is_latest": false}""", admin)
    assert(unlatest.statusCode() == 200 &&
      unlatest.body().contains("\"is_latest\":false"), unlatest.body().take(300))
    assert(req("PATCH", "/dataset/crudds/v1", """{"is_latest": true}""", admin)
      .body().contains("\"is_latest\":true"))
    assert(req("PATCH", "/dataset/crudds/nosuch", "{}", admin).statusCode() == 404)
    // version DELETE: latest-with-siblings 409 rule
    val put2 = req("PUT", "/dataset/crudds/v2",
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("a.csv")}"],
         |  "latest": true}}""".stripMargin, admin)
    assert(put2.statusCode() == 202)
    tries = 0
    while (tries < 120 && get("/dataset/crudds/v2").body().contains("pending")) {
      Thread.sleep(250); tries += 1
    }
    val delLatest = req("DELETE", "/dataset/crudds/v2", "", admin)
    assert(delLatest.statusCode() == 409 &&
      delLatest.body().contains("tagged as `latest`"), delLatest.body().take(300))
    // non-latest deletes fine; then the (only, latest) one deletes too
    assert(req("DELETE", "/dataset/crudds/v1", "", admin).statusCode() == 200)
    assert(get("/dataset/crudds/v1").statusCode() == 404)
    assert(req("DELETE", "/dataset/crudds/v2", "", admin).statusCode() == 200)
    // builtin lake versions are not deletable
    assert(req("DELETE", "/dataset/nation/v1", "", admin).statusCode() == 409)
    // with all versions gone the dataset record deletes
    assert(req("DELETE", "/dataset/crudds", "", admin).statusCode() == 200)
    assert(get("/dataset/crudds").statusCode() == 404)
  }

  test("GET /datasets pagination: links + meta blocks") {
    val p1 = get("/datasets?page%5Bsize%5D=3&page%5Bnumber%5D=1")
    assert(p1.statusCode() == 200, p1.body().take(200))
    assert(p1.body().contains("\"meta\":{\"size\":3,"))
    assert(p1.body().contains("\"prev\":\"\""))
    assert(p1.body().contains("page[number]=2&page[size]=3"))
    val total = "\"total_items\":(\\d+)".r.findFirstMatchIn(p1.body()).get.group(1).toInt
    val pages = "\"total_pages\":(\\d+)".r.findFirstMatchIn(p1.body()).get.group(1).toInt
    assert(pages == (total + 2) / 3)
    val last = get(s"/datasets?page%5Bsize%5D=3&page%5Bnumber%5D=$pages")
    assert(last.body().contains("\"next\":\"\""))
    assert(get("/datasets?page%5Bsize%5D=0").statusCode() == 422)
    // unpaged form stays the plain list
    assert(!get("/datasets").body().contains("\"links\""))
  }

  test("assets and change_log routes") {
    val a = get("/dataset/region/v1/assets")
    assert(a.statusCode() == 200, a.body().take(200))
    assert(a.body().contains("\"asset_type\":\"Database table\"") &&
      a.body().contains("\"is_default\":true"))
    assert(a.body().contains("ESRI Shapefile")) // region's export assets
    assert(get("/dataset/nosuch/v1/assets").statusCode() == 404)
    val cl = get("/dataset/region/v1/change_log")
    assert(cl.statusCode() == 200 && cl.body().contains("\"data\":["))
    assert(get("/dataset/nosuch/v1/change_log").statusCode() == 404)
  }

  test("ping, download_by_aoi, version metadata CRUD, asset-by-id") {
    assert(get("/ping").body() == "\"pong\"")
    // download_by_aoi: geostore mandatory
    assert(get("/dataset/region/v1/download_by_aoi/csv?sql=SELECT%201%20FROM%20data")
      .statusCode() == 422)
    assert(get("/dataset/region/v1/download_by_aoi/csv?geostore_id=00000000-0000-0000-0000-000000000000&sql=SELECT%201%20FROM%20data")
      .statusCode() == 404)
    val gj = """{"type":"Polygon","coordinates":[[[0,0],[9,0],[9,9],[0,9],[0,0]]]}"""
    val gid = "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(post("/geostore", gj).body()).get.group(1)
    // AOI download over a table WITHOUT a geom column is the client's
    // error → 400 with the unresolved-column detail (PG parity)
    val nogeom = get(s"/dataset/region/v1/download_by_aoi/csv?geostore_id=$gid&sql=" +
      java.net.URLEncoder.encode("SELECT count(*) AS c FROM data", "UTF-8"))
    assert(nogeom.statusCode() == 400, nogeom.body().take(200))
    assert(nogeom.body().contains("geom"), nogeom.body().take(300))
    // over a created vector version (stored WKB geom) the AOI filter
    // applies: only the feature inside the box downloads
    val src = java.nio.file.Files.createTempDirectory("aoisrc")
    java.nio.file.Files.writeString(src.resolve("f.ndjson"),
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[4.5,4.5]},"properties":{"pid":1}}
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[120.0,60.0]},"properties":{"pid":2}}
        |""".stripMargin)
    val putR = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataset/aoids/v1"))
        .header("Authorization", "Bearer test-admin")
        .PUT(HttpRequest.BodyPublishers.ofString(
          s"""{"creation_options": {"source_uri": ["file://${src.resolve("f.ndjson")}"],
             |  "source_type": "vector"}}""".stripMargin)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(putR.statusCode() == 202, putR.body().take(300))
    var tries = 0
    while (tries < 120 && get("/dataset/aoids/v1").body().contains("pending")) {
      Thread.sleep(250); tries += 1
    }
    val dl = get(s"/dataset/aoids/v1/download_by_aoi/csv?geostore_id=$gid&sql=" +
      java.net.URLEncoder.encode("SELECT pid FROM data ORDER BY pid", "UTF-8"))
    assert(dl.statusCode() == 200, dl.body().take(300))
    assert(dl.body().contains("1") && !dl.body().contains("2"), dl.body().take(200))
    // version metadata CRUD
    def req(method: String, path: String, body: String,
            hdrs: (String, String)*): HttpResponse[String] = {
      val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      hdrs.foreach { case (k, v) => rb.header(k, v) }
      client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
    }
    val admin = "Authorization" -> "Bearer test-admin"
    assert(get("/dataset/nation/v1/metadata").statusCode() == 404)
    assert(req("POST", "/dataset/nation/v1/metadata",
      """{"title": "Nations", "resolution": "admin-0"}""").statusCode() == 401)
    assert(req("POST", "/dataset/nation/v1/metadata",
      """{"title": "Nations", "resolution": "admin-0"}""", admin).statusCode() == 201)
    val patched = req("PATCH", "/dataset/nation/v1/metadata",
      """{"resolution": "gadm-0"}""", admin)
    assert(patched.body().contains("\"resolution\":\"gadm-0\"") &&
      patched.body().contains("\"title\":\"Nations\""), patched.body().take(200))
    assert(get("/dataset/nation/v1/metadata").statusCode() == 200)
    assert(req("DELETE", "/dataset/nation/v1/metadata", "", admin).statusCode() == 200)
    assert(get("/dataset/nation/v1/metadata").statusCode() == 404)
    // asset by id (region carries export assets)
    val a = get("/asset/region-shp")
    assert(a.statusCode() == 200 && a.body().contains("\"dataset\":\"region\"") &&
      a.body().contains("ESRI Shapefile"), a.body().take(300))
    assert(get("/asset/region-shp/creation_options").statusCode() == 200)
    assert(get("/asset/nope").statusCode() == 404)
  }

  test("datamart: tree_cover_loss_by_driver resource lifecycle") {
    val gj = """{"type":"Polygon","coordinates":[[[0.3513,40.6821],[3.1242,40.9753],[3.7081,43.2517],[0.8472,42.8391],[0.3513,40.6821]]]}"""
    val gid = "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(post("/geostore", gj).body()).get.group(1)
    // search before compute → 404 with the reference's detail
    val miss = get(s"/land/tree_cover_loss_by_driver?geostore_id=$gid&canopy_cover=30")
    assert(miss.statusCode() == 404 && miss.body().contains("may require computation"))
    // create → 202 + resource link
    val created = post("/land/tree_cover_loss_by_driver",
      s"""{"geostore_id": "$gid", "canopy_cover": 30}""")
    assert(created.statusCode() == 202, created.body().take(300))
    val rid = "tree_cover_loss_by_driver/([0-9a-f-]+)".r
      .findFirstMatchIn(created.body()).get.group(1)
    // duplicate create → 409
    assert(post("/land/tree_cover_loss_by_driver",
      s"""{"geostore_id": "$gid", "canopy_cover": 30}""").statusCode() == 409)
    // unknown geostore → 422
    assert(post("/land/tree_cover_loss_by_driver",
      """{"geostore_id": "00000000-0000-0000-0000-000000000000"}""").statusCode() == 422)
    // poll to saved
    var body = ""
    var tries = 0
    while (tries < 120 && { body = get(s"/land/tree_cover_loss_by_driver/$rid").body()
      body.contains("\"status\":\"pending\"") }) { Thread.sleep(250); tries += 1 }
    assert(body.contains("\"status\":\"saved\""), body.take(500))
    assert(body.contains("\"umd_tree_cover_loss__year\":") &&
      body.contains("\"tsc_tree_cover_loss_drivers__driver\":"), body.take(500))
    assert(body.contains("\"by_driver_total\""))
    // search now resolves to the link
    assert(get(s"/land/tree_cover_loss_by_driver?geostore_id=$gid&canopy_cover=30")
      .body().contains(rid))
    // CSV representation via Accept header
    val csv = client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/land/tree_cover_loss_by_driver/$rid"))
        .header("Accept", "text/csv").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(csv.body().startsWith(
      "\"umd_tree_cover_loss__year\",\"tsc_tree_cover_loss_drivers__driver\",\"area__ha\""),
      csv.body().take(200))
    assert(csv.body().split("\r\n").length > 2)
    // saved resources refuse deletion (failed-only rule)
    def del(path: String): Int = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString()).statusCode()
    assert(del(s"/land/tree_cover_loss_by_driver/$rid") == 400)
    assert(del("/land/tree_cover_loss_by_driver/00000000-0000-0000-0000-000000000000") == 404)
  }

  test("geostore admin list: ordered national records") {
    val r = get("/geostore/admin/list")
    assert(r.statusCode() == 200, r.body().take(200))
    assert(r.body().contains("\"geostore_id\":") && r.body().contains("\"name\":"))
    // ordered by national id, all 25 fixture nations present
    val isos = "\"iso\":\"(\\d+)\"".r.findAllMatchIn(r.body()).map(_.group(1).toInt).toSeq
    assert(isos == isos.sorted && isos.length == 25, isos.take(5))
    // every advertised id resolves immediately — no need to hit the
    // per-boundary route first (used to 404 until then). Nation 7's
    // boundary route is never touched elsewhere in this suite.
    val listed7 = "\"geostore_id\":\"([0-9a-f-]+)\",\"iso\":\"7\"".r
      .findFirstMatchIn(r.body()).map(_.group(1))
    assert(listed7.isDefined, r.body().take(300))
    assert(get(s"/geostore/${listed7.get}").statusCode() == 200,
      "listed geostore id must resolve without a prior boundary hit")
    assert(get("/geostore/admin/list?source%5Bprovider%5D=esri").statusCode() == 400)
  }

  test("geostore admin boundaries: country/region/subregion lookup, registered ids") {
    // country (adm 0): the synthesized rectangle for nation 3
    val c = get("/geostore/admin/3")
    assert(c.statusCode() == 200, c.body().take(300))
    assert(c.body().contains("\"type\":\"geoStore\"") &&
      c.body().contains("\"iso\":\"3\"") &&
      c.body().contains("\"lock\":false"), c.body().take(400))
    val (x0, y0, x1, y1) = graft.geo.AdminFixtures.adm0Rect(3)
    assert(c.body().contains(s""""bbox":[$x0,$y0,$x1,$y1]"""), c.body().take(500))
    val expArea = graft.geo.Geom.areaHa(
      graft.geo.AdminFixtures.polygon(graft.geo.AdminFixtures.adm0Rect(3)))
    assert(c.body().contains(s""""areaHa":$expArea"""), c.body().take(500))
    // the admin list's geostore id matches the boundary route's
    val listed = "\"geostore_id\":\"([0-9a-f-]+)\",\"iso\":\"3\"".r
      .findFirstMatchIn(get("/geostore/admin/list").body()).map(_.group(1))
    val cid = "\"id\":\"([0-9a-f-]+)\"".r.findFirstMatchIn(c.body()).map(_.group(1))
    assert(cid.isDefined && cid == listed, s"$cid vs $listed")
    // the boundary geostore id RESOLVES as a served geostore
    assert(get(s"/geostore/${cid.get}").statusCode() == 200)
    // region (adm 1) carries id1; subregion (adm 2) id1+id2; both are
    // proper sub-rectangles of the country
    val r = get("/geostore/admin/3/2")
    assert(r.statusCode() == 200 && r.body().contains("\"id1\":2"), r.body().take(300))
    val s = get("/geostore/admin/3/2/1")
    assert(s.statusCode() == 200 && s.body().contains("\"id1\":2") &&
      s.body().contains("\"id2\":1"), s.body().take(300))
    val (rx0, ry0, rx1, ry1) = graft.geo.AdminFixtures.adm1Rect(3, 2)
    assert(r.body().contains(s""""bbox":[$rx0,$ry0,$rx1,$ry1]"""), r.body().take(500))
    assert(rx0 >= x0 && ry0 >= y0 && rx1 <= x1 && ry1 <= y1)
    // simplify is echoed in info (identity on the rectangular fixture)
    val sp = get("/geostore/admin/3?simplify=0.01")
    assert(sp.statusCode() == 200 && sp.body().contains("\"simplifyThresh\":0.01"),
      sp.body().take(300))
    // unknown country / out-of-range region → 404; bad provider → 400
    assert(get("/geostore/admin/99").statusCode() == 404)
    assert(get("/geostore/admin/3/9").statusCode() == 404)
    assert(get("/geostore/admin/3?source%5Bprovider%5D=esri").statusCode() == 400)
  }

  test("task records, asset metadata and field metadata CRUD") {
    def req(method: String, path: String, body: String,
            hdrs: (String, String)*): HttpResponse[String] = {
      val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      hdrs.foreach { case (k, v) => rb.header(k, v) }
      client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
    }
    val admin = "Authorization" -> "Bearer test-admin"
    // create a small table version so the DAG registers task records
    val src = java.nio.file.Files.createTempDirectory("tasksrc")
    java.nio.file.Files.writeString(src.resolve("t.csv"), "id,name\n1,a\n2,b\n")
    assert(req("PUT", "/dataset/taskds/v1",
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("t.csv")}"]}}""",
      admin).statusCode() == 202)
    var tries = 0
    while (tries < 120 && get("/dataset/taskds/v1").body().contains("pending")) {
      Thread.sleep(250); tries += 1
    }
    assert(get("/dataset/taskds/v1").body().contains("\"status\":\"saved\""))
    // the DAG registered one task per step, pollable per asset and by id
    val tasks = get("/asset/taskds-v1-default/tasks")
    assert(tasks.statusCode() == 200, tasks.body().take(300))
    for (step <- Seq("create_table", "load_data", "apply_layout", "register"))
      assert(tasks.body().contains(s"\"task\":\"$step\""), tasks.body().take(500))
    val tid = "\"task_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(tasks.body()).get.group(1)
    val one = get(s"/task/$tid")
    assert(one.statusCode() == 200 &&
      one.body().contains("\"asset_id\":\"taskds-v1-default\""), one.body().take(300))
    assert(get("/task/00000000-0000-0000-0000-000000000000").statusCode() == 404)
    // service-account task creation + status propagation (task.py:60-129)
    val newTid = "11111111-2222-3333-4444-555555555555"
    assert(req("PUT", s"/task/$newTid",
      """{"asset_id": "taskds-v1-default"}""").statusCode() == 401)
    assert(req("PUT", s"/task/$newTid",
      """{"asset_id": "taskds-v1-default"}""", admin).statusCode() == 201)
    assert(req("PUT", s"/task/$newTid",
      """{"asset_id": "taskds-v1-default"}""", admin).statusCode() == 400)
    assert(req("PUT", "/task/66666666-7777-8888-9999-000000000000",
      """{"asset_id": "no-such-asset"}""", admin).statusCode() == 400)
    // all-success completion marks the asset saved
    assert(req("PATCH", s"/task/$newTid",
      """{"change_log": [{"task": "extra_index", "status": "success", "detail": "ok"}]}""",
      admin).statusCode() == 200)
    assert(get("/dataset/taskds/v1/assets").body().contains("\"status\":\"saved\""))
    // a bad status is a 400 (task.py change-log status guard)
    assert(req("PATCH", s"/task/$newTid",
      """{"change_log": [{"task": "x", "status": "running", "detail": ""}]}""",
      admin).statusCode() == 400)
    // a failed entry propagates to the asset AND the default asset's version
    assert(req("PATCH", s"/task/$newTid",
      """{"change_log": [{"task": "extra_index", "status": "failed", "detail": "boom"}]}""",
      admin).statusCode() == 200)
    assert(get("/dataset/taskds/v1/assets").body().contains("\"status\":\"failed\""))
    assert(get("/dataset/taskds/v1").body().contains("\"status\":\"failed\""))
    // ------------------------------------------------ asset metadata
    assert(get("/asset/taskds-v1-default/metadata").body() ==
      """{"data":{},"status":"success"}""")
    assert(req("POST", "/asset/taskds-v1-default/metadata",
      """{"resolution": "10m"}""").statusCode() == 401)
    assert(req("POST", "/asset/taskds-v1-default/metadata",
      """{"resolution": "10m"}""", admin).statusCode() == 201)
    assert(req("POST", "/asset/taskds-v1-default/metadata",
      """{"resolution": "30m"}""", admin).statusCode() == 409)
    val merged = req("PATCH", "/asset/taskds-v1-default/metadata",
      """{"tags": ["test"]}""", admin)
    assert(merged.body().contains("\"resolution\":\"10m\"") &&
      merged.body().contains("\"tags\":[\"test\"]"), merged.body().take(200))
    assert(req("DELETE", "/asset/taskds-v1-default/metadata", "", admin)
      .statusCode() == 200)
    assert(req("DELETE", "/asset/taskds-v1-default/metadata", "", admin)
      .statusCode() == 404)
    assert(get("/asset/no-such/metadata").statusCode() == 404)
    // ------------------------------------------------- field metadata
    val fields = get("/asset/taskds-v1-default/fields")
    assert(fields.statusCode() == 200 &&
      fields.body().contains("\"name\":\"id\"") &&
      fields.body().contains("\"is_feature_info\":true"), fields.body().take(300))
    assert(get("/asset/taskds-v1-default/fields/nope").statusCode() == 404)
    val fpatch = req("PATCH", "/asset/taskds-v1-default/fields/name",
      """{"alias": "Display name", "is_filter": false}""", admin)
    assert(fpatch.statusCode() == 200 &&
      fpatch.body().contains("\"alias\":\"Display name\""), fpatch.body().take(300))
    val fget = get("/asset/taskds-v1-default/fields/name")
    assert(fget.body().contains("\"alias\":\"Display name\"") &&
      fget.body().contains("\"is_filter\":false"), fget.body().take(300))
    // ------------------------------------------------- asset deletion
    assert(req("DELETE", "/asset/taskds-v1-default", "", admin).statusCode() == 409)
    // version deletion cascades per-asset state: a recreated version
    // (deterministic asset ids) must not inherit metadata, field
    // overrides, or task records
    assert(req("POST", "/asset/taskds-v1-default/metadata",
      """{"resolution": "1m"}""", admin).statusCode() == 201)
    assert(req("DELETE", "/dataset/taskds/v1", "", admin).statusCode() == 200)
    assert(req("PUT", "/dataset/taskds/v1",
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("t.csv")}"]}}""",
      admin).statusCode() == 202)
    tries = 0
    while (tries < 120 && get("/dataset/taskds/v1").body().contains("pending")) {
      Thread.sleep(250); tries += 1
    }
    assert(get("/asset/taskds-v1-default/metadata").body() ==
      """{"data":{},"status":"success"}""")
    val ffresh = get("/asset/taskds-v1-default/fields/name")
    assert(!ffresh.body().contains("Display name"), ffresh.body().take(200))
    val tfresh = get("/asset/taskds-v1-default/tasks")
    assert(!tfresh.body().contains("extra_index"), tfresh.body().take(400))
  }

  test("vector ingest accepts FeatureCollection .geojson and .shp sources") {
    def req(method: String, path: String, body: String,
            hdrs: (String, String)*): HttpResponse[String] = {
      val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      hdrs.foreach { case (k, v) => rb.header(k, v) }
      client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
    }
    val admin = "Authorization" -> "Bearer test-admin"
    def createAndWait(ds: String, uri: String): Unit = {
      assert(req("PUT", s"/dataset/$ds/v1",
        s"""{"creation_options": {"source_uri": ["$uri"], "source_type": "vector"}}""",
        admin).statusCode() == 202)
      var tries = 0
      while (tries < 120 && get(s"/dataset/$ds/v1").body().contains("pending")) {
        Thread.sleep(250); tries += 1
      }
      assert(get(s"/dataset/$ds/v1").body().contains("\"status\":\"saved\""),
        get(s"/dataset/$ds/v1").body().take(500))
    }
    // whole-file FeatureCollection (the reference's test.geojson form)
    val src = java.nio.file.Files.createTempDirectory("fcsrc")
    java.nio.file.Files.writeString(src.resolve("fc.geojson"),
      """{"type":"FeatureCollection","features":[
        |  {"type":"Feature","geometry":{"type":"Point","coordinates":[5.5,50.0]},"properties":{"pid":1}},
        |  {"type":"Feature","geometry":{"type":"Point","coordinates":[6.5,51.0]},"properties":{"pid":2}},
        |  {"type":"Feature","geometry":{"type":"Point","coordinates":[7.5,52.0]},"properties":{"pid":3}}
        |]}""".stripMargin)
    createAndWait("fcds", s"file://${src.resolve("fc.geojson")}")
    val q = get("/dataset/fcds/v1/query/json?sql=" +
      java.net.URLEncoder.encode("SELECT count(*) AS cnt, sum(pid) AS s FROM data", "UTF-8"))
    assert(q.statusCode() == 200 && q.body().contains("\"cnt\":3") &&
      q.body().contains("\"s\":6"), q.body().take(300))
    // ESRI shapefile source URIs (the reader that s5 oracle-checks,
    // now wired into the creation DAG)
    import org.apache.spark.sql.types._
    graft.etl.Shapefile.writePoints(
      Seq(((10.0, 20.0), Seq(7L, "a")), ((11.0, 21.0), Seq(8L, "b"))),
      Seq("pid" -> LongType, "tag" -> StringType), src.resolve("pts"))
    createAndWait("shpds", s"file://${src.resolve("pts.shp")}")
    val q2 = get("/dataset/shpds/v1/query/json?sql=" +
      java.net.URLEncoder.encode(
        "SELECT count(*) AS cnt, sum(pid) AS s FROM data", "UTF-8"))
    assert(q2.statusCode() == 200 && q2.body().contains("\"cnt\":2") &&
      q2.body().contains("\"s\":15"), q2.body().take(300))
    // the features route works over the shapefile-created version
    val hit = get("/dataset/shpds/v1/features?lat=20.0&lng=10.0&z=10")
    assert(hit.statusCode() == 200 && hit.body().contains("\"pid\":7") &&
      !hit.body().contains("\"pid\":8"), hit.body().take(300))
  }

  test("nasa_viirs_fire_alerts features route applies the date window") {
    def req(method: String, path: String, body: String,
            hdrs: (String, String)*): HttpResponse[String] = {
      val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      hdrs.foreach { case (k, v) => rb.header(k, v) }
      client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
    }
    val admin = "Authorization" -> "Bearer test-admin"
    val src = java.nio.file.Files.createTempDirectory("viirssrc")
    java.nio.file.Files.writeString(src.resolve("v.ndjson"),
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[10.001,45.0]},"properties":{"pid":1,"alert__date":"2020-01-05"}}
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[10.002,45.0]},"properties":{"pid":2,"alert__date":"2024-06-01"}}
        |""".stripMargin)
    assert(req("PUT", "/dataset/nasa_viirs_fire_alerts/v202001",
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("v.ndjson")}"],
         |  "source_type": "vector"}}""".stripMargin, admin).statusCode() == 202)
    var tries = 0
    while (tries < 120 &&
      get("/dataset/nasa_viirs_fire_alerts/v202001").body().contains("pending")) {
      Thread.sleep(250); tries += 1
    }
    // explicit window: only the 2020 alert matches
    val w = get("/dataset/nasa_viirs_fire_alerts/v202001/features" +
      "?lat=45.0&lng=10.0&z=10&start_date=2020-01-01&end_date=2020-12-31")
    assert(w.statusCode() == 200, w.body().take(300))
    assert(w.body().contains("\"pid\":1") && !w.body().contains("\"pid\":2"),
      w.body().take(300))
    // default window (trailing week): neither historical alert matches
    val d = get("/dataset/nasa_viirs_fire_alerts/v202001/features?lat=45.0&lng=10.0&z=10")
    assert(d.statusCode() == 200 && d.body().contains("\"data\":[]"), d.body().take(300))
    // a future end date is rejected (features.py end_date description)
    assert(get("/dataset/nasa_viirs_fire_alerts/v202001/features" +
      "?lat=45.0&lng=10.0&z=10&start_date=2020-01-01&end_date=2999-01-01")
      .statusCode() == 422)
    assert(get("/dataset/nasa_viirs_fire_alerts/v202001/features" +
      "?lat=45.0&lng=10.0&z=10&start_date=not-a-date").statusCode() == 422)
    // regex-valid but calendar-invalid dates are 422, not 500
    assert(get("/dataset/nasa_viirs_fire_alerts/v202001/features" +
      "?lat=45.0&lng=10.0&z=10&start_date=2020-01-01&end_date=2020-02-30")
      .statusCode() == 422)
  }

  test("version terminal-status race: concurrent PATCH-failed is never " +
       "downgraded and never stuck pending (100+ iterations)") {
    // Stress pin for the c28b4b4 fix (ApiServer.writeTerminal under
    // catalogLock, never-downgrade): a client PATCHes a DAG task
    // `failed` while the creation job races toward its terminal
    // write. In EVERY interleaving the failed mark must win — if the
    // PATCH lands before the terminal write, never-downgrade keeps
    // it; if after, taskPatch re-marks the version — and the version
    // must always reach a terminal status (the pre-fix exception
    // path left it 'pending' forever). Iterations run in pairs to
    // match the job registry's 2-thread pool.
    def req(method: String, path: String, body: String,
            hdrs: (String, String)*): HttpResponse[String] = {
      val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      hdrs.foreach { case (k, v) => rb.header(k, v) }
      client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
    }
    val admin = "Authorization" -> "Bearer test-admin"
    val src = java.nio.file.Files.createTempDirectory("racesrc")
    java.nio.file.Files.writeString(src.resolve("t.csv"), "id,name\n1,a\n2,b\n")
    val putBody =
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("t.csv")}"]}}"""
    def statusOf(ds: String): String =
      "\"status\":\"(\\w+)\"".r.findFirstMatchIn(get(s"/dataset/$ds/v1").body())
        .map(_.group(1)).getOrElse("")
    val iters = 110
    var patched = 0
    for (batch <- 0 until (iters + 1) / 2) {
      val pair = Seq(batch * 2, batch * 2 + 1).filter(_ < iters).map { i =>
        val ds = s"raceds$i"
        assert(req("PUT", s"/dataset/$ds/v1", putBody, admin).statusCode() == 202)
        // racer: grab the first DAG task id the moment
        // registerDagTasks publishes it and PATCH it failed — aimed
        // at the window between task registration and writeTerminal
        val patchCode = new java.util.concurrent.atomic.AtomicInteger(-1)
        val racer = new Thread(() => {
          var tid: String = null
          var spins = 0
          while (tid == null && spins < 8000) {
            val b = get(s"/asset/$ds-v1-default/tasks").body()
            "\"task_id\":\"([0-9a-f-]+)\"".r.findFirstMatchIn(b) match {
              case Some(m) => tid = m.group(1)
              case None => spins += 1; Thread.sleep(1)
            }
          }
          if (tid != null)
            patchCode.set(req("PATCH", s"/task/$tid",
              """{"change_log": [{"task": "racer", "status": "failed", "detail": "race"}]}""",
              admin).statusCode())
        })
        racer.start()
        (ds, racer, patchCode)
      }
      pair.foreach { case (ds, racer, patchCode) =>
        racer.join(30000)
        // never stuck: the version must reach a terminal status
        var status = statusOf(ds)
        var tries = 0
        while (tries < 400 && (status == "pending" || status.isEmpty)) {
          Thread.sleep(25); status = statusOf(ds); tries += 1
        }
        assert(status == "saved" || status == "failed",
          s"$ds stuck at '$status' after creation")
        if (patchCode.get() == 200) {
          // never downgraded: once the failed PATCH is acknowledged,
          // the version converges to failed and STAYS there
          var s2 = statusOf(ds)
          var t2 = 0
          while (t2 < 400 && s2 != "failed") {
            Thread.sleep(25); s2 = statusOf(ds); t2 += 1
          }
          assert(s2 == "failed",
            s"$ds: PATCH-failed acknowledged but status is '$s2'")
          assert(statusOf(ds) == "failed", s"$ds downgraded after failed")
          patched += 1
        }
        req("DELETE", s"/dataset/$ds/v1", "", admin)
        req("DELETE", s"/dataset/$ds", "", admin)
      }
    }
    // the racer must actually land its PATCH in (nearly) every
    // iteration — a vacuous race proves nothing
    assert(patched >= iters * 9 / 10,
      s"racer landed only $patched/$iters failed PATCHes")
  }

  test("58s-class query deadline: slow query → 524 envelope AND the Spark job dies " +
    "(globals.py:143 SQL_REQUEST_TIMEOUT, main.py:53-64 timeout handler)") {
    // a genuinely slow distributed job: an interruptible per-row sleep
    // over lineitem (~6k rows × 5ms on 2 threads ≈ 15 s of task time)
    spark.udf.register("graft_spec_slow",
      (x: Long) => { Thread.sleep(5L); x })
    val slow = new ApiServer(spark, "/root/testdata/sf0.001",
      sqlRequestTimeoutSec = 2)
    val p = slow.start()
    try {
      val t0 = System.nanoTime()
      val r = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$p/dataset/lineitem/v1/query/json?sql=" +
          java.net.URLEncoder.encode(
            "SELECT sum(graft_spec_slow(l_orderkey)) AS s FROM data", "UTF-8")))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      // the DB command timeout surfaces through the reference's global
      // AsyncTimeoutError handler: 524, status "error", fixed message
      assert(r.statusCode() == 524, s"${r.statusCode()} ${r.body().take(200)}")
      assert(r.body() == """{"status":"error","message":"A timeout occurred while processing the request. Request canceled."}""")
      assert(elapsedSec < 15.0, s"deadline did not bound the request: $elapsedSec s")
      // the Spark job must actually be cancelled, not orphaned: every
      // job in the request's group leaves the RUNNING state
      val group = slow.lastCancelledGroup.getOrElse(
        fail("no cancelled job group recorded"))
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.currentTimeMillis() + 10000
      def liveJobs() = tracker.getJobIdsForGroup(group).filter { id =>
        tracker.getJobInfo(id).exists(
          _.status == org.apache.spark.JobExecutionStatus.RUNNING)
      }
      while (liveJobs().nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(liveJobs().isEmpty, "cancelled group still has RUNNING jobs")
      // the pool thread is released: a fast query on the same server
      // answers promptly after the timeout
      val ok = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$p/dataset/nation/v1/query/json?sql=" +
          java.net.URLEncoder.encode("SELECT count(*) AS cnt FROM data", "UTF-8")))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 200 && ok.body().contains("\"cnt\":25"))
    } finally slow.stop()
  }

  test("raster-path timeout maps to 500 'Query took too long to process.' (queries.py:596-599)") {
    // timeout 0 expires every deadline immediately — pins the raster
    // envelope without needing a genuinely slow zonal
    val instant = new ApiServer(spark, "/root/testdata/sf0.001",
      sqlRequestTimeoutSec = 0)
    val p = instant.start()
    try {
      val gj = """{"type":"Polygon","coordinates":[[[0.3513,40.6821],[3.1242,40.9753],[3.7081,43.2517],[0.8472,42.8391],[0.3513,40.6821]]]}"""
      val created = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$p/geostore"))
        .POST(HttpRequest.BodyPublishers.ofString(gj)).build(),
        HttpResponse.BodyHandlers.ofString())
      val gid = "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(created.body()).get.group(1)
      val r = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$p/analysis/zonal?geostore_id=$gid&group_by=landcover&tcd_threshold=30"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 500, s"${r.statusCode()} ${r.body().take(200)}")
      assert(r.body() == """{"status":"error","message":"Query took too long to process."}""")
      // and the tabular path under the same zero deadline reads 524
      val t = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$p/dataset/nation/v1/query/json?sql=" +
          java.net.URLEncoder.encode("SELECT count(*) AS cnt FROM data", "UTF-8")))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(t.statusCode() == 524)
    } finally instant.stop()
  }

  test("fairness under saturation: /ping stays fast while every query slot " +
    "is occupied by slow queries (gunicorn_conf.py:5-30 async-loop parity)") {
    // ApiLoad measured the old fixed-8 exchange pool putting /ping's
    // p99 at 2.3-4.9 s under 16-32 concurrent queries (cheap routes
    // queued behind Spark-bound ones). Exchanges are now unbounded
    // (cheap) and only Spark work takes a bounded slot, so a fully
    // saturated query pool must leave /ping instant.
    spark.udf.register("graft_spec_slow2",
      (x: Long) => { Thread.sleep(10L); x })
    val slow = new ApiServer(spark, "/root/testdata/sf0.001",
      sqlRequestTimeoutSec = 6)
    val p = slow.start()
    try {
      val slowPath = s"/dataset/lineitem/v1/query/json?sql=" +
        java.net.URLEncoder.encode(
          "SELECT sum(graft_spec_slow2(l_orderkey)) AS s FROM data", "UTF-8")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
      val futs = (0 until 10).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = client.send(HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$p$slowPath")).GET().build(),
            HttpResponse.BodyHandlers.ofString()).statusCode()
        })
      }
      Thread.sleep(1500) // let all 8 slots fill (2 more queue on the slot take)
      val t0 = System.nanoTime()
      val ping = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$p/ping")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val pingSec = (System.nanoTime() - t0) / 1e9
      assert(ping.statusCode() == 200)
      assert(pingSec < 3.0,
        s"/ping took $pingSec s while query slots were saturated")
      // every slow query times out with the tabular envelope (the two
      // beyond the 8 slots exercise the slot-wait path) and the slots
      // come back: a fast query answers 200 afterwards
      val codes = futs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      assert(codes.forall(_ == 524), s"expected all 524, got $codes")
      val ok = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$p/dataset/nation/v1/query/json?sql=" +
          java.net.URLEncoder.encode("SELECT count(*) AS cnt FROM data", "UTF-8")))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 200 && ok.body().contains("\"cnt\":25"),
        s"slots not released: ${ok.statusCode()} ${ok.body().take(120)}")
    } finally slow.stop()
  }

  test("interactive queries run in a bounded FAIR scheduler pool " +
    "(spark.scheduler.pool = graft-api-slot-N on every job)") {
    val pools = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = js.properties.getProperty("spark.scheduler.pool")
        val g = js.properties.getProperty("spark.jobGroup.id")
        if (g != null && g.startsWith("graft-api-")) pools.add(String.valueOf(p))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = get("/dataset/nation/v1/query/json?sql=" +
        java.net.URLEncoder.encode("SELECT count(*) AS cnt FROM data", "UTF-8"))
      assert(r.statusCode() == 200)
      val deadline = System.currentTimeMillis() + 10000
      while (pools.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50) // listener bus is async
      import scala.jdk.CollectionConverters._
      assert(pools.asScala.nonEmpty, "no graft-api job observed")
      assert(pools.asScala.forall(_.matches("graft-api-slot-\\d+")),
        s"interactive jobs not pool-tagged: ${pools.asScala}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("geostore create + fetch round-trip with content-addressed id") {
    val gj = """{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]]]}"""
    val created = post("/geostore", gj)
    assert(created.statusCode() == 201)
    val id = "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
      .findFirstMatchIn(created.body()).get.group(1)
    assert(id.length == 36)
    val fetched = get(s"/geostore/$id")
    assert(fetched.statusCode() == 200)
    assert(fetched.body().contains(gj))
    assert(get("/geostore/00000000-0000-0000-0000-000000000000").statusCode() == 404)
  }

  test("concurrent /analysis/zonal over distinct one-tile AOIs: every body " +
    "equals that AOI's serial body byte for byte") {
    // one AOI inside each diagonal tile of the synthetic 4x4 one-degree
    // grid (lon [0,4), lat [40,44)), so each answer is different
    val gids = (0 until 4).map { t =>
      val (x0, y0) = (t + 0.15 + 0.05 * t, 43 - t + 0.2)
      val (x1, y1) = (x0 + 0.5, y0 + 0.6)
      val gj = s"""{"type":"Polygon","coordinates":[[[$x0,$y0],[$x1,$y0],[$x1,$y1],[$x0,$y1],[$x0,$y0]]]}"""
      "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(post("/geostore", gj).body()).get.group(1)
    }
    def zonal(gid: String) = get(s"/analysis/zonal?geostore_id=$gid&group_by=landcover")
    val serial = gids.map { g =>
      val r = zonal(g)
      assert(r.statusCode() == 200, r.body().take(300))
      r.body()
    }
    assert(serial.distinct.size == gids.size, "AOIs must give distinct answers")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(gids.size)
    try {
      val wrong = (0 until 6).flatMap { round =>
        val start = new java.util.concurrent.CountDownLatch(1)
        val futs = gids.indices.map { i =>
          pool.submit(new java.util.concurrent.Callable[(Int, String)] {
            def call(): (Int, String) = {
              start.await()
              val r = zonal(gids(i))
              (r.statusCode(), r.body())
            }
          })
        }
        start.countDown()
        futs.zipWithIndex.collect {
          case (f, i) if f.get(60, java.util.concurrent.TimeUnit.SECONDS) != (200, serial(i)) =>
            s"round $round AOI $i"
        }
      }
      assert(wrong.isEmpty, s"answers differ from the serial body: $wrong")
    } finally pool.shutdown()
  }

  test("concurrent same-shape tabular queries and raster-SQL POSTs over " +
    "distinct AOIs: every body equals its serial body byte for byte") {
    // the tabular requests differ only in numeric WHERE constants, so
    // each shape runs one shared compiled class with per-request
    // parameters; the raster POSTs each name one diagonal tile of the
    // synthetic 4x4 one-degree grid (lon [0,4), lat [40,44))
    val enc = (q: String) => java.net.URLEncoder.encode(q, "UTF-8")
    val aggs = (0 until 4).map { i =>
      "/dataset/lineitem/v1/query/json?sql=" + enc(
        "SELECT l_returnflag, count(*) AS n, max(l_extendedprice) AS mx FROM data " +
          s"WHERE l_quantity >= ${5 + 10 * i}.0 AND l_discount <= 0.0${i + 3} " +
          "GROUP BY l_returnflag ORDER BY l_returnflag")
    }
    val lookups = Seq(3, 17, 42, 99).map { k =>
      "/dataset/customer/v1/query/json?sql=" +
        enc(s"SELECT c_custkey, c_name, c_acctbal FROM data WHERE c_custkey = $k")
    }
    val rasterSql = "SELECT landcover_raster__class AS cls, count(*) AS n " +
      "FROM data GROUP BY landcover_raster__class ORDER BY cls"
    val aois = (0 until 4).map { t =>
      val (x0, y0) = (t + 0.15 + 0.05 * t, 43 - t + 0.2)
      val (x1, y1) = (x0 + 0.5, y0 + 0.6)
      s"""{"sql":"$rasterSql","geometry":{"type":"Polygon","coordinates":[[[$x0,$y0],[$x1,$y0],[$x1,$y1],[$x0,$y1],[$x0,$y0]]]}}"""
    }
    val calls: Seq[() => HttpResponse[String]] =
      aggs.map(p => () => get(p)) ++ lookups.map(p => () => get(p)) ++
        aois.map(b => () => post("/dataset/landcover_raster/v1/query/json", b))
    val serial = calls.map { c =>
      val r = c()
      assert(r.statusCode() == 200, r.body().take(300))
      r.body()
    }
    Seq(0, 4, 8).foreach { k =>
      assert(serial.slice(k, k + 4).distinct.size == 4, s"requests $k-${k + 3} must give distinct answers")
    }
    val threads = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val wrong = (0 until 6).flatMap { round =>
        val start = new java.util.concurrent.CountDownLatch(1)
        // thread i runs one aggregate, one lookup and one raster POST,
        // a different trio each round
        val futs = (0 until threads).map { i =>
          val mine = Seq(0, 4, 8).map(_ + (i + round) % 4)
          pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
            def call(): Seq[Int] = {
              start.await()
              mine.filter { j =>
                val r = calls(j)()
                (r.statusCode(), r.body()) != ((200, serial(j)))
              }
            }
          })
        }
        start.countDown()
        futs.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS)).map(j => s"round $round request $j")
      }
      assert(wrong.isEmpty, s"answers differ from the serial body: $wrong")
    } finally pool.shutdown()
  }

  test("request latency carries no Nagle/delayed-ACK stall: sequential " +
    "GET /ping and 422 POSTs on one client each take well under 40 ms") {
    // the 422 (no sql) is answered before any Spark work, so both
    // medians time the HTTP round trip alone; with Nagle on the
    // response body waits for the client's delayed ACK (~40 ms)
    def median(call: () => HttpResponse[String], code: Int): Double = {
      val ms = (0 until 30).map { _ =>
        val t0 = System.nanoTime()
        val r = call()
        assert(r.statusCode() == code, r.body().take(200))
        (System.nanoTime() - t0) / 1e6
      }.sorted
      ms(ms.size / 2)
    }
    val ping = median(() => get("/ping"), 200)
    val post422 = median(() => post("/dataset/nation/v1/query/json", "{}"), 422)
    assert(ping < 15.0, s"GET /ping median $ping ms")
    assert(post422 < 15.0, s"POST 422 median $post422 ms")
  }

  test("serving writes no session state: conf and function registry are " +
    "unchanged by a tabular query, a zonal analysis and a raster SQL query") {
    // a server on a session of its own, so the snapshots see only its
    // requests; per-version temp views are catalog state, out of scope
    val s = spark.newSession()
    val tinySf = new java.io.File(
      new java.io.File(graft.Bench.envSfDir(Map.empty)).getParentFile, "sf0.001").getPath
    val srv = new ApiServer(s, tinySf)
    val p = srv.start()
    def send(b: HttpRequest.Builder) = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    def at(path: String) = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
    try {
      val gj = """{"type":"Polygon","coordinates":[[[0.3513,40.6821],[3.1242,40.9753],[3.7081,43.2517],[0.8472,42.8391],[0.3513,40.6821]]]}"""
      val id = "\"gfw_geostore_id\":\"([0-9a-f-]+)\"".r
        .findFirstMatchIn(send(at("/geostore").POST(HttpRequest.BodyPublishers.ofString(gj)))
          .body()).get.group(1)
      val reg = s.sessionState.functionRegistry
      // ExpressionInfo compares by reference: a re-registered function shows
      def snapshot() = (s.conf.getAll, reg.listFunction().map(f => f -> reg.lookupFunction(f)).toMap)
      val (conf0, fns0) = snapshot()
      val enc = (q: String) => java.net.URLEncoder.encode(q, "UTF-8")
      Seq(
        "/dataset/nation/v1/query/json?sql=" + enc("SELECT count(*) AS cnt FROM data"),
        s"/analysis/zonal?geostore_id=$id&group_by=landcover&tcd_threshold=30",
        s"/dataset/landcover_raster/v1/query/json?geostore_id=$id&sql=" +
          enc("SELECT sum(area__ha) AS area__ha FROM data")
      ).foreach { path =>
        val r = send(at(path).GET())
        assert(r.statusCode() == 200, s"$path: ${r.body().take(300)}")
      }
      val (conf1, fns1) = snapshot()
      val confDiff = (conf0.toSet diff conf1.toSet) ++ (conf1.toSet diff conf0.toSet)
      assert(confDiff.isEmpty, s"conf written: $confDiff")
      val fnDiff = (fns0.keySet ++ fns1.keySet).filter(f => fns0.get(f) != fns1.get(f))
      assert(fnDiff.isEmpty, s"function registry written: $fnDiff")
    } finally srv.stop()
  }

  private def send(method: String, path: String, body: String,
                   hdrs: (String, String)*): HttpResponse[String] = {
    val rb = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .method(method, HttpRequest.BodyPublishers.ofString(body))
    hdrs.foreach { case (k, v) => rb.header(k, v) }
    client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
  }

  /** Poll `GET /dataset/{d}/{v}` until its status leaves "pending". */
  private def awaitVersion(path: String): String = {
    var body = get(path).body()
    var tries = 0
    while (tries < 120 && body.contains("\"status\":\"pending\"")) {
      Thread.sleep(250); body = get(path).body(); tries += 1
    }
    body
  }

  test("version routes given `latest` read and write the concrete version") {
    val admin = "Authorization" -> "Bearer test-admin"
    val src = java.nio.file.Files.createTempDirectory("latestsrc")
    java.nio.file.Files.writeString(src.resolve("a.csv"), "id,v\n1,x\n2,y\n")
    java.nio.file.Files.writeString(src.resolve("b.csv"), "id,v\n3,z\n")
    def sources(f: String) =
      s"""{"creation_options": {"source_uri": ["file://${src.resolve(f)}"]}}"""
    assert(send("PUT", "/dataset/latestds/v1", sources("a.csv"), admin).statusCode() == 202)
    assert(awaitVersion("/dataset/latestds/v1").contains("\"status\":\"saved\""))
    // the alias names whichever version is tagged: no version takes its name
    assert(send("PUT", "/dataset/latestds/latest", sources("a.csv"), admin).statusCode() == 400)
    val count = "/dataset/latestds/v1/query/json?sql=" +
      java.net.URLEncoder.encode("SELECT count(*) AS cnt FROM data", "UTF-8")
    // metadata written through the alias is the concrete version's
    assert(send("POST", "/dataset/latestds/latest/metadata", """{"title": "Latest"}""", admin)
      .statusCode() == 201)
    val meta = get("/dataset/latestds/v1/metadata")
    assert(meta.statusCode() == 200 && meta.body().contains("\"title\":\"Latest\""),
      meta.body().take(300))
    // an append through the alias lands in the concrete version's table
    val app = send("POST", "/dataset/latestds/latest/append", sources("b.csv"), admin)
    assert(app.statusCode() == 202, app.body().take(300))
    val appended = awaitVersion("/dataset/latestds/v1")
    assert(appended.contains("\"status\":\"saved\""), appended.take(500))
    assert(get(count).body().contains("\"cnt\":3"), get(count).body().take(300))
    // PATCH through the alias untags the concrete version
    val untag = send("PATCH", "/dataset/latestds/latest", """{"is_latest": false}""", admin)
    assert(untag.statusCode() == 200 && untag.body().contains("\"is_latest\":false"),
      untag.body().take(300))
    assert(get("/dataset/latestds/v1").body().contains("\"is_latest\":false"))
    assert(get("/dataset/latestds/latest").statusCode() == 404)
    assert(send("PATCH", "/dataset/latestds/v1", """{"is_latest": true}""", admin)
      .statusCode() == 200)
    // DELETE through the alias deletes the concrete version
    val del = send("DELETE", "/dataset/latestds/latest", "", admin)
    assert(del.statusCode() == 200 && del.body().contains("\"status\":\"deleted\""),
      del.body().take(300))
    assert(get("/dataset/latestds/v1").statusCode() == 404)
    assert(get(count).statusCode() == 404, get(count).body().take(300))
    assert(send("DELETE", "/dataset/latestds", "", admin).statusCode() == 200)
  }

  test("DELETE /dataset answers 409 while a version's first creation is pending") {
    val admin = "Authorization" -> "Bearer test-admin"
    val src = java.nio.file.Files.createTempDirectory("pendsrc")
    java.nio.file.Files.writeString(src.resolve("a.csv"), "id,v\n1,x\n")
    assert(send("PUT", "/dataset/pendds", """{"metadata": {"title": "Pending"}}""", admin)
      .statusCode() == 201)
    assert(send("PUT", "/dataset/pendds/v1",
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("a.csv")}"]}}""",
      admin).statusCode() == 202)
    val blocked = send("DELETE", "/dataset/pendds", "", admin)
    assert(blocked.statusCode() == 409 && blocked.body().contains("versions registered"),
      blocked.body().take(300))
    assert(awaitVersion("/dataset/pendds/v1").contains("\"status\":\"saved\""))
    // the record the creation finished into is the one that was created
    val ds = get("/dataset/pendds")
    assert(ds.body().contains("\"title\":\"Pending\"") &&
      ds.body().contains("\"versions\":[\"v1\"]"), ds.body().take(300))
    assert(send("DELETE", "/dataset/pendds/v1", "", admin).statusCode() == 200)
    assert(send("DELETE", "/dataset/pendds", "", admin).statusCode() == 200)
  }

  test("a failed first creation stays a record: its status and tasks, " +
    "then DELETE like any version") {
    val admin = "Authorization" -> "Bearer test-admin"
    val missing = java.nio.file.Files.createTempDirectory("failsrc").resolve("absent.csv")
    assert(send("PUT", "/dataset/failds/v1",
      s"""{"creation_options": {"source_uri": ["file://$missing"]}}""", admin)
      .statusCode() == 202)
    val body = awaitVersion("/dataset/failds/v1")
    assert(body.contains("\"status\":\"failed\""), body.take(500))
    // it serves nothing, yet its creation's tasks stay reachable
    assert(get("/dataset/failds/v1/fields").statusCode() == 404)
    val step = "\"task\":\"(\\w+)\"".r.findFirstMatchIn(body).get.group(1)
    val tid = graft.geo.GeoExpressions.Uuid5.of("oid", s"task:failds/v1/$step")
    assert(get(s"/task/$tid").statusCode() == 200)
    assert(send("DELETE", "/dataset/failds", "", admin).statusCode() == 409)
    assert(send("DELETE", "/dataset/failds/v1", "", admin).statusCode() == 200)
    assert(get(s"/task/$tid").statusCode() == 404)
    assert(get("/dataset/failds/v1").statusCode() == 404)
    assert(send("DELETE", "/dataset/failds", "", admin).statusCode() == 200)
  }

  test("DELETE /dataset/{d}/{v} answers 409 while its creation is pending") {
    val admin = "Authorization" -> "Bearer test-admin"
    val src = java.nio.file.Files.createTempDirectory("pendvsrc")
    java.nio.file.Files.writeString(src.resolve("a.csv"), "id,v\n1,x\n")
    assert(send("PUT", "/dataset/pendvds/v1",
      s"""{"creation_options": {"source_uri": ["file://${src.resolve("a.csv")}"]}}""",
      admin).statusCode() == 202)
    val blocked = send("DELETE", "/dataset/pendvds/v1", "", admin)
    assert(blocked.statusCode() == 409 && blocked.body().contains("in progress"),
      blocked.body().take(300))
    assert(awaitVersion("/dataset/pendvds/v1").contains("\"status\":\"saved\""))
    assert(send("DELETE", "/dataset/pendvds/v1", "", admin).statusCode() == 200)
    assert(send("DELETE", "/dataset/pendvds", "", admin).statusCode() == 200)
  }

  test("PUT /dataset/{d}/{v} answers 409 when another dataset's version " +
    "has the same asset id prefix") {
    val admin = "Authorization" -> "Bearer test-admin"
    val src = java.nio.file.Files.createTempDirectory("collsrc")
    java.nio.file.Files.writeString(src.resolve("a.csv"), "id,v\n1,x\n")
    val body = s"""{"creation_options": {"source_uri": ["file://${src.resolve("a.csv")}"]}}"""
    assert(send("PUT", "/dataset/coll-a/b", body, admin).statusCode() == 202)
    // `coll` + `a-b` mints `coll-a-b-default`, the id `coll-a` + `b` holds
    val clash = send("PUT", "/dataset/coll/a-b", body, admin)
    assert(clash.statusCode() == 409 && clash.body().contains("coll-a"), clash.body().take(300))
    assert(get("/dataset/coll/a-b").statusCode() == 404)
    assert(awaitVersion("/dataset/coll-a/b").contains("\"status\":\"saved\""))
    assert(get("/asset/coll-a-b-default").body().contains("\"dataset\":\"coll-a\""))
    assert(send("DELETE", "/dataset/coll-a/b", "", admin).statusCode() == 200)
    assert(send("DELETE", "/dataset/coll-a", "", admin).statusCode() == 200)
  }

  test("a download whose query fails after the 200 went out ends in a broken " +
    "transfer, not a complete response") {
    // ANSI cast failure on rows past the first ones
    val sql = "SELECT l_orderkey, CASE WHEN l_orderkey > 1000 " +
      "THEN CAST('x' AS INT) ELSE 0 END AS c FROM data"
    for (fmt <- Seq("csv", "json")) {
      val path = s"/dataset/lineitem/v1/download/$fmt?sql=" +
        java.net.URLEncoder.encode(sql, "UTF-8")
      val r = scala.util.Try(get(path))
      assert(r.isFailure && r.failed.get.isInstanceOf[java.io.IOException],
        s"$fmt: ${r.map(x => s"${x.statusCode()} ${x.body().takeRight(200)}")}")
    }
    assert(get("/ping").statusCode() == 200)
  }
}
