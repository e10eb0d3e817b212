package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sinks.Sinks
import graft.sqlgate.{Scrutinizer, SqlGateException}
import graft.{Tables, catalog => cat}
import org.apache.spark.sql.SparkSession

/** In-memory API-key registry (reference `app/crud/api_keys` +
  * `authentication/api_keys.py`): a key is valid when it exists, is
  * unexpired, and — if it carries domain restrictions — the request's
  * Origin/Referer domain matches one (wildcards per `_to_regex`). */
final class ApiKeys {
  private val keys =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[String], Option[Long])]

  def create(domains: Seq[String] = Nil, expiresOnMs: Option[Long] = None): String = {
    val id = java.util.UUID.randomUUID().toString
    keys.put(id, (domains, expiresOnMs))
    id
  }

  private def toRegex(domain: String) =
    ("^" + domain.replace(".", "\\.").replace("*", ".*") + "$").r

  private def extractDomain(url: String): String = {
    val noScheme = url.replaceFirst("^[a-z]+://", "")
    noScheme.split("[/:]")(0)
  }

  def get(key: String): Option[(Seq[String], Option[Long])] = keys.get(key)

  def list: Seq[(String, Seq[String], Option[Long])] =
    keys.toSeq.map { case (k, (d, e)) => (k, d, e) }.sortBy(_._1)

  def delete(key: String): Option[(Seq[String], Option[Long])] = keys.remove(key)

  /** `api_key_is_valid` (`authentication/api_keys.py:62-95`). The
    * reference's elif-chain falls THROUGH to the referrer check when
    * an Origin header is present but non-matching — either header
    * matching validates. */
  def isValid(key: String, origin: Option[String], referrer: Option[String]): Boolean =
    keys.get(key).exists { case (domains, expires) =>
      def matches(v: String): Boolean =
        domains.exists(d => toRegex(d).findFirstIn(extractDomain(v)).isDefined)
      val domainOk =
        if (domains.isEmpty) true
        else origin.exists(matches) || referrer.exists(matches)
      domainOk && expires.forall(_ > System.currentTimeMillis())
    }
}

/** Zoom → search-radius table for the point feature lookup
  * (`features.py:177-218`: tippecanoe vector-tile precision per zoom
  * level × scale factor 50, in metres). */
object FeatureLookup {
  private val precision: Map[Int, Double] = Map(
    0 -> 10000, 1 -> 5000, 2 -> 2500, 3 -> 1250, 4 -> 600, 5 -> 300,
    6 -> 150, 7 -> 80, 8 -> 40, 9 -> 20, 10 -> 10, 11 -> 5, 12 -> 2,
    13 -> 1, 14 -> 0.5, 15 -> 0.25, 16 -> 0.15, 17 -> 0.08, 18 -> 0.04,
    19 -> 0.02, 20 -> 0.01, 21 -> 0.005, 22 -> 0.0025)

  def bufferMeters(zoom: Int): Option[Double] = precision.get(zoom).map(_ * 50)
}

/** The HTTP face of the engine (SURVEY §3.1, §7.1 #5): dataset-version
  * query endpoints with JSEND envelopes, the deprecated-path 308
  * redirect, field introspection, and the content-addressed geostore.
  * Zero dependencies — JDK HttpServer; the engine behind it is the
  * same `Scrutinizer` → Catalyst path the tests drive.
  *
  * Routes (reference: `app/routes/datasets/queries.py`,
  * `app/routes/datasets/versions.py:377-403`, `app/crud/geostore.py`):
  *   - GET /dataset/{d}/{v}/query            → 308 to /query/json
  *   - GET /dataset/{d}/{v}/query/json?sql=… → JSEND rows
  *   - GET /dataset/{d}/{v}/query/csv?sql=…  → CSV (QUOTE_NONNUMERIC)
  *   - GET /dataset/{d}/{v}/fields           → field metadata
  *   - POST /geostore  (GeoJSON body)        → {gfw_geostore_id, …}
  *   - GET /geostore/{id}                    → stored GeoJSON
  * Errors: a handler refuses a request by throwing a `Reject`, and
  * `handle` renders it and every other failure as one JSEND error
  * envelope (SQL-gate rejections → 400 with the reference's error
  * strings; unknown dataset/version → 404). 2-hour Cache-Control on
  * query responses (`queries.py:155-158`).
  *
  * Every dataset, version and asset record, with its lifecycle state,
  * metadata documents and tasks, lives in one immutable
  * [[graft.catalog.Catalog]] snapshot that writes swap through
  * `update`. Outside it stay the geostore, the tree-cover-loss
  * resources, the background jobs and the API keys.
  */
final class ApiServer(spark: SparkSession, sfDir: String, port: Int = 0,
                      nonDownloadable: Set[String] = Set.empty,
                      apiKeys: Option[ApiKeys] = None,
                      protectedDatasets: Set[String] = Set.empty,
                      adminTokens: Set[String] = Set.empty,
                      rwGeostore: Option[String => Option[String]] = None,
                      allowedSourceRoots: Seq[String] = Nil,
                      sqlRequestTimeoutSec: Int =
                        sys.env.getOrElse("GRAFT_SQL_REQUEST_TIMEOUT_SEC", "58").toInt) {
  import ApiServer.Reject

  // the native functions and the optimizer-rule exclusion go in once,
  // here: requests only read the shared registry and conf
  graft.functions.GraftFunctions.install(spark)
  Tables.register(spark, sfDir)

  /** Directories a PUT body's `source_uri` (or a batch query's `uri`)
    * may point into — the reference only loads from its own buckets;
    * an open path would let any writer read server-local files into a
    * queryable table. Defaults to the data dir and the JVM tmpdir
    * (where version targets and test fixtures live). */
  private val sourceRoots: Seq[java.nio.file.Path] =
    (if (allowedSourceRoots.nonEmpty) allowedSourceRoots
     else Seq(sfDir, sys.props("java.io.tmpdir")))
      .map(r => java.nio.file.Paths.get(r).toAbsolutePath.normalize)

  private def sourceAllowed(uri: String): Boolean = {
    val p = java.nio.file.Paths.get(uri.stripPrefix("file://"))
      .toAbsolutePath.normalize
    sourceRoots.exists(p.startsWith)
  }

  /** The catalog snapshot. A route reads it once per lookup; writes
    * swap it through `update`. */
  @volatile private var catalog = new cat.Catalog(Tables.all.map { t =>
    // geo-flavoured lake tables carry pre-built export assets the
    // shp/gpkg download routes 307-redirect to (reference S3 exports)
    val exports =
      if (t == "region") Seq(
        cat.Asset(s"$t-shp", cat.AssetType.ShapefileExport,
          s"$sfDir/exports/$t.shp.zip", isDefault = false),
        cat.Asset(s"$t-gpkg", cat.AssetType.GeopackageExport,
          s"$sfDir/exports/$t.gpkg", isDefault = false))
      else Nil
    cat.Dataset(t, Seq(cat.Version(t, "v1", isLatest = true,
      isDownloadable = !nonDownloadable.contains(t),
      assets = cat.Asset(s"$t-a1", cat.AssetType.DatabaseTable,
        s"$sfDir/$t.parquet", isDefault = true) +: exports)))
  } ++ graft.raster.SyntheticRasters.datasets)

  /** Pre-registered lake/raster dataset names — version creation must
    * not reuse them (a created version would otherwise masquerade as,
    * and its register step poison queries against, a builtin table). */
  private val builtinDatasets: Set[String] = catalog.datasets.map(_.name).toSet

  private val catalogLock = new Object

  /** Swap in `f(catalog)` and return it. Every write goes through here
    * under one lock: each is a read-modify-write of the immutable
    * snapshot, and two writers could otherwise each rebuild from the
    * same stale snapshot and lose the other's change. A `Reject` thrown
    * by `f` leaves the catalog as it was. */
  private def update(f: cat.Catalog => cat.Catalog): cat.Catalog =
    catalogLock.synchronized { catalog = f(catalog); catalog }

  private val geostore = scala.collection.concurrent.TrieMap.empty[String, String]

  /** RW-origin results memoized LRU-style, maxsize 128
    * (`app/utils/geostore.py:42-85` `@lru_cache(maxsize=128)`). */
  private val rwMemo =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Option[String]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Option[String]]): Boolean = size() > 128
      })

  /** Geostore resolution with origin fallback (`get_geostore`,
    * `geostore.py:42-85`): try the requested origin first, fall back
    * to the other — GFW is the in-process store, RW the injected
    * external fetcher (an HTTP client in the reference; pluggable
    * here, absent by default). */
  private def resolveGeostore(id: String, origin: String): Option[String] = {
    def gfw: Option[String] = geostore.get(id)
    def rw: Option[String] = rwGeostore.flatMap { fetch =>
      Option(rwMemo.get(id)).getOrElse {
        val fetched = fetch(id).map(gj =>
          graft.geo.Geom.toGeoJson(graft.geo.Geom.fromGeoJson(gj)))
        rwMemo.put(id, fetched)
        fetched
      }
    }
    if (origin == "rw") rw.orElse(gfw) else gfw.orElse(rw)
  }
  private val jobRegistry = new JobRegistry

  // TCP_NODELAY on every accepted connection. The JDK server sends a
  // response as two writes, the header block and then the body; with
  // Nagle on, the body waits until the client ACKs the headers, and a
  // Linux client delays that ACK by ~40 ms. Measured on JDK 17 over
  // loopback: 44 ms per GET/POST round trip with Nagle, 0.5 ms
  // without. The JDK reads the switch once, when its server config
  // class loads, so the object initializer must run before the first
  // `HttpServer.create` in the JVM.
  ApiServer.noDelay()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  // without an executor the JDK HttpServer handles every exchange on
  // the single dispatcher thread — one long streaming download would
  // block /ping and every /job poll of the 202-then-poll workflow.
  // The exchange pool is CACHED (exchange threads route, serve small
  // payloads, or park on a query future — all cheap); the expensive
  // resource, concurrent Spark work, is bounded by `querySlots` /
  // `downloadGate` below. A FIXED exchange pool conflates the two:
  // measured under ApiLoad at 16–32 concurrent mixed requests, a
  // fixed-8 pool put /ping's p99 at 2.3–4.9 s (queued behind
  // Spark-bound queries) where the reference's async event loop +
  // bounded asyncpg pool keeps health checks instant under the same
  // load (`gunicorn_conf.py:5-30`, `globals.py:59-60`).
  private val requestPool = java.util.concurrent.Executors.newCachedThreadPool(
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-http-${n.getAndIncrement()}")
        t.setDaemon(true); t
      }
    })
  server.setExecutor(requestPool)

  /** Bounded interactive-query concurrency — the analog of the
    * reference's per-worker asyncpg pool (5–10 connections,
    * `globals.py:59-60`): at most [[QuerySlots]] Spark-bound
    * interactive queries run at once; excess requests wait for a slot
    * up to the same 58 s-class deadline and then answer the timeout
    * envelope (a stuck pool surfaces as the command timeout in the
    * reference too). The slot id doubles as the request's FAIR
    * scheduler pool name (`spark.scheduler.pool = graft-api-slot-N`):
    * under `spark.scheduler.mode=FAIR` each in-flight query gets an
    * equal cluster share, so one continent-sized zonal cannot starve
    * seven cheap counts; under the default FIFO mode the property is
    * inert. Slots (not per-request pool names) keep the scheduler's
    * pool set BOUNDED — Spark never garbage-collects pools, so
    * per-request names would leak one pool per request forever. */
  private val QuerySlots = 8
  private val querySlots = new java.util.concurrent.LinkedBlockingQueue[Integer]
  (0 until QuerySlots).foreach(i => querySlots.put(i))

  /** Streaming downloads hold a separate bounded gate for the life of
    * the stream (the reference holds a pool connection for the whole
    * server-side cursor the same way, `downloads.py:35-231`) so a
    * burst of downloads can neither oversubscribe Spark nor starve
    * the interactive slots. */
  private val downloadGate = new java.util.concurrent.Semaphore(8, true)

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = {
    jobRegistry.shutdown(); server.stop(0); requestPool.shutdown()
    queryExec.shutdownNow()
  }

  // -------------------------------------------- interactive-query deadline

  /** The reference bounds every interactive query at
    * `SQL_REQUEST_TIMEOUT = 58` s: the asyncpg pool's
    * `command_timeout` (`app/application.py:105`,
    * `app/settings/globals.py:143`) cancels the server-side query and
    * surfaces as a 524 "A timeout occurred while processing the
    * request. Request canceled." (`app/main.py:53-64`); the raster
    * path's lambda client timeout maps to 500 "Query took too long to
    * process." (`app/routes/datasets/queries.py:596-599`). On Spark
    * the equivalent needs an explicit job group: without one, a
    * pathological-but-valid query (a continent-wide zonal, a
    * selective-looking filter that isn't) holds a request-pool thread
    * AND keeps its cluster job burning executors forever — 8 of those
    * and the API is dead. So each interactive query runs on a
    * dedicated thread under `setJobGroup(interruptOnCancel = true)`;
    * on deadline expiry the group is cancelled (killing all its
    * running stages cluster-side) and the handler answers with the
    * reference's envelope. Downloads stream incrementally and async
    * batch jobs poll (202) — neither is deadline-bound, matching the
    * reference's split. */
  private val queryExec = {
    val fac = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-query-exec-${n.getAndIncrement()}")
        t.setDaemon(true); t
      }
    }
    java.util.concurrent.Executors.newCachedThreadPool(fac)
  }

  /** Last cancelled job group, observable by specs so they can assert
    * the Spark job actually died (`statusTracker.getJobIdsForGroup`). */
  @volatile private[api] var lastCancelledGroup: Option[String] = None

  /** The reference's two timeout envelopes: the raster analysis
    * timeout → 500 (`queries.py:596-599`), the tabular command timeout
    * → the global 524 handler (`main.py:53-64`). */
  private def timeout(raster: Boolean): Reject =
    if (raster) Reject(500, "Query took too long to process.")
    else Reject(524, "A timeout occurred while processing the request. Request canceled.")

  private def withDeadline[T](tag: String, raster: Boolean)(body: => T): T = {
    val sc = spark.sparkContext
    val groupId = s"graft-api-$tag-${java.util.UUID.randomUUID()}"
    // slot acquisition is the pool-connection wait: bounded by the
    // same deadline class, surfacing the same timeout envelope when
    // the pool is saturated (the reference's exhausted asyncpg pool
    // reads identically to a slow query from the client's side)
    val slot: Integer =
      querySlots.poll(sqlRequestTimeoutSec.toLong,
        java.util.concurrent.TimeUnit.SECONDS)
    if (slot == null) throw timeout(raster)
    // release-once ownership: normally the query task's finally frees
    // the slot when the Spark work actually ENDS (a cancelled query
    // still holds its slot until its stages die — a zombie must count
    // against the pool, not beside it). If cancel lands before the
    // task ever ran, the timeout path claims the release instead; the
    // CAS makes the two paths mutually exclusive under FutureTask's
    // cancel/run race (cancel(true) can return true while call() is
    // concurrently entering).
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    val taskEntered = new java.util.concurrent.atomic.AtomicBoolean(false)
    def releaseOnce(): Unit =
      if (released.compareAndSet(false, true)) querySlots.put(slot)
    val fut = queryExec.submit(new java.util.concurrent.Callable[T] {
      def call(): T = {
        taskEntered.set(true)
        // job groups are thread-local: set on the thread that runs the
        // Spark actions, cleared so pool reuse can't leak the group
        sc.setJobGroup(groupId, s"graft interactive $tag",
          interruptOnCancel = true)
        sc.setLocalProperty("spark.scheduler.pool", s"graft-api-slot-$slot")
        try body finally {
          sc.setLocalProperty("spark.scheduler.pool", null)
          sc.clearJobGroup()
          releaseOnce()
        }
      }
    })
    try fut.get(sqlRequestTimeoutSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        sc.cancelJobGroup(groupId)
        if (fut.cancel(true) && !taskEntered.get()) releaseOnce()
        lastCancelledGroup = Some(groupId)
        throw timeout(raster)
      case e: java.util.concurrent.ExecutionException =>
        throw e.getCause
    }
  }

  // ------------------------------------------------------------- routing

  private val QueryRoot = "^/dataset/([^/]+)/([^/]+)/query$".r
  private val QueryJson = "^/dataset/([^/]+)/([^/]+)/query/json$".r
  private val QueryCsv = "^/dataset/([^/]+)/([^/]+)/query/csv$".r
  private val Download = "^/dataset/([^/]+)/([^/]+)/download/(csv|json)$".r
  private val DownloadFile = "^/dataset/([^/]+)/([^/]+)/download/(shp|gpkg)$".r
  private val DownloadTiff = "^/dataset/([^/]+)/([^/]+)/download/geotiff$".r
  private val Fields = "^/dataset/([^/]+)/([^/]+)/fields$".r
  private val Features = "^/dataset/([^/]+)/([^/]+)/features$".r
  private val StatsR = "^/dataset/([^/]+)/([^/]+)/stats$".r
  private val ExtentR = "^/dataset/([^/]+)/([^/]+)/extent$".r
  private val GeostoreGet = "^/geostore/([^/]+)$".r
  private val AdminBoundary0 = "^/geostore/admin/([^/]+)$".r
  private val AdminBoundary1 = "^/geostore/admin/([^/]+)/([^/]+)$".r
  private val AdminBoundary2 = "^/geostore/admin/([^/]+)/([^/]+)/([^/]+)$".r
  private val TileGet =
    "^/([^/]+)/([^/]+)/([^/]+)/(\\d+)/(\\d+)/(\\d+)\\.(png|pbf)$".r
  private val TileRootJson = "^/([^/]+)/([^/]+)/([^/]+)/root\\.json$".r
  private val VersionRoot = "^/dataset/([^/]+)/([^/]+)$".r
  private val QueryBatch = "^/dataset/([^/]+)/([^/]+)/query/batch$".r
  private val VersionAppend = "^/dataset/([^/]+)/([^/]+)/append$".r
  private val DatasetRoot = "^/dataset/([^/]+)$".r
  private val DownloadAoi = "^/dataset/([^/]+)/([^/]+)/download_by_aoi/(csv|json)$".r
  private val MetadataR = "^/dataset/([^/]+)/([^/]+)/metadata$".r
  private val VersionGeostore = "^/dataset/([^/]+)/([^/]+)/geostore/([^/]+)$".r
  private val AssetR = "^/asset/([^/]+)$".r
  private val AssetSubR = "^/asset/([^/]+)/(creation_options|change_log|tasks|stats|extent|tiles_info)$".r
  private val ApiKeyR = "^/auth/apikey/([^/]+)$".r
  private val ApiKeyValidateR = "^/auth/apikey/([^/]+)/validate$".r
  private val ZonalPathR = "^/analysis/zonal/([^/]+)$".r
  private val AssetMetaR = "^/asset/([^/]+)/metadata$".r
  private val AssetFieldsR = "^/asset/([^/]+)/fields$".r
  private val AssetFieldR = "^/asset/([^/]+)/fields/([^/]+)$".r
  private val TaskR = "^/task/([^/]+)$".r
  private val TclDriver = "^/land/tree_cover_loss_by_driver$".r
  private val TclDriverId = "^/land/tree_cover_loss_by_driver/([^/]+)$".r
  private val AssetsR = "^/dataset/([^/]+)/([^/]+)/assets$".r
  private val CreationOptsR = "^/dataset/([^/]+)/([^/]+)/creation_options$".r
  private val ChangeLogR = "^/dataset/([^/]+)/([^/]+)/change_log$".r

  // ----------------------------------------------------------- auth gate

  /** The reference's two-layer gate on query/download routes: a valid
    * API key (`get_api_key` → 403 "No valid API Key found.") and, for
    * protected datasets, an admin bearer token
    * (`is_authorized_for_query` → 401). Key auth only applies when
    * the server was built with a key registry. */
  private def authGate(ex: HttpExchange, dataset: String): Unit = {
    apiKeys.foreach { reg =>
      val hdr = Option(ex.getRequestHeaders.getFirst("x-api-key"))
      val key = hdr.orElse(queryParams(ex).get("x-api-key"))
      val origin = Option(ex.getRequestHeaders.getFirst("Origin"))
      val referrer = Option(ex.getRequestHeaders.getFirst("Referer"))
      if (!key.exists(k => reg.isValid(k, origin, referrer)))
        throw Reject(403, "No valid API Key found.")
    }
    if (protectedDatasets.contains(dataset) && !hasAdminToken(ex))
      throw Reject(401, "Unauthorized query on a restricted dataset or version")
  }

  private def hasAdminToken(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer "))
      .exists(adminTokens.contains)

  private val versionsRoot = s"${sys.props("java.io.tmpdir")}/graft_versions/"

  /** Session table of a version: created versions are registered
    * under per-(dataset, version) view names (so they can never shadow
    * a lake table, and every version stays queryable); builtin lake
    * tables keep their bare names. */
  private def tableFor(v: cat.Version): String =
    if (v.defaultAsset.exists(a =>
        (a.assetType == cat.AssetType.DatabaseTable ||
          a.assetType == cat.AssetType.GeoDatabaseTable) &&
          a.assetUri.startsWith(versionsRoot)))
      graft.etl.VersionCreation.viewName(v.dataset, v.version)
    else v.dataset

  /** Gate for mutating routes (version creation, API-key minting):
    * the reference requires an authenticated owner/admin
    * (`add_new_version` → `get_owner`, `create_api_key` → `get_user`);
    * here that is an admin bearer token. A server constructed without
    * admin tokens has no write identity at all, so writes are refused
    * rather than open. */
  private def writeGate(ex: HttpExchange): Unit =
    if (!hasAdminToken(ex)) throw Reject(401, "Unauthorized")

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath
      (ex.getRequestMethod, path) match {
        case ("GET", QueryRoot(d, v)) =>
          val q = Option(ex.getRequestURI.getRawQuery).map("?" + _).getOrElse("")
          ex.getResponseHeaders.add("Location", s"/dataset/$d/$v/query/json$q")
          respond(ex, 308, "application/json", "")
        case ("GET" | "POST", QueryJson(d, v)) => query(ex, d, v, json = true)
        case ("GET" | "POST", QueryCsv(d, v)) => query(ex, d, v, json = false)
        case ("GET", Download(d, v, fmt)) => download(ex, d, v, fmt)
        case ("GET", DownloadFile(d, v, fmt)) => downloadFile(ex, d, v, fmt)
        case ("GET", DownloadTiff(d, v)) => downloadGeotiff(ex, d, v)
        case ("GET", Fields(d, v)) => fields(ex, d, v)
        case ("GET", Features(d, v)) => features(ex, d, v)
        case ("GET", StatsR(d, v)) => stats(ex, d, v)
        case ("GET", ExtentR(d, v)) => extent(ex, d, v)
        case ("GET", "/political/id-lookup") => idLookup(ex)
        case ("GET", "/ping") => respond(ex, 200, "application/json", "\"pong\"")
        case ("GET", DownloadAoi(d, v, fmt)) => downloadByAoi(ex, d, v, fmt)
        case ("GET", MetadataR(d, v)) => versionMetadataGet(ex, d, v)
        case (m, MetadataR(d, v)) if m == "POST" || m == "PATCH" =>
          versionMetadataWrite(ex, d, v)
        case ("DELETE", MetadataR(d, v)) => versionMetadataDelete(ex, d, v)
        case ("GET", VersionGeostore(d, v, gid)) => versionGeostore(ex, d, v, gid)
        case ("GET", AssetMetaR(id)) => assetMetadataGet(ex, id)
        case (m, AssetMetaR(id)) if m == "POST" || m == "PATCH" =>
          assetMetadataWrite(ex, id)
        case ("DELETE", AssetMetaR(id)) => assetMetadataDelete(ex, id)
        case ("GET", AssetFieldsR(id)) => assetFields(ex, id)
        case ("GET", AssetFieldR(id, f)) => assetFieldGet(ex, id, f)
        case ("PATCH", AssetFieldR(id, f)) => assetFieldPatch(ex, id, f)
        case ("GET", AssetR(id)) => assetGet(ex, id)
        case ("DELETE", AssetR(id)) => assetDelete(ex, id)
        case ("GET", AssetSubR(id, sub)) => assetSub(ex, id, sub)
        case ("GET", TaskR(id)) => taskGet(ex, id)
        case ("PUT", TaskR(id)) => taskPut(ex, id)
        case ("PATCH", TaskR(id)) => taskPatch(ex, id)
        case ("GET", TclDriver()) => tclSearch(ex)
        case ("POST", TclDriver()) => tclPost(ex)
        case ("GET", TclDriverId(rid)) => tclGet(ex, rid)
        case ("DELETE", TclDriverId(rid)) => tclDelete(ex, rid)
        case ("POST", "/auth/apikey") => apiKeyCreate(ex)
        case ("PUT", VersionRoot(d, v)) => versionPut(ex, d, v)
        case ("POST", VersionAppend(d, v)) => versionAppend(ex, d, v)
        case ("GET", AssetsR(d, v)) => versionAssets(ex, d, v)
        case ("POST", AssetsR(d, v)) => assetAdd(ex, d, v)
        case ("GET", "/assets") => assetsList(ex)
        case ("GET", CreationOptsR(d, v)) => creationOptions(ex, d, v)
        case ("GET", ChangeLogR(d, v)) => versionChangeLog(ex, d, v)
        case ("GET", VersionRoot(d, v)) => versionGet(ex, d, v)
        case ("PATCH", VersionRoot(d, v)) => versionPatch(ex, d, v)
        case ("DELETE", VersionRoot(d, v)) => versionDelete(ex, d, v)
        case ("GET", "/datasets") => datasetsList(ex)
        case ("PUT", DatasetRoot(d)) => datasetPut(ex, d)
        case ("GET", DatasetRoot(d)) => datasetGet(ex, d)
        case ("PATCH", DatasetRoot(d)) => datasetPatch(ex, d)
        case ("DELETE", DatasetRoot(d)) => datasetDelete(ex, d)
        case ("GET", "/analysis/zonal") => zonal(ex)
        case ("GET", ZonalPathR(gid)) => zonal(ex, Some(gid))
        case ("GET", ApiKeyValidateR(key)) => apiKeyValidate(ex, key)
        case ("GET", ApiKeyR(key)) => apiKeyGet(ex, key)
        case ("DELETE", ApiKeyR(key)) => apiKeyDelete(ex, key)
        case ("GET", "/auth/apikeys") => apiKeysList(ex)
        case ("POST", "/analysis/zonal/batch") => zonalBatch(ex)
        case ("POST", QueryBatch(d, v)) => queryBatch(ex, d, v)
        case ("GET", JobDownload(id)) =>
          val payload = jobRegistry.result(id).getOrElse(
            throw Reject(404, s"No results for job $id"))
          ex.getResponseHeaders.add("Content-Disposition",
            s"""attachment; filename="$id.json"""")
          respond(ex, 200, "application/json", payload)
        case ("GET", JobGet(id)) =>
          val j = jobRegistry.get(id).getOrElse(throw Reject(404, s"Job $id not found"))
          val payload = j.payload.getOrElse("null")
          val msg = j.message.map(m => s""","message":${graft.geo.Json.write(m)}""").getOrElse("")
          val link =
            if (j.status.name == "success") s""","download_link":"/job/${j.id}/download""""
            else ""
          respond(ex, 200, "application/json",
            s"""{"data":{"job_id":"${j.id}","status":"${j.status.name}","results":$payload$msg$link},"status":"success"}""")
        case ("POST", "/geostore") => geostoreCreate(ex)
        case ("GET", "/geostore/admin/list") => adminList(ex)
        case ("GET", AdminBoundary2(c, r, s)) =>
          adminBoundary(ex, c, Some(r), Some(s))
        case ("GET", AdminBoundary1(c, r)) => adminBoundary(ex, c, Some(r), None)
        case ("GET", AdminBoundary0(c)) => adminBoundary(ex, c, None, None)
        case ("GET", TileGet(d, v, impl, z, x, y, ext)) =>
          serveTile(ex, d, v, impl, z, x, y, ext)
        case ("GET", TileRootJson(d, v, impl)) => serveTileRoot(ex, d, v, impl)
        case ("GET", GeostoreGet(id)) =>
          val gj = geostore.getOrElse(id, throw Reject(404, s"Geostore $id not found"))
          respond(ex, 200, "application/json",
            s"""{"data":{"gfw_geostore_id":"$id","geojson":$gj},"status":"success"}""")
        case _ => throw Reject(404, "Not found")
      }
    } catch {
      // after the status line went out (a download failing mid-stream)
      // no envelope can follow, and closing the exchange would end the
      // cut body with the closing chunk; an IOException makes the JDK
      // server drop the connection, so the client sees a broken transfer
      case e: Throwable if ex.getResponseCode != -1 =>
        throw new java.io.IOException("response failed after its status was sent", e)
      case e: Throwable =>
        // the one error renderer: JSEND status "failed" below 500 and
        // "error" from 500 up (`errors.py:43-46`)
        val r = rejection(e)
        respond(ex, r.code, "application/json",
          Sinks.jsendError(r.message, if (r.code < 500) "failed" else "error"))
    }
    ex.close()
  }

  /** The status and message a failed request answers with. */
  private def rejection(e: Throwable): Reject = e match {
    case r: Reject => r
    case e: SqlGateException => Reject(e.statusCode, e.detail)
    case e: graft.raster.ZonalEngine.ZonalException => Reject(400, e.detail)
    // raster-analysis validation failure → 422 (queries.py:617-621)
    case e: graft.raster.RasterSqlException => Reject(422, e.detail)
    case e: org.apache.spark.sql.AnalysisException
        if e.getErrorClass != null &&
          (e.getErrorClass.startsWith("UNRESOLVED_COLUMN") ||
            e.getErrorClass.startsWith("UNRESOLVED_ROUTINE")) =>
      // a user-SQL reference that doesn't resolve is the client's
      // error — the reference surfaces PG's message as 400
      // (`queries.py` Bad request passthrough)
      Reject(400, "Bad request. " + e.getSimpleMessage)
    case e => Reject(500, Option(e.getMessage).getOrElse("Internal server error"))
  }

  // ------------------------------------------------------------ handlers

  /** 2h Cache-Control, except TCL tables which are immutable per
    * version → 1y (`queries.py:155-158`). */
  private def cacheControl(dataset: String): String =
    if (dataset.contains("gadm__tcl__")) "max-age=31536000" else "max-age=7200"

  /** Driver-memory guardrail for the INTERACTIVE query routes: they
    * buffer the full result (JSEND/CSV string) on the driver, so an
    * un-LIMITed `SELECT *` over a big version would OOM the server.
    * The reference leans on its API-gateway timeout for this; a
    * Spark driver needs an explicit bound. Downloads stream
    * (`toLocalIterator`) and are not capped. */
  private val MaxInteractiveRows =
    sys.env.getOrElse("GRAFT_MAX_QUERY_ROWS", "100000").toInt

  /** `GET /query/{json,csv}?sql=…`, and the POST form whose body
    * `{"sql": "...", "geometry": {...GeoJSON...}}` carries an inline
    * AOI (`queries.py`): the frame runs under the interactive deadline
    * and its rows are buffered into JSEND or CSV (QUOTE_NONNUMERIC). */
  private def query(ex: HttpExchange, dataset: String, version: String,
                    json: Boolean): Unit = {
    authGate(ex, dataset)
    val params = queryParams(ex)
    val post = ex.getRequestMethod == "POST"
    val body = if (post) Some(parseBody(bodyOf(ex))) else None
    val sql = body match {
      case Some(obj) => obj.get("sql") match {
        case Some(s: String) => s
        case _ => throw Reject(422, "Missing sql in request body")
      }
      case None => params.getOrElse("sql", throw Reject(422, "Missing sql parameter"))
    }
    val (raster, frame) = queryFrame(dataset, version, sql, params, body)
    val payload = withDeadline("query", raster) {
      val df = frame().limit(MaxInteractiveRows)
      if (json) Sinks.toJsend(df) else Sinks.toCsv(df)
    }
    if (!post) ex.getResponseHeaders.add("Cache-Control", cacheControl(dataset))
    respond(ex, 200, if (json) "application/json" else "text/csv", payload)
  }

  /** The one path from a dataset version, user SQL and an AOI to the
    * frame that answers them, shared by the query and download routes.
    * The AOI is a POST `body`'s inline `geometry`, else the
    * `geostore_id` parameter resolved through `geostore_origin`. The
    * checks run here; the frame is built when the returned function is
    * called, under the route's deadline or download gate, and the flag
    * says whether the raster engine answers (it picks the timeout
    * envelope). Downloads take the tabular engine only. */
  private def queryFrame(dataset: String, version: String, sql: String,
                         params: Map[String, String],
                         body: Option[Map[String, Any]] = None,
                         download: Boolean = false)
      : (Boolean, () => org.apache.spark.sql.DataFrame) = {
    val v = versionOf(dataset, version)
    val raster = v.queryEngine match {
      case Left(msg) => throw Reject(501, msg)
      // raster downloads redirect to asset files in the reference; out
      // of scope for the synthetic lake
      case Right(cat.RasterEngine) if download =>
        throw Reject(501, "This endpoint is not implemented for the given dataset")
      case Right(engine) => engine == cat.RasterEngine
    }
    val gid = if (body.isEmpty) params.get("geostore_id") else None
    val aoi = body match {
      case Some(obj) => obj.get("geometry").map(graft.geo.Json.write)
      case None => gid.flatMap(resolveGeostore(_, params.getOrElse("geostore_origin", "gfw")))
    }
    if (raster) {
      // the AOI is mandatory (queries.py:487-503 → 422); the user's SQL
      // runs for real — select list, WHERE over layer pseudo-columns,
      // GROUP BY — via the fused zonal engine (`_query_raster`,
      // queries.py:548-575)
      val gj = aoi.getOrElse(throw Reject(422, "Raster tile set queries require a " +
        (if (body.isDefined) "geometry" else "geostore")))
      val overrides = body.map(versionOverrides).getOrElse(Map.empty[String, String])
      (true, () => graft.raster.ZonalEngine.runSql(spark, catalog, dataset, sql, gj, overrides))
    } else {
      // an UNRESOLVABLE geostore is 404 (the reference's
      // RecordNotFoundError) — silently dropping the AOI would
      // return the full unfiltered table
      if (gid.isDefined && aoi.isEmpty)
        throw Reject(404, s"Area with gfw_geostore_id ${gid.get} does not exist")
      // lake table view name == dataset name (single-version lake)
      val rewritten = Scrutinizer.scrutinizeTo(tableFor(v), aoi, sql)
      graft.sqlgate.TabularEngine.checkFunctionsExist(spark, rewritten)
      (false, () => spark.sql(rewritten))
    }
  }

  private def fields(ex: HttpExchange, dataset: String, version: String): Unit = {
    val v = versionOf(dataset, version)
    v.defaultAsset match {
      case Some(a) if a.assetType == cat.AssetType.RasterTileSet =>
        // raster fields = reserved pseudo-columns + the queryable
        // layers of the data environment (versions.py:516-522)
        val reserved = Seq("area__ha", "latitude", "longitude").map(n =>
          s"""{"name":"$n","data_type":"number","is_reserved":true}""")
        val env = graft.raster.DataEnvironment.cached(
          catalog, graft.raster.TileLake.defaultDir)
        val layers = env.layers.keys.filterNot(_ == "area__ha").toSeq.sorted.map(n =>
          s"""{"name":"$n","data_type":"integer","is_reserved":false}""")
        respond(ex, 200, "application/json",
          s"""{"data":[${(reserved ++ layers).mkString(",")}],"status":"success"}""")
      case _ =>
        val schema = spark.table(tableFor(v)).schema
        val items = schema.fields.map { f =>
          s"""{"name":"${f.name}","data_type":"${f.dataType.catalogString}","is_feature_info":true}"""
        }.mkString(",")
        respond(ex, 200, "application/json", s"""{"data":[$items],"status":"success"}""")
    }
  }

  /** Download variant of the query endpoints: attachment disposition,
    * gated by the version's downloadability flag
    * (`downloads.py:391-396`). Unlike `/query`, downloads STREAM —
    * rows flow through `toLocalIterator` into a chunked response, so
    * `SELECT *` of a large version never buffers on the driver
    * (`downloads.py:35-231`). */
  private def download(ex: HttpExchange, dataset: String, version: String,
                       fmt: String): Unit = {
    downloadable(ex, dataset, version)
    val params = queryParams(ex)
    val sql = params.getOrElse("sql", throw Reject(422, "Missing sql parameter"))
    val df = queryFrame(dataset, version, sql, params, download = true)._2()
    // bounded stream concurrency: wait for the download gate up to the
    // deadline class, then answer the timeout envelope (the reference
    // holds a pool connection for the whole cursor; an exhausted pool
    // surfaces the same way)
    if (!downloadGate.tryAcquire(sqlRequestTimeoutSec.toLong,
        java.util.concurrent.TimeUnit.SECONDS))
      throw timeout(raster = false)
    try {
      ex.getResponseHeaders.add("Content-Disposition",
        s"""attachment; filename="$dataset.$fmt"""")
      val ct = if (fmt == "json") "application/json" else "text/csv"
      ex.getResponseHeaders.add("Content-Type", ct)
      ex.sendResponseHeaders(200, 0) // chunked; `handle` ends the exchange
      if (fmt == "json") Sinks.streamJsend(df, ex.getResponseBody)
      else Sinks.streamCsv(df, ex.getResponseBody)
    } finally downloadGate.release()
  }

  /** The version behind a download route, after the checks every
    * download shares: 404 without it, 403 when it is not downloadable,
    * then the auth gate. */
  private def downloadable(ex: HttpExchange, dataset: String, version: String): cat.Version = {
    val v = versionOf(dataset, version)
    if (!v.isDownloadable) throw Reject(403, "This dataset is not available for download")
    authGate(ex, dataset)
    v
  }

  /** `GET /download_by_aoi/{csv,json}` (`downloads.py:202-263`): the
    * download variant whose AOI is MANDATORY — same streaming sink,
    * 422 without a resolvable geostore. */
  private def downloadByAoi(ex: HttpExchange, dataset: String, version: String,
                            fmt: String): Unit = {
    val params = queryParams(ex)
    val gid = params.getOrElse("geostore_id", throw Reject(422, "geostore_id is required"))
    if (resolveGeostore(gid, params.getOrElse("geostore_origin", "gfw")).isEmpty)
      throw Reject(404, s"Geostore $gid not found")
    download(ex, dataset, version, fmt)
  }

  /** Version metadata CRUD (`versions.py:407-517`): a free-form
    * metadata document per version; POST creates, PATCH merges fields,
    * DELETE clears. */
  private def versionMetadataGet(ex: HttpExchange, dataset: String, version: String): Unit = {
    val m = versionOf(dataset, version).metadata.getOrElse(
      throw Reject(404, s"Version $dataset.$version has no metadata"))
    respond(ex, 200, "application/json", s"""{"data":${jsonObject(m)},"status":"success"}""")
  }

  private def versionMetadataWrite(ex: HttpExchange, dataset: String, version: String): Unit = {
    writeGate(ex)
    val v = versionOf(dataset, version)
    val patch = bodyObject(ex).collect {
      case (k, s: String) => k -> s
      case (k, x) if x != null => k -> graft.geo.Json.write(x)
    }
    val isCreate = ex.getRequestMethod == "POST"
    val merged = update(_.withVersionPatched(dataset, v.version, x => x.copy(metadata =
      Some(if (isCreate) patch else x.metadata.getOrElse(Map.empty) ++ patch))))
      .record(dataset, v.version).flatMap(_.metadata).getOrElse(patch)
    respond(ex, if (isCreate) 201 else 200, "application/json",
      s"""{"data":${jsonObject(merged)},"status":"success"}""")
  }

  private def versionMetadataDelete(ex: HttpExchange, dataset: String, version: String): Unit = {
    writeGate(ex)
    update { c =>
      val v = c.version(dataset, version).filter(_.metadata.isDefined).getOrElse(
        throw Reject(404, s"Version $dataset.$version has no metadata"))
      c.withVersionPatched(dataset, v.version, _.copy(metadata = None))
    }
    respond(ex, 200, "application/json", """{"data":{},"status":"success"}""")
  }

  /** `GET /dataset/{d}/{v}/geostore/{id}` (`datasets/geostore.py:16`):
    * a geostore looked up WITHIN a version's table — the row whose
    * content-addressed `gfw_geostore_id` matches returns its stored
    * geometry. */
  private def versionGeostore(ex: HttpExchange, dataset: String, version: String,
                              gid: String): Unit = {
    val v = versionOf(dataset, version)
    if (!v.defaultAsset.exists(_.assetType == cat.AssetType.GeoDatabaseTable))
      throw Reject(501, "This endpoint is not implemented for the given dataset")
    val rows = spark.sql(
      s"""SELECT gfw_geojson FROM ${tableFor(v)}
         |WHERE gfw_geostore_id = '${gid.replace("'", "''")}' LIMIT 1""".stripMargin)
      .collect()
    if (rows.isEmpty) throw Reject(404, s"Geostore $gid not found in $dataset.$version")
    respond(ex, 200, "application/json",
      s"""{"data":{"gfw_geostore_id":"$gid","geojson":${rows.head.getString(0)}},"status":"success"}""")
  }

  private def assetGet(ex: HttpExchange, id: String): Unit = {
    val (v, a) = assetOf(id)
    respond(ex, 200, "application/json",
      s"""{"data":${assetJson(a, Some(v))},"status":"success"}""")
  }

  /** One asset object (`asset.py` response shape); with `owner` it also
    * names its dataset and version. */
  private def assetJson(a: cat.Asset, owner: Option[cat.Version] = None): String =
    s"""{"asset_id":"${a.assetId}",""" +
      owner.fold("")(v => s""""dataset":"${v.dataset}","version":"${v.version}",""") +
      s""""asset_type":${graft.geo.Json.write(a.assetType)},""" +
      s""""asset_uri":${graft.geo.Json.write(a.assetUri)},"is_default":${a.isDefault},""" +
      s""""status":"${a.status}"}"""

  private def assetSub(ex: HttpExchange, id: String, sub: String): Unit = {
    val (v, a) = assetOf(id)
    sub match {
      case "creation_options" =>
        respond(ex, 200, "application/json",
          s"""{"data":${jsonObject(a.creationOptions)},"status":"success"}""")
      case "change_log" => versionChangeLog(ex, v.dataset, v.version)
      case "tasks" =>
        val items = v.tasks.filter(_.assetId == a.assetId).sortBy(_.taskId)
          .map(taskBody).mkString(",")
        respond(ex, 200, "application/json",
          s"""{"data":[$items],"status":"success"}""")
      case "stats" => stats(ex, v.dataset, v.version)
      case "extent" => extent(ex, v.dataset, v.version)
      case "tiles_info" => assetTilesInfo(ex, v, a)
    }
  }

  /** GET /asset/{id}/tiles_info (`asset.py:316-335`): raster tile
    * sets only — 307 to the tiles.geojson artifact (the reference
    * presigns the pixETL-written S3 object; here the FeatureCollection
    * of tile footprints materializes from the lake on first request). */
  private def assetTilesInfo(ex: HttpExchange, v: cat.Version, a: cat.Asset): Unit = {
    if (a.assetType != cat.AssetType.RasterTileSet)
      throw Reject(400, "Tiles information only available for raster tile sets")
    val cacheDir = java.nio.file.Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_tiles_info")
    java.nio.file.Files.createDirectories(cacheDir)
    val out = cacheDir.resolve(s"${a.assetId}_tiles.geojson")
    if (!java.nio.file.Files.exists(out)) {
      val g = graft.raster.DataEnvironment.gridOf(a.creationOptions)
      graft.raster.TileLake.ensureLake(spark, a.assetUri)
      val tiles = spark.read.parquet(a.assetUri)
        .selectExpr("tile_id", "tx", "ty").distinct()
        .collect().sortBy(r => (r.getInt(1), r.getInt(2)))
      val features = tiles.map { r =>
        val (tx, ty) = (r.getInt(1), r.getInt(2))
        val x0 = g.originLon + tx * g.tileDeg
        val y0 = g.originLat - ty * g.tileDeg
        val ring = s"[[$x0,$y0],[${x0 + g.tileDeg},$y0]," +
          s"[${x0 + g.tileDeg},${y0 - g.tileDeg}],[$x0,${y0 - g.tileDeg}],[$x0,$y0]]"
        s"""{"type":"Feature","properties":{"name":"${r.getString(0)}.tif"},""" +
          s""""geometry":{"type":"Polygon","coordinates":[$ring]}}"""
      }
      java.nio.file.Files.writeString(out,
        s"""{"type":"FeatureCollection","features":[${features.mkString(",")}]}""")
    }
    ex.getResponseHeaders.add("Location", out.toString)
    respond(ex, 307, "application/json", "")
  }

  /** DELETE /asset/{id} (`assets/asset.py:142-223`): non-default
    * assets (exports, caches) delete their artifact and drop out of
    * the catalog; default assets are refused — deleting them means
    * deleting the parent version. */
  private def assetDelete(ex: HttpExchange, id: String): Unit = {
    writeGate(ex)
    val (v, a) = assetOf(id)
    if (a.isDefault)
      throw Reject(409, "Deletion failed. You cannot delete a default asset. " +
        "To delete a default asset you must delete the parent version.")
    update(_.withoutAsset(v.dataset, v.version, a.assetId))
    val f = new java.io.File(a.assetUri)
    if (f.isFile) f.delete()
    respond(ex, 200, "application/json",
      s"""{"data":{"asset_id":"${a.assetId}","status":"deleted"},"status":"success"}""")
  }

  // -------------------------------------------------- asset metadata

  /** Asset metadata documents + per-field overrides
    * (`assets/asset.py:356-520`), kept on the asset record. */
  private def assetMetadataGet(ex: HttpExchange, id: String): Unit = {
    // asset_metadata_factory: a record-less asset still serves a
    // (empty) metadata document rather than 404
    val doc = assetOf(id)._2.metadata.getOrElse(Map.empty[String, Any])
    respond(ex, 200, "application/json",
      s"""{"data":${graft.geo.Json.write(doc)},"status":"success"}""")
  }

  /** POST creates (409 when a record exists,
    * `metadata_crud.create_asset_metadata`); PATCH merges fields into
    * an existing record (404 without one). */
  private def assetMetadataWrite(ex: HttpExchange, id: String): Unit = {
    writeGate(ex)
    assetOf(id)
    val doc = parseBody(bodyOf(ex), "Invalid metadata document")
    val isCreate = ex.getRequestMethod == "POST"
    val merged = update { c =>
      val prior = c.asset(id).flatMap(_._2.metadata)
      if (isCreate && prior.isDefined)
        throw Reject(409, s"Asset $id already has a metadata record")
      if (!isCreate && prior.isEmpty)
        throw Reject(404, s"Asset $id has no metadata record")
      c.withAssetPatched(id, _.copy(metadata = Some(prior.getOrElse(Map.empty) ++ doc)))
    }.asset(id).flatMap(_._2.metadata).getOrElse(doc)
    respond(ex, if (isCreate) 201 else 200, "application/json",
      s"""{"data":${graft.geo.Json.write(merged)},"status":"success"}""")
  }

  private def assetMetadataDelete(ex: HttpExchange, id: String): Unit = {
    writeGate(ex)
    var doc = Map.empty[String, Any]
    update { c =>
      doc = c.asset(id).flatMap(_._2.metadata).getOrElse(
        throw Reject(404, s"Asset $id has no metadata record"))
      c.withAssetPatched(id, _.copy(metadata = None))
    }
    respond(ex, 200, "application/json",
      s"""{"data":${graft.geo.Json.write(doc)},"status":"success"}""")
  }

  /** A raster asset's band columns: explicit `lake_bands` creation
    * option (created raster versions) or the lake's own parquet
    * schema — NOT the builtin fine lake's band list, which is wrong
    * for the derived lake. One helper so fields/stats/downloads can't
    * diverge. */
  private def bandsOfAsset(a: cat.Asset): Seq[String] =
    a.creationOptions.get("lake_bands").map(_.split(",").toSeq)
      .getOrElse(graft.raster.TileLake.bandsOf(a.assetUri))

  /** Field metadata of the asset's version schema
    * (`get_asset_fields_dicts`): name + data_type from the table
    * schema, reference defaults, merged with PATCHed overrides.
    * Raster-backed versions register no table view — their fields are
    * the reserved pseudo-columns plus the version's own bands (the
    * version-level `/fields` convention, `versions.py:516-522`). */
  private def assetFieldDocs(v: cat.Version): Seq[Map[String, Any]] = {
    def doc(name: String, dataType: String): Map[String, Any] =
      Map[String, Any]("name" -> name, "data_type" -> dataType,
        "alias" -> null, "description" -> null, "unit" -> null,
        "is_feature_info" -> true, "is_filter" -> true)
    v.defaultAsset match {
      case Some(a) if a.assetType == cat.AssetType.RasterTileSet =>
        val reserved = Seq("area__ha", "latitude", "longitude")
          .map(doc(_, "number"))
        reserved ++ bandsOfAsset(a).map(b => doc(b.stripPrefix("px_"), "integer"))
      case _ =>
        val schema = spark.table(tableFor(v)).schema
        schema.fields.toSeq.map(f => doc(f.name, f.dataType.catalogString))
    }
  }

  private def assetFields(ex: HttpExchange, id: String): Unit = {
    val (v, a) = assetOf(id)
    val items = assetFieldDocs(v).map { doc =>
      graft.geo.Json.write(doc ++ a.fieldMetadata.getOrElse(doc("name").toString, Map.empty))
    }.mkString(",")
    respond(ex, 200, "application/json",
      s"""{"data":[$items],"status":"success"}""")
  }

  /** `v`'s metadata for `field`, before PATCHed overrides; 404 when
    * the field is unknown. */
  private def assetFieldDoc(v: cat.Version, field: String): Map[String, Any] =
    assetFieldDocs(v).find(_("name") == field)
      .getOrElse(throw Reject(404, s"Field $field not found"))

  private def assetFieldGet(ex: HttpExchange, id: String, field: String): Unit = {
    val (v, a) = assetOf(id)
    val merged = assetFieldDoc(v, field) ++ a.fieldMetadata.getOrElse(field, Map.empty)
    respond(ex, 200, "application/json",
      s"""{"data":${graft.geo.Json.write(merged)},"status":"success"}""")
  }

  /** PATCH /asset/{id}/fields/{name} (`update_field_metadata`,
    * `asset.py:380-415`): merge alias/description/unit/is_filter/
    * is_feature_info into the field's metadata. */
  private def assetFieldPatch(ex: HttpExchange, id: String, field: String): Unit = {
    writeGate(ex)
    val doc = assetFieldDoc(assetOf(id)._1, field)
    val patch = parseBody(bodyOf(ex), "Invalid field metadata document") -
      "name" - "data_type" // immutable identity fields
    val merged = update(_.withAssetPatched(id, a => a.copy(fieldMetadata =
      a.fieldMetadata.updated(field, a.fieldMetadata.getOrElse(field, Map.empty) ++ patch))))
      .asset(id).flatMap(_._2.fieldMetadata.get(field)).getOrElse(patch)
    respond(ex, 200, "application/json",
      s"""{"data":${graft.geo.Json.write(doc ++ merged)},"status":"success"}""")
  }


  // ------------------------------------------------------------- tasks

  /** Per-step task records of the creation DAG (`app/routes/tasks/
    * task.py`; reference tasks are the AWS Batch jobs an asset build
    * fans out, each carrying its own change log), kept on the version
    * that owns the asset. The version-creation job registers one record
    * per DAG step; PATCH appends change-log entries and propagates
    * terminal states to the asset — and, for a default asset, the
    * version (`_set_failed` / `_check_completed`, `task.py:132-247`). */
  private def taskBody(t: cat.Task): String =
    s"""{"task_id":"${t.taskId}","asset_id":"${t.assetId}","change_log":[${changeLogJson(t.changeLog)}]}"""

  /** Change-log entries as the members of a JSON array. */
  private def changeLogJson(log: Seq[graft.etl.VersionCreation.ChangeLog]): String =
    log.map(c =>
      s"""{"task":"${c.task}","status":"${c.status}","detail":${graft.geo.Json.write(c.detail)}}""")
      .mkString(",")

  /** One task per DAG step, with deterministic ids so a re-PUT of the
    * same version replaces its task records instead of leaking. */
  private def dagTasks(dataset: String, version: String,
                       log: Seq[graft.etl.VersionCreation.ChangeLog]): Seq[cat.Task] =
    log.map { c =>
      val tid = graft.geo.GeoExpressions.Uuid5.of("oid", s"task:$dataset/$version/${c.task}")
      cat.Task(tid, s"$dataset-$version-default", Seq(c))
    }

  private def taskOf(id: String): (cat.Version, cat.Task) =
    catalog.task(id).getOrElse(throw Reject(404, s"Task $id not found"))

  private def taskGet(ex: HttpExchange, id: String): Unit =
    respond(ex, 200, "application/json",
      s"""{"data":${taskBody(taskOf(id)._2)},"status":"success"}""")

  /** PUT /task/{id} (service-account route, `task.py:60-81`): attach a
    * new task record to an existing asset. */
  private def taskPut(ex: HttpExchange, id: String): Unit = {
    writeGate(ex)
    val obj = parseBody(bodyOf(ex), "Invalid task document")
    val assetId = obj.get("asset_id") match {
      case Some(s: String) => s
      case _ => throw Reject(400, "asset_id is required")
    }
    val t = cat.Task(id, assetId, parseChangeLog(obj))
    update { c =>
      val (v, _) = c.asset(assetId).getOrElse(throw Reject(400, s"Asset $assetId not found"))
      if (c.task(id).isDefined) throw Reject(400, s"Task $id already exists")
      c.withVersionPatched(v.dataset, v.version, _.withTasks(Seq(t)))
    }
    respond(ex, 201, "application/json",
      s"""{"data":${taskBody(t)},"status":"success"}""")
  }

  private def parseChangeLog(obj: Map[String, Any]): Seq[graft.etl.VersionCreation.ChangeLog] =
    obj.get("change_log") match {
      case Some(l: List[_]) => l.collect { case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        graft.etl.VersionCreation.ChangeLog(
          mm.getOrElse("task", "").toString,
          mm.getOrElse("status", "").toString,
          mm.getOrElse("detail", mm.getOrElse("message", "")).toString)
      }
      case _ => Nil
    }

  /** PATCH /task/{id} (`task.py:83-129`): append change-log entries;
    * a `failed` entry marks the asset (and, when default, the version)
    * failed; all-success marks the asset saved once every task's last
    * entry succeeded; anything else is a 400. The entries and their
    * propagation land in one swap. */
  private def taskPatch(ex: HttpExchange, id: String): Unit = {
    writeGate(ex)
    taskOf(id)
    val entries = parseChangeLog(parseBody(bodyOf(ex), "Invalid task document"))
    if (entries.isEmpty || entries.exists(e =>
        e.status != "success" && e.status != "failed"))
      throw Reject(400, "change log status must be either `success` or `failed`")
    val failed = entries.exists(_.status == "failed")
    val updated = update { c =>
      val (v, t) = c.task(id).getOrElse(throw Reject(404, s"Task $id not found"))
      c.withVersionPatched(v.dataset, v.version, { x =>
        val x1 = x.withTasks(Seq(t.copy(changeLog = t.changeLog ++ entries)))
        // _check_completed: every task of the asset finished cleanly
        def allDone = x1.tasks.filter(_.assetId == t.assetId)
          .forall(_.changeLog.lastOption.exists(_.status == "success"))
        def assetStatus(s: String) = x1.copy(assets = x1.assets.map(a =>
          if (a.assetId == t.assetId) a.copy(status = s) else a))
        x1.assets.find(_.assetId == t.assetId) match {
          case Some(a) if failed =>
            val y = assetStatus("failed")
            if (a.isDefault) y.copy(status = "failed", changeLog = y.changeLog ++ entries) else y
          case Some(_) if allDone => assetStatus("saved")
          case _ => x1
        }
      })
    }.task(id).map(_._2).getOrElse(throw Reject(404, s"Task $id not found"))
    respond(ex, 200, "application/json",
      s"""{"data":${taskBody(updated)},"status":"success"}""")
  }

  // ------------------------------------------- datamart (land.py, beta)

  /** Tree-cover-loss-by-driver resources (`datamart/land.py:76-268`):
    * uuid5-keyed async analyses. status → (metadata json, result json
    * or error detail). */
  private val tclResources = scala.collection.concurrent.TrieMap
    .empty[String, (String, String, String)] // status, metadata, payload

  private def tclResourceId(gid: String, canopyCover: Int): String =
    graft.geo.GeoExpressions.Uuid5.of("oid",
      s"tree_cover_loss_by_driver_{'type': 'geostore', 'geostore_id': '$gid'}_${canopyCover}_None")

  /** GET search (`tree_cover_loss_by_driver_search`): 404 until the
    * resource has been computed. */
  private def tclSearch(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    val gid = params.getOrElse("geostore_id", throw Reject(422, "geostore_id is required"))
    val cc = number("canopy_cover",
      params.get("canopy_cover").map(_.toInt).getOrElse(30))
    val rid = tclResourceId(gid, cc)
    if (!tclResources.contains(rid))
      throw Reject(404, "Resource not found, may require computation.")
    respond(ex, 200, "application/json",
      s"""{"data":{"link":"/land/tree_cover_loss_by_driver/$rid"},"status":"success"}""")
  }

  /** POST (`tree_cover_loss_by_driver_post`): 409 when the resource
    * exists, else 202 + link; the analysis runs in the background —
    * the SAME fused zonal engine, grouped by loss year and the driver
    * layer, thresholded on canopy cover. */
  private def tclPost(ex: HttpExchange): Unit = {
    val obj = parseBody(bodyOf(ex))
    val gid = obj.get("geostore_id") match {
      case Some(s: String) => s
      case _ => throw Reject(422, "geostore_id is required")
    }
    val cc = number("canopy_cover",
      obj.get("canopy_cover").map(_.toString.toDouble.toInt).getOrElse(30))
    val gj = resolveGeostore(gid, "gfw").getOrElse(
      throw Reject(422, s"Geostore $gid can't be found or is not valid."))
    val rid = tclResourceId(gid, cc)
    if (tclResources.contains(rid))
      throw Reject(409, s"Resource $rid already exists with those parameters.")
    val metadata =
      s"""{"aoi":{"type":"geostore","geostore_id":"$gid"},"canopy_cover":$cc}"""
    tclResources.put(rid, ("pending", metadata, "null"))
    jobRegistry.submit { () =>
      try {
        // loss year × driver (the landcover classes play the driver
        // dictionary here), canopy-cover threshold, one zonal pass
        val df = graft.raster.ZonalEngine.runSql(spark, catalog,
          "umd_tree_cover_loss",
          s"""SELECT umd_tree_cover_loss__year,
             |  landcover_raster__class AS driver_class,
             |  SUM(area__ha) AS area__ha
             |FROM data
             |WHERE umd_tree_cover_density_2000__threshold >= $cc
             |GROUP BY umd_tree_cover_loss__year, landcover_raster__class""".stripMargin,
          gj)
        val rows = df.collect()
        val dict = graft.raster.SyntheticEnv.dictFor("landcover_raster")
        val items = rows.sortBy(r => (r.getAs[Long](0), r.getAs[Long](1))).map { r =>
          val yr = r.getAs[Long]("umd_tree_cover_loss__year")
          val cls = r.getAs[Long]("driver_class")
          val drv = dict.getOrElse(cls, s"class_$cls")
          val ha = r.getAs[Double]("area__ha")
          s"""{"umd_tree_cover_loss__year":$yr,"tsc_tree_cover_loss_drivers__driver":${graft.geo.Json.write(drv)},"area__ha":$ha}"""
        }.mkString(",")
        val byDriver = rows.groupBy(r =>
          dict.getOrElse(r.getAs[Long]("driver_class"),
            s"class_${r.getAs[Long]("driver_class")}"))
          .toSeq.sortBy(_._1).map { case (drv, rs) =>
            s"""{"driver":${graft.geo.Json.write(drv)},"area__ha":${rs.map(_.getAs[Double]("area__ha")).sum}}"""
          }.mkString(",")
        tclResources.put(rid, ("saved", metadata,
          s"""{"tree_cover_loss_by_driver":[$items],"by_driver_total":[$byDriver]}"""))
        "done"
      } catch {
        case e: Exception =>
          tclResources.put(rid, ("failed", metadata,
            graft.geo.Json.write(Option(e.getMessage).getOrElse("analysis failed"))))
          "failed"
      }
    }
    respond(ex, 202, "application/json",
      s"""{"data":{"link":"/land/tree_cover_loss_by_driver/$rid"},"status":"success"}""")
  }

  /** GET by id: pending resources answer with Retry-After: 1; the CSV
    * representation follows the documented `Accept: text/csv` shape
    * (year, driver, area). */
  private def tclGet(ex: HttpExchange, rid: String): Unit = {
    val (status, metadata, payload) = tclResource(rid)
    if (status == "pending") ex.getResponseHeaders.add("Retry-After", "1")
    if (status == "saved" &&
        Option(ex.getRequestHeaders.getFirst("Accept")).contains("text/csv")) {
      val rowRe = ("""\{"umd_tree_cover_loss__year":(\d+),""" +
        """"tsc_tree_cover_loss_drivers__driver":"([^"]*)","area__ha":([-0-9.eE]+)\}""").r
      val lines = rowRe.findAllMatchIn(payload).map(m =>
        s""""${m.group(1)}","${m.group(2)}",${m.group(3)}""").mkString("\r\n")
      ex.getResponseHeaders.add("Content-Disposition", "attachment")
      respond(ex, 200, "text/csv",
        "\"umd_tree_cover_loss__year\",\"tsc_tree_cover_loss_drivers__driver\",\"area__ha\"\r\n" +
          lines + "\r\n")
    } else
      respond(ex, 200, "application/json",
        s"""{"data":{"id":"$rid","status":"$status","metadata":$metadata,"result":$payload},"status":"success"}""")
  }

  private def tclResource(rid: String): (String, String, String) =
    tclResources.getOrElse(rid, throw Reject(404, s"Resource $rid not found"))

  /** DELETE: only failed resources delete (reference rule). */
  private def tclDelete(ex: HttpExchange, rid: String): Unit = {
    if (tclResource(rid)._1 != "failed")
      throw Reject(400, "Only resources with 'failed' status can be deleted")
    tclResources.remove(rid)
    respond(ex, 204, "application/json", "")
  }

  /** Pre-built file-asset downloads (`downloads.py:264-348`): 307
    * temporary redirect to the version's shapefile / geopackage export
    * asset URI; absent asset → the reference's not-implemented 501. */
  private def downloadFile(ex: HttpExchange, dataset: String, version: String,
                           fmt: String): Unit = {
    // same gate as the csv/json downloads — a 307 to the asset is
    // still a download of protected data
    val v = downloadable(ex, dataset, version)
    val wanted = if (fmt == "shp") cat.AssetType.ShapefileExport
                 else cat.AssetType.GeopackageExport
    val a = v.assets.find(_.assetType == wanted).getOrElse(
      throw Reject(501, "This endpoint is not implemented for the given dataset."))
    ex.getResponseHeaders.add("Location", a.assetUri)
    respond(ex, 307, "application/json", "")
  }

  /** GET /dataset/{d}/{v}/download/geotiff?tile_id=…&pixel_meaning=…
    * (`downloads.py:264-292`): 307 to the requested raster tile as a
    * GeoTIFF. The reference redirects to a prebuilt S3 object; here
    * the tile materializes from the version's Parquet lake on first
    * request (cached in the version dir) through the pure-JVM
    * [[graft.raster.GeoTiff]] writer. */
  private def downloadGeotiff(ex: HttpExchange, dataset: String, version: String): Unit = {
    val v = downloadable(ex, dataset, version)
    val asset = v.defaultAsset
      .filter(_.assetType == cat.AssetType.RasterTileSet).getOrElse(
        throw Reject(501, "This endpoint is not implemented for the given dataset."))
    val params = queryParams(ex)
    val tileId = params.getOrElse("tile_id", throw Reject(422, "tile_id is required"))
    val meaning = params.getOrElse("pixel_meaning", throw Reject(422, "pixel_meaning is required"))
    val g = graft.raster.DataEnvironment.gridOf(asset.creationOptions)
    val band = asset.creationOptions.getOrElse("band", s"px_$meaning")
    val bands = bandsOfAsset(asset)
    if (!bands.contains(band) ||
        asset.creationOptions.get("pixel_meaning").exists(_ != meaning))
      throw Reject(404, s"No raster tile set with pixel meaning $meaning")
    graft.raster.TileLake.ensureLake(spark, asset.assetUri)
    val compression = params.getOrElse("compression", "deflate")
    if (!Set("none", "lzw", "deflate").contains(compression))
      throw Reject(422, s"Unsupported compression '$compression' (none/lzw/deflate)")
    // srid mirrors the tile-cache CRS choice (reference warps tile
    // caches to EPSG:3857); the lake itself stays 4326
    val srid = params.getOrElse("srid", "4326")
    if (!Set("4326", "3857").contains(srid))
      throw Reject(422, s"Unsupported srid '$srid' (4326/3857)")
    val cacheDir = geotiffCache(v)
    java.nio.file.Files.createDirectories(cacheDir)
    val out = cacheDir.resolve(
      if (srid == "4326") s"${band}_${tileId}_$compression.tif"
      else s"${band}_${tileId}_${compression}_$srid.tif")
    if (!java.nio.file.Files.exists(out)) {
      val rows = spark.read.parquet(asset.assetUri)
        .where(org.apache.spark.sql.functions.col("tile_id") === tileId)
        .selectExpr("tx", "ty", band).collect()
      if (rows.isEmpty)
        throw Reject(404, s"Tile $tileId not found")
      val r = rows.head
      val px = r.getSeq[Long](2).map(_.toInt).toArray
      val tile = graft.raster.GeoTiff.Tile(
        g.pxPerTile, g.pxPerTile,
        g.originLon + r.getInt(0) * g.tileDeg,
        g.originLat - r.getInt(1) * g.tileDeg,
        g.pixelDeg, px)
      if (srid == "3857") {
        // tiles past ±85.05° have no mercator image — a client
        // input problem (422), not a server fault
        val warped =
          try graft.raster.Warp.tileToWebMercator(tile)
          catch { case e: IllegalArgumentException => throw Reject(422, e.getMessage) }
        graft.raster.GeoTiff.writeRaster(out, warped, compression,
          predictor = if (compression == "none") 1 else 2)
      } else
        graft.raster.GeoTiff.write(out, tile, compression)
    }
    ex.getResponseHeaders.add("Location", out.toString)
    respond(ex, 307, "application/json", "")
  }

  /** Vector feature lookup near a point

    * (`features.py:69-218`): zoom selects the search radius from the
    * tippecanoe precision table × 50; features within the geodesic
    * radius return. Geometry follows the repo's synthetic-point
    * convention (customer-key lattice — the lake stores no real
    * geometry columns). */
  private def features(ex: HttpExchange, dataset: String, version: String): Unit = {
    val params = queryParams(ex)
    val ver = versionOf(dataset, version)
    // Eligible sources (features.py:39-76 serves any geo table): a
    // catalog GeoDatabaseTable (a created vector version — point OR
    // polygon features, via the geometry-to-point distance on its
    // stored GeoJSON); the synthetic customer lattice keeps its
    // documented lon/lat derivation.
    val source: Option[(String, String, String)] = // (FROM, dist expr, tiebreak)
      if (ver.defaultAsset.exists(_.assetType == cat.AssetType.GeoDatabaseTable))
        Some((tableFor(ver),
          "st_distance_to_point(st_geomfromgeojson(gfw_geojson), " +
            "CAST(%LNG% AS DOUBLE), CAST(%LAT% AS DOUBLE))", ""))
      else if (dataset == "customer")
        Some(("""(SELECT c_custkey, c_nationkey,
            |    CAST(c_custkey % 720 AS DOUBLE) / 2.0 - 179.75 AS lon,
            |    CAST(c_custkey % 340 AS DOUBLE) / 2.0 - 84.75 AS lat
            |  FROM customer)""".stripMargin,
          "st_distance_sphere(st_point(lon, lat), st_point(%LNG%, %LAT%))",
          ", c_custkey"))
      else None
    val (from, distTpl, tieBreak) = source.getOrElse(
      throw Reject(501, "This endpoint is not implemented for the given dataset"))
    val (lat, lng, zoom) =
      try (params("lat").toDouble, params("lng").toDouble, params("z").toInt)
      catch { case _: Exception =>
        throw Reject(422, "lat, lng and z query parameters are required") }
    val radius = FeatureLookup.bufferMeters(zoom).getOrElse(
      throw Reject(400, "Zoom level out of range"))
    // nasa_viirs_fire_alerts special form (`features.py:39-76`):
    // an alert__date window on top of the location lookup,
    // defaulting to the trailing week (`default_start/default_end`)
    val dateFilter =
      if (dataset != "nasa_viirs_fire_alerts") ""
      else {
        val today = java.time.LocalDate.now()
        val start = params.getOrElse("start_date", today.minusWeeks(1).toString)
        val end = params.getOrElse("end_date", today.toString)
        val DateRe = "^\\d{4}-\\d{2}-\\d{2}$".r
        // calendar-validate BOTH bounds (the regex admits 2026-02-30)
        val parsed =
          if (DateRe.findFirstIn(start).isEmpty || DateRe.findFirstIn(end).isEmpty) None
          else try Some((java.time.LocalDate.parse(start),
            java.time.LocalDate.parse(end)))
          catch { case _: java.time.format.DateTimeParseException => None }
        parsed match {
          case None =>
            throw Reject(422, "start_date and end_date must be valid YYYY-MM-DD dates")
          case Some((_, e)) if e.isAfter(today) =>
            throw Reject(422, "End date cannot be in the future.")
          case Some(_) =>
            s" AND alert__date BETWEEN DATE '$start' AND DATE '$end'"
        }
      }
    val dist = distTpl.replace("%LNG%", lng.toString)
      .replace("%LAT%", lat.toString)
    val df = spark.sql(
      s"""SELECT *, $dist AS dist_m
         |FROM $from pts
         |WHERE $dist <= $radius$dateFilter
         |ORDER BY dist_m$tieBreak LIMIT 100""".stripMargin)
    respond(ex, 200, "application/json", Sinks.toJsend(df))
  }


  /** Version asset statistics (`versions.py:363-374`): row/tile counts
    * and size facts of the default asset. */
  private def stats(ex: HttpExchange, dataset: String, version: String): Unit = {
    val v = versionOf(dataset, version)
    v.defaultAsset match {
      case Some(asset) if asset.assetType == cat.AssetType.RasterTileSet =>
        // the version's OWN grid and band set (created raster versions
        // carry both in their asset options; builtin falls back)
        val g = graft.raster.DataEnvironment.gridOf(asset.creationOptions)
        val bands = bandsOfAsset(asset).length
        respond(ex, 200, "application/json",
          s"""{"data":{"tile_count":${g.nTiles},"pixel_count":${g.nTiles.toLong * g.pxPerTile * g.pxPerTile},"bands":$bands},"status":"success"}""")
      case _ =>
        val cnt = spark.table(tableFor(v)).count()
        respond(ex, 200, "application/json",
          s"""{"data":{"row_count":$cnt},"status":"success"}""")
    }
  }

  /** Version extent (`versions.py:351-360`): raster versions report
    * the grid bbox; tabular versions have no spatial extent. */
  private def extent(ex: HttpExchange, dataset: String, version: String): Unit =
    versionOf(dataset, version).defaultAsset match {
      case Some(asset) if asset.assetType == cat.AssetType.RasterTileSet =>
        // the version's OWN grid — created raster versions carry the
        // DAG-derived georeferencing in their asset options (gridOf
        // falls back to the builtin lake's grid)
        val g = graft.raster.DataEnvironment.gridOf(asset.creationOptions)
        val (xmin, ymax) = (g.originLon, g.originLat)
        val (xmax, ymin) = (g.originLon + g.tilesX * g.tileDeg,
          g.originLat - g.tilesY * g.tileDeg)
        respond(ex, 200, "application/json",
          s"""{"data":{"extent":[$xmin,$ymin,$xmax,$ymax]},"status":"success"}""")
      case _ =>
        respond(ex, 200, "application/json",
          """{"data":{"extent":null},"status":"success"}""")
    }

  /** Admin-name id lookup (`political/id_lookup.py:58-126`): match the
    * normalized name (unidecode + lowercase — our `norm_name`
    * expression) against the nation table. */
  private def idLookup(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    val country = params.getOrElse("country", throw Reject(400, "Country MUST be specified."))
    val df = spark.sql(
      s"""SELECT n_nationkey AS id, n_name AS name
         |FROM nation
         |WHERE norm_name(n_name) = norm_name('${country.replace("'", "''")}')
         |ORDER BY n_nationkey""".stripMargin)
    respond(ex, 200, "application/json", Sinks.toJsend(df))
  }

  /** Version creation (`PUT /dataset/{d}/{v}`, SURVEY §3.4 /
    * `app/routes/datasets/versions.py` + `tasks/default_assets.py`):
    * 202 immediately, the job DAG runs in the background appending
    * change-log records, and the catalog swaps in the new version
    * atomically when the DAG saves. Body:
    * `{"creation_options": {"source_uri": [...], "delimiter": ",",
    * "table_schema": [...], "partitions": {...}, "cluster": [...],
    * "indices": [...], "constraints": [...]}}`. */
  private def versionPut(ex: HttpExchange, dataset: String, version: String): Unit = {
    import graft.etl.VersionCreation
    writeGate(ex)
    if (builtinDatasets.contains(dataset))
      throw Reject(409, s"Dataset $dataset conflicts with a pre-registered table")
    // the alias names whichever version carries the tag, so a version
    // of that name could never be addressed
    if (version == "latest")
      throw Reject(400, "Name `latest` is reserved for versions. Specify a different version name.")
    val opts =
      try VersionCreation.CreationOptions.fromJson(
        graft.geo.Json.parseObject(bodyOf(ex)).get("creation_options") match {
          case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
          case _ => throw new IllegalArgumentException("Missing creation_options")
        })
      catch { case e: IllegalArgumentException =>
        throw Reject(422, Option(e.getMessage).getOrElse("Invalid creation options")) }
    opts.sourceUris.find(!sourceAllowed(_)).foreach { uri =>
      throw Reject(403, s"Source URI outside the allowed data directories: $uri") }
    // registered pending: a first creation as a record without assets
    // (not latest until it saves); a re-creation keeps serving its
    // current build until the new one lands
    update { c =>
      // asset ids are `{dataset}-{version}-{kind}`: another dataset's
      // version with the same prefix would mint the same ids
      c.datasets.find(d => d.name != dataset &&
        d.versions.exists(v => s"${d.name}-${v.version}" == s"$dataset-$version"))
        .foreach(d => throw Reject(409, s"Dataset version $dataset.$version would share " +
          s"its asset ids with a version of dataset ${d.name}"))
      if (c.record(dataset, version).isDefined)
        c.withVersionPatched(dataset, version, _.copy(status = "pending",
          changeLog = Nil, creationOptions = Some(opts)))
      else c.withVersion(dataset, cat.Version(dataset, version, isLatest = false,
        sourceType = opts.sourceType, status = "pending", creationOptions = Some(opts)))
    }
    val targetDir = s"$versionsRoot${dataset}_$version"
    val jobId = jobRegistry.submit { () =>
      val (log, ok) = VersionCreation.createTable(spark, dataset, version, opts, targetDir)
      // The terminal write: one swap publishes the DAG's tasks, the
      // built assets and the status, so a client that polls the status
      // and then queries (the reference's documented workflow) never
      // sees "saved" before the version serves. It never downgrades: a
      // concurrent PATCH /task that marked a default-asset task failed
      // keeps the version failed.
      def finish(assets: Option[Seq[cat.Asset]]): String =
        update(_.withVersionPatched(dataset, version, { v =>
          val built = assets.fold(v)(as => v.copy(isLatest = opts.latest,
            isDownloadable = true, sourceType = opts.sourceType, assets = as))
          built.withTasks(dagTasks(dataset, version, log)).copy(
            status = if (assets.isEmpty || v.status == "failed") "failed" else "saved",
            changeLog = log ++ v.changeLog)
        })).record(dataset, version).fold("failed")(_.status)
      // a failure while building the asset records still ends the
      // version "failed" (a version stuck at "pending" never ends the
      // poll-until-terminal workflow); the exception then propagates
      // so GET /job/{id} keeps its cause
      val assets =
        try if (ok) Some(builtAssets(dataset, version, opts, targetDir)) else None
        catch { case scala.util.control.NonFatal(e) => finish(None); throw e }
      val status = finish(assets)
      s"""{"dataset":"$dataset","version":"$version","status":"$status"}"""
    }
    respond(ex, 202, "application/json",
      s"""{"data":{"dataset":"$dataset","version":"$version","status":"pending","job_id":"$jobId"},"status":"success"}""")
  }

  /** The asset records of a version whose creation DAG saved in
    * `targetDir`: the default asset, plus the shapefile and GeoPackage
    * exports a vector version built, so /download/shp|gpkg
    * 307-redirect like the reference's prebuilt S3 artifacts. */
  private def builtAssets(dataset: String, version: String,
                          opts: graft.etl.VersionCreation.CreationOptions,
                          targetDir: String): Seq[cat.Asset] = {
    val assetType = opts.sourceType match {
      case "vector" => cat.AssetType.GeoDatabaseTable
      case "raster" => cat.AssetType.RasterTileSet
      case _ => cat.AssetType.DatabaseTable
    }
    // raster versions carry the DAG-derived grid/band metadata the
    // data environment synthesizes layers from
    val assetOpts =
      if (opts.sourceType == "raster")
        graft.etl.VersionCreation.rasterAssetOptions(targetDir)
      else Map.empty[String, String]
    val exports = Seq(
      ("shp", cat.AssetType.ShapefileExport),
      ("gpkg", cat.AssetType.GeopackageExport)).flatMap { case (ext, t) =>
      Some(new java.io.File(s"${targetDir}_exports/export.$ext")).filter(_.exists())
        .map(f => cat.Asset(s"$dataset-$version-$ext", t, f.getPath, isDefault = false))
    }
    cat.Asset(s"$dataset-$version-default", assetType, targetDir, isDefault = true,
      creationOptions = assetOpts) +: exports
  }

  /** Append new source URIs to an existing created version
    * (`POST /dataset/{d}/{v}/append`, `versions.py` append route):
    * 202 + background job that re-runs ONLY the load tasks with the
    * version's creation options (`table_source_assets.py:221-285`)
    * into its default asset's files — idempotent via the
    * unique-constraint anti-join. */
  private def versionAppend(ex: HttpExchange, dataset: String, version: String): Unit = {
    import graft.etl.VersionCreation
    writeGate(ex)
    val (v, opts, targetDir) = (for {
      v <- catalog.version(dataset, version)
      opts <- v.creationOptions
      a <- v.defaultAsset
    } yield (v, opts, a.assetUri)).getOrElse(
      throw Reject(404, s"Dataset version $dataset.$version not found or not appendable"))
    if (opts.sourceType == "raster")
      throw Reject(501, "Append is not implemented for raster versions")
    val uris = parseBody(bodyOf(ex)).get("creation_options") match {
      case Some(m: Map[_, _]) =>
        m.asInstanceOf[Map[String, Any]].get("source_uri") match {
          case Some(l: List[_]) => l.map(_.toString)
          case Some(s: String) => Seq(s)
          case _ => Nil
        }
      case _ => Nil
    }
    if (uris.isEmpty) throw Reject(422, "No source URI provided.")

    uris.find(!sourceAllowed(_)).foreach { uri =>
      throw Reject(403, s"Source URI outside the allowed data directories: $uri") }
    update(_.withVersionPatched(dataset, v.version, _.copy(status = "pending")))
    val jobId = jobRegistry.submit { () =>
      val (log, ok) =
        if (opts.sourceType == "vector")
          VersionCreation.appendVectorSources(spark, dataset, v.version, uris, targetDir)
        else
          VersionCreation.appendSources(spark, dataset, v.version, opts, uris, targetDir)
      val status = if (ok) "saved" else "failed"
      // append to the log as it is at the swap — the log read at
      // request time would lose a concurrent append's entries
      update(_.withVersionPatched(dataset, v.version, x =>
        x.copy(status = status, changeLog = x.changeLog ++ log)))
      s"""{"dataset":"$dataset","version":"$version","status":"$status"}"""
    }
    respond(ex, 202, "application/json",
      s"""{"data":{"dataset":"$dataset","version":"$version","status":"pending","job_id":"$jobId"},"status":"success"}""")
  }

  /** GET /assets (`assets/assets.py:18-…`): the catalog's full asset
    * list, filterable by `asset_type` and `dataset`. */
  private def assetsList(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    val items = for {
      d <- catalog.datasets.sortBy(_.name)
      v <- d.versions.sortBy(_.version)
      a <- v.assets
      if params.get("asset_type").forall(_ == a.assetType)
      if params.get("dataset").forall(_ == d.name)
    } yield assetJson(a, Some(v))
    respond(ex, 200, "application/json",
      s"""{"data":[${items.mkString(",")}],"status":"success"}""")
  }

  /** POST /dataset/{d}/{v}/assets (`add_new_asset`,
    * `assets/assets.py:111-…`): build a follow-up asset for a saved
    * version. COG is the supported managed type — the job coalesces
    * the source raster tile set into one cloud-optimized GeoTIFF with
    * average-resampled overviews (`cog_assets.py:26-117`; creation
    * options `source_asset_id`, `block_size`, `resampling`,
    * `implementation` per `COGCreationOptions`). The build is
    * DISTRIBUTED ([[graft.raster.Cog.buildFromLake]]): executors
    * assemble and encode TIFF blocks, the driver streams compressed
    * bytes — never a full-lake collect; the at-scale query path stays
    * the Parquet tile lake. */
  private def assetAdd(ex: HttpExchange, dataset: String, version: String): Unit = {
    writeGate(ex)
    val ver = versionOf(dataset, version)
    val obj = parseBody(bodyOf(ex))
    val co = obj.get("creation_options") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any]
    }
    obj.get("asset_type") match {
      case Some(cat.AssetType.Cog) => cogAdd(ex, dataset, ver.version, ver, co)
      case Some(cat.AssetType.RasterTileCache) => rasterTileCacheAdd(ex, dataset, ver.version, ver, co)
      case Some(cat.AssetType.StaticVectorTileCache) =>
        vectorTileCacheAdd(ex, dataset, ver.version, ver, co)
      case other =>
        throw Reject(501, "Not implemented for asset type " + other.getOrElse("(missing)"))
    }
  }

  private def cogAdd(ex: HttpExchange, dataset: String, version: String,
                     ver: cat.Version, co: Map[String, Any]): Unit = {
    val resampling = co.getOrElse("resampling", "average").toString
    if (resampling != "average")
      throw Reject(501, s"Unsupported resampling method $resampling (average only)")
    val blockSize =
      try co.get("block_size").map(_.toString.toDouble.toInt).getOrElse(512)
      catch { case _: NumberFormatException =>
        throw Reject(422, "block_size must be a positive multiple of 16") }
    if (blockSize <= 0 || blockSize % 16 != 0)
      throw Reject(422, "block_size must be a positive multiple of 16")
    val implementation = co.getOrElse("implementation", "default").toString
    val source = sourceTileSet(dataset, version, ver, co)
    val outDir = java.nio.file.Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_versions/${dataset}_${version}_exports")
    val outPath = outDir.resolve(s"cog_$implementation.tif")
    val asset = cat.Asset(s"$dataset-$version-cog-$implementation", cat.AssetType.Cog,
      outPath.toString, isDefault = false,
      creationOptions = Map(
        "source_asset_id" -> source.assetId,
        "block_size" -> blockSize.toString,
        "resampling" -> resampling,
        "implementation" -> implementation),
      status = "pending")
    addAsset(ex, dataset, version, asset, "cogify", s"cogify_$implementation") {
      val g = graft.raster.DataEnvironment.gridOf(source.creationOptions)
      val band = source.creationOptions.getOrElse("band",
        s"px_${source.creationOptions.getOrElse("pixel_meaning", "value")}")
      graft.raster.TileLake.ensureLake(spark, source.assetUri)
      java.nio.file.Files.createDirectories(outDir)
      // distributed mosaic: executors assemble + encode TIFF
      // blocks, the driver only streams compressed bytes — never a
      // full-lake collect ([[graft.raster.Cog]]); absent tiles fill
      // with the asset's declared no_data (0 when none declared)
      val nd = source.creationOptions.get("no_data")
        .map(_.toString.toDouble).getOrElse(0.0)
      val nTiles = graft.raster.Cog.buildFromLake(
        spark, source.assetUri, band, g, blockSize, outPath, noData = nd)
      (s"$outPath ($nTiles tiles, block $blockSize)",
        s"""{"asset_id":"${asset.assetId}","status":"saved"}""")
    }
  }

  /** The raster tile set of the version named by the creation option
    * `source_asset_id` ("Must be an asset of the same version"). */
  private def sourceTileSet(dataset: String, version: String, ver: cat.Version,
                            co: Map[String, Any]): cat.Asset = {
    val srcId = co.get("source_asset_id") match {
      case Some(s: String) => s
      case _ => throw Reject(422, "source_asset_id is required")
    }
    ver.assets.find(_.assetId == srcId) match {
      case Some(a) if a.assetType == cat.AssetType.RasterTileSet => a
      case Some(_) => throw Reject(400, s"Source asset $srcId is not a raster tile set")
      case None => throw Reject(400, s"Source asset $srcId is not an asset of $dataset.$version")
    }
  }

  /** Reserve `asset`'s record, build it in a background job and answer
    * 202 with the job id. The record is reserved SYNCHRONOUSLY (status
    * pending, the reference's asset-row-before-batch-job shape): the
    * check and the append share the lock, or two quick identical POSTs
    * both pass and duplicate the record. A FAILED record is
    * re-reservable — otherwise one transient build error would 409
    * every retry until a manual DELETE. When `build` returns (task
    * detail, job result) the asset turns "saved" and gets a one-entry
    * task record `task`; when it throws the asset turns "failed". */
  private def addAsset(ex: HttpExchange, dataset: String, version: String,
                       asset: cat.Asset, task: String, taskKey: String)
                      (build: => (String, String)): Unit = {
    val assetId = asset.assetId
    update { c =>
      val cleared = c.asset(assetId) match {
        case Some((v, prior)) if prior.status == "failed" =>
          c.withoutAsset(v.dataset, v.version, assetId)
        case Some(_) =>
          throw Reject(409, s"Asset $assetId already exists (choose another implementation)")
        case None => c
      }
      cleared.withVersionPatched(dataset, version, v => v.copy(assets = v.assets :+ asset))
    }
    val jobId = jobRegistry.submit { () =>
      try {
        val (detail, result) = build
        val tid = graft.geo.GeoExpressions.Uuid5.of("oid", s"task:$dataset/$version/$taskKey")
        val t = cat.Task(tid, assetId, Seq(
          graft.etl.VersionCreation.ChangeLog(task, "success", detail)))
        update(_.withAssetPatched(assetId, _.copy(status = "saved"))
          .withVersionPatched(dataset, version, _.withTasks(Seq(t))))
        result
      } catch {
        case e: Throwable =>
          update(_.withAssetPatched(assetId, _.copy(status = "failed")))
          throw e
      }
    }
    respond(ex, 202, "application/json",
      s"""{"data":{"asset_id":"$assetId","dataset":"$dataset","version":"$version","asset_type":"${asset.assetType}","status":"pending","job_id":"$jobId"},"status":"success"}""")
  }

  /** POST asset_type "Raster tile cache"
    * (`raster_tile_cache_assets.py` — the reference fans out
    * gdal2tiles + symbology lambdas per zoom): pre-renders the source
    * raster tile set as z/x/y web-mercator PNG tiles for zooms
    * 0..max_static_zoom with a discrete/gradient colormap
    * ([[graft.raster.TileCache]]; one distributed source-driven pass,
    * PNG encode at the reducer). Tiles serve from
    * `GET /{dataset}/{version}/{implementation}/{z}/{x}/{y}.png` —
    * the tile-cache URL shape. */
  private def rasterTileCacheAdd(ex: HttpExchange, dataset: String, version: String,
                                 ver: cat.Version, co: Map[String, Any]): Unit = {
    val implementation = co.getOrElse("implementation", "default").toString
    val maxZoom = number("max_static_zoom",
      co.get("max_static_zoom").map(_.toString.toDouble.toInt).getOrElse(9))
    if (maxZoom < 0 || maxZoom > 22)
      throw Reject(422, "max_static_zoom must be in 0..22")
    val resampling = co.getOrElse("resampling", "nearest").toString
    if (resampling != "nearest")
      throw Reject(501, s"Unsupported resampling method $resampling (nearest only)")
    val sym = co.get("symbology") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => throw Reject(422, "symbology is required")
    }
    val cmap =
      try graft.raster.TileCache.Colormap.parse(sym)
      catch { case e: IllegalArgumentException =>
        throw Reject(422, Option(e.getMessage).getOrElse("Invalid symbology")) }
    val source = sourceTileSet(dataset, version, ver, co)
    val outDir = java.nio.file.Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_versions/" +
        s"${dataset}_${version}_tilecache/$implementation")
    val asset = cat.Asset(s"$dataset-$version-tilecache-$implementation",
      cat.AssetType.RasterTileCache, outDir.toString, isDefault = false,
      creationOptions = Map(
        "source_asset_id" -> source.assetId,
        "implementation" -> implementation,
        "resampling" -> resampling,
        "min_zoom" -> "0",
        "max_static_zoom" -> maxZoom.toString),
      status = "pending")
    addAsset(ex, dataset, version, asset, "tile_cache", s"tilecache_$implementation") {
      val g = graft.raster.DataEnvironment.gridOf(source.creationOptions)
      val band = source.creationOptions.getOrElse("band",
        s"px_${source.creationOptions.getOrElse("pixel_meaning", "value")}")
      val noData = source.creationOptions.get("no_data").map(_.toDouble)
      graft.raster.TileLake.ensureLake(spark, source.assetUri)
      val n = graft.raster.TileCache.build(spark, source.assetUri, band, g,
        cmap, noData, maxZoom, outDir.toString)
      (s"$outDir ($n tiles, zooms 0..$maxZoom)",
        s"""{"asset_id":"${asset.assetId}","status":"saved","tiles":$n}""")
    }
  }

  /** POST asset_type "Static vector tile cache"
    * (`static_vector_tile_cache_assets.py` — the reference exports
    * NDJSON and shells out to tippecanoe): renders the vector
    * version's geo table as z/x/y Mapbox Vector Tiles
    * ([[graft.geo.VectorTileCache]] — bbox fan-out, per-tile clip +
    * quantize + MVT encode in one distributed pass) and writes the
    * Mapbox-GL `root.json` from the posted `layer_style`. Tiles serve
    * from `GET /{dataset}/{version}/{implementation}/{z}/{x}/{y}.pbf`. */
  private def vectorTileCacheAdd(ex: HttpExchange, dataset: String, version: String,
                                 ver: cat.Version, co: Map[String, Any]): Unit = {
    val implementation = co.getOrElse("implementation", "default").toString
    val minZoom = number("min_zoom",
      co.get("min_zoom").map(_.toString.toDouble.toInt).getOrElse(0))
    val maxZoom = number("max_zoom",
      co.get("max_zoom").map(_.toString.toDouble.toInt).getOrElse(9))
    if (minZoom < 0 || maxZoom > 22 || maxZoom < minZoom)
      throw Reject(422, "`max_zoom` must be equal or larger than `min_zoom` (0..22)")
    val source = ver.assets.find(a =>
      a.isDefault && a.assetType == cat.AssetType.GeoDatabaseTable).getOrElse(
      throw Reject(400, s"$dataset.$version is not a vector version (no geo database table)"))
    val fields: Seq[String] = co.get("field_attributes") match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case _ =>
        // default: the version's feature-info columns — every stored
        // attribute except the geometry/derived internals
        val internal = Set("geom", "lon", "lat", "gfw_geojson", "gfw_geostore_id")
        spark.read.parquet(source.assetUri).schema.fieldNames.toSeq
          .filterNot(internal)
    }
    val layerStyle = co.get("layer_style") match {
      case Some(xs: Seq[_]) => graft.geo.Json.write(xs.toList)
      case _ => "[]"
    }
    val outDir = java.nio.file.Paths.get(
      s"${sys.props("java.io.tmpdir")}/graft_versions/" +
        s"${dataset}_${version}_vectortiles/$implementation")
    val asset = cat.Asset(s"$dataset-$version-vectortilecache-$implementation",
      cat.AssetType.StaticVectorTileCache, outDir.toString, isDefault = false,
      creationOptions = Map(
        "implementation" -> implementation,
        "min_zoom" -> minZoom.toString,
        "max_zoom" -> maxZoom.toString),
      status = "pending")
    addAsset(ex, dataset, version, asset, "vector_tile_cache", s"vectortiles_$implementation") {
      val rows = spark.read.parquet(source.assetUri)
      val n = graft.geo.VectorTileCache.build(spark, rows, dataset,
        fields, minZoom, maxZoom, outDir.toString)
      // Mapbox-GL root.json (tile-cache convention): the posted
      // layer styles over a vector source at the serving URL shape
      val rootJson =
        s"""{"version":8,"sources":{${graft.geo.Json.write(dataset)}:{""" +
          s""""type":"vector","tiles":[${graft.geo.Json.write(
            s"/$dataset/$version/$implementation/{z}/{x}/{y}.pbf")}],""" +
          s""""minzoom":$minZoom,"maxzoom":$maxZoom}},"layers":$layerStyle}"""
      java.nio.file.Files.writeString(outDir.resolve("root.json"), rootJson)
      (s"$outDir ($n tiles, zooms $minZoom..$maxZoom, fields ${fields.mkString(",")})",
        s"""{"asset_id":"${asset.assetId}","status":"saved","tiles":$n}""")
    }
  }

  /** GET /{dataset}/{version}/{implementation}/{z}/{x}/{y}.{png|pbf}
    * — the tile-cache serving shape (the reference serves these from
    * the tile-cache CDN; same path layout). */
  private def serveTile(ex: HttpExchange, dataset: String, version: String,
                        impl: String, z: String, x: String, y: String,
                        ext: String): Unit = {
    val wanted =
      if (ext == "png") cat.AssetType.RasterTileCache
      else cat.AssetType.StaticVectorTileCache
    val a = savedTileCache(dataset, version, impl, wanted).getOrElse(
      throw Reject(404, s"No $wanted $impl for $dataset.$version"))
    val f = java.nio.file.Paths.get(a.assetUri, z, x, s"$y.$ext")
    if (!java.nio.file.Files.exists(f)) throw Reject(404, "Tile not found")
    val bytes = java.nio.file.Files.readAllBytes(f)
    val ctype =
      if (ext == "png") "image/png" else "application/x-protobuf"
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(200, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def savedTileCache(dataset: String, version: String, impl: String,
                             assetType: String): Option[cat.Asset] =
    catalog.version(dataset, version).toSeq.flatMap(_.assets)
      .find(a => a.assetType == assetType &&
        a.creationOptions.get("implementation").contains(impl) &&
        a.status == "saved")

  /** GET /{dataset}/{version}/{implementation}/root.json — the
    * Mapbox-GL style document the vector tile cache builder writes
    * (tile-cache convention: the style lives next to the tiles). */
  private def serveTileRoot(ex: HttpExchange, dataset: String,
                            version: String, impl: String): Unit = {
    val a = savedTileCache(dataset, version, impl, cat.AssetType.StaticVectorTileCache)
      .getOrElse(throw Reject(404, s"No static vector tile cache $impl for $dataset.$version"))
    val f = java.nio.file.Paths.get(a.assetUri, "root.json")
    if (!java.nio.file.Files.exists(f)) throw Reject(404, "root.json not found")
    respond(ex, 200, "application/json", java.nio.file.Files.readString(f))
  }

  /** GET /dataset/{d}/{v}/assets (`versions.py` + `asset.py` asset
    * listing): every asset record of the version — the default
    * database table plus derived exports. */
  private def versionAssets(ex: HttpExchange, dataset: String, version: String): Unit = {
    val items = versionOf(dataset, version).assets.map(assetJson(_)).mkString(",")
    respond(ex, 200, "application/json", s"""{"data":[$items],"status":"success"}""")
  }

  /** GET /dataset/{d}/{v}/creation_options (`versions.py:333-347`):
    * the creation options the version was created with — the settings
    * `/append` re-runs loads with. */
  private def creationOptions(ex: HttpExchange, dataset: String, version: String): Unit = {
    val o = catalog.record(dataset, version).flatMap(_.creationOptions).getOrElse(
      throw Reject(404, s"Dataset version $dataset.$version has no creation options"))
    val uris = o.sourceUris.map(graft.geo.Json.write).mkString("[", ",", "]")
    respond(ex, 200, "application/json",
      s"""{"data":{"source_uri":$uris,"source_type":"${o.sourceType}","delimiter":${graft.geo.Json.write(o.delimiter)},"has_header":${o.header},"latest":${o.latest},"pixel_meaning":"${o.pixelMeaning}"},"status":"success"}""")
  }


  /** GET /dataset/{d}/{v}/change_log (`versions.py:317-330`): the
    * creation DAG's task log on its own. */
  private def versionChangeLog(ex: HttpExchange, dataset: String, version: String): Unit =
    respond(ex, 200, "application/json",
      s"""{"data":[${changeLogJson(recordOf(dataset, version).changeLog)}],"status":"success"}""")

  /** Version status + change log (`GET /dataset/{d}/{v}`), pollable
    * while a creation runs. */
  private def versionGet(ex: HttpExchange, dataset: String, version: String): Unit =
    respond(ex, 200, "application/json", versionBody(dataset, version, recordOf(dataset, version)))

  private def versionBody(dataset: String, version: String, v: cat.Version): String =
    s"""{"data":{"dataset":"$dataset","version":"$version","status":"${v.status}","is_latest":${v.isLatest},"change_log":[${changeLogJson(v.changeLog)}]},"status":"success"}"""

  // ------------------------------------------------- dataset/version CRUD

  /** JSEND body for one dataset record (`_dataset_response`,
    * `dataset.py:190-…`: metadata + the version name list). */
  private def datasetBody(d: cat.Dataset): String =
    s"""{"data":{"dataset":"${d.name}","metadata":${jsonObject(d.metadata)},"versions":${versionNames(d)}},"status":"success"}"""

  private def versionNames(d: cat.Dataset): String =
    d.versions.map(v => graft.geo.Json.write(v.version)).mkString("[", ",", "]")

  /** A string map as a JSON object, keys sorted. */
  private def jsonObject(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${graft.geo.Json.write(k)}:${graft.geo.Json.write(v)}"
    }.mkString("{", ",", "}")

  private def metadataOf(obj: Map[String, Any]): Map[String, String] =
    obj.get("metadata") match {
      case Some(m: Map[_, _]) =>
        m.asInstanceOf[Map[String, Any]].collect {
          case (k, s: String) => k -> s
          case (k, v) if v != null => k -> graft.geo.Json.write(v)
        }
      case _ => Map.empty
    }

  /** GET /datasets (`datasets.py` get_datasets + `utils/paginate.py`):
    * all dataset records; with `page[size]` / `page[number]` the
    * response pages and carries the reference's links + meta blocks. */
  private def datasetsList(ex: HttpExchange): Unit = {
    val all = catalog.datasets.sortBy(_.name)
    def item(d: cat.Dataset): String = s"""{"dataset":"${d.name}","versions":${versionNames(d)}}"""
    val params = queryParams(ex)
    val sizeP = params.get("page[size]")
    val pageP = params.get("page[number]")
    if (sizeP.isEmpty && pageP.isEmpty)
      respond(ex, 200, "application/json",
        s"""{"data":[${all.map(item).mkString(",")}],"status":"success"}""")
    else {
      val size = number("page[size]", sizeP.map(_.toInt).getOrElse(10))
      val page = number("page[number]", pageP.map(_.toInt).getOrElse(1))
      if (size <= 0 || page <= 0)
        throw Reject(422, "page[size] and page[number] must be positive")
      val totalPages = math.max(1, (all.length + size - 1) / size)
      val slice = all.slice((page - 1) * size, (page - 1) * size + size)
      def link(p: Int) = s"/datasets?page[number]=$p&page[size]=$size"
      val links =
        s"""{"self":"${link(page)}","first":"${link(1)}","last":"${link(totalPages)}",""" +
          s""""prev":"${if (page > 1) link(page - 1) else ""}",""" +
          s""""next":"${if (page < totalPages) link(page + 1) else ""}"}"""
      val meta = s"""{"size":$size,"total_items":${all.length},"total_pages":$totalPages}"""
      respond(ex, 200, "application/json",
        s"""{"data":[${slice.map(item).mkString(",")}],"links":$links,"meta":$meta,"status":"success"}""")
    }
  }

  /** PUT /dataset/{d} (`dataset.py:84-116`): create the metadata-only
    * dataset record; 201, or 400 when the record already exists
    * (reference RecordAlreadyExistsError). Requires a manager/admin. */
  private def datasetPut(ex: HttpExchange, dataset: String): Unit = {
    writeGate(ex)
    if (catalog.dataset(dataset).isDefined || builtinDatasets.contains(dataset))
      throw Reject(400, s"Dataset with name $dataset already exists")
    val meta = metadataOf(bodyObject(ex))
    val created = update(_.withDataset(dataset, meta)).dataset(dataset).get
    ex.getResponseHeaders.add("Location", s"/$dataset")
    respond(ex, 201, "application/json", datasetBody(created))
  }

  /** GET /dataset/{d} (`dataset.py:61-75`). */
  private def datasetGet(ex: HttpExchange, dataset: String): Unit =
    respond(ex, 200, "application/json", datasetBody(datasetOf(dataset)))

  private def datasetOf(dataset: String, c: cat.Catalog = catalog): cat.Dataset =
    c.dataset(dataset).getOrElse(throw Reject(404, s"Dataset $dataset not found"))

  /** PATCH /dataset/{d} (`dataset.py:125-148`): merge individual
    * metadata fields without touching the rest. */
  private def datasetPatch(ex: HttpExchange, dataset: String): Unit = {
    writeGate(ex)
    datasetOf(dataset)
    val patch = metadataOf(bodyObject(ex))
    respond(ex, 200, "application/json",
      datasetBody(datasetOf(dataset, update(_.withDatasetMetadata(dataset, patch)))))
  }

  /** DELETE /dataset/{d} (`dataset.py:157-188`): only once no versions
    * remain, a first creation still pending included — 409 otherwise,
    * word-for-word the reference detail. */
  private def datasetDelete(ex: HttpExchange, dataset: String): Unit = {
    writeGate(ex)
    var d: cat.Dataset = null
    update { c =>
      d = datasetOf(dataset, c)
      if (d.versions.nonEmpty)
        throw Reject(409, "There are versions registered with the dataset." +
          "Delete all related versions prior to deleting a dataset")
      c.withoutDataset(dataset)
    }
    respond(ex, 200, "application/json", datasetBody(d))
  }

  /** PATCH /dataset/{d}/{v} (`versions.py:154-199`): update the
    * `latest` tag and/or downloadability of a version. */
  private def versionPatch(ex: HttpExchange, dataset: String, version: String): Unit = {
    writeGate(ex)
    val name = versionOf(dataset, version).version
    val obj = bodyObject(ex)
    val isLatest = obj.get("is_latest").collect { case b: Boolean => b }
    val downloadable = obj.get("is_downloadable").collect { case b: Boolean => b }
    val patched = update(_.withVersionPatched(dataset, name, v =>
      v.copy(
        isLatest = isLatest.getOrElse(v.isLatest),
        isDownloadable = downloadable.getOrElse(v.isDownloadable))))
    respond(ex, 200, "application/json",
      versionBody(dataset, version, recordOf(dataset, name, patched)))
  }

  /** DELETE /dataset/{d}/{v} (`versions.py:279-315`): refuse to delete
    * a `latest` version while siblings exist (reference 409 detail);
    * otherwise drop the version with everything it holds, its
    * registered view, and its assets' files (the background
    * `delete_all_assets`). Builtin lake tables are not deletable — they
    * are the test fixture, not managed assets. */
  private def versionDelete(ex: HttpExchange, dataset: String, version: String): Unit = {
    writeGate(ex)
    if (builtinDatasets.contains(dataset))
      throw Reject(409, s"Dataset $dataset conflicts with a pre-registered table")
    var v: cat.Version = null
    update { c =>
      v = recordOf(dataset, version, c)
      // a running creation or append job would leave its files and
      // view behind with no record pointing at them
      if (v.status == "pending")
        throw Reject(409, s"Dataset version $dataset.${v.version} has a job in progress. " +
          "Wait until it finishes to delete the version.")
      if (v.isLatest && c.dataset(dataset).exists(_.versions.length > 1))
        throw Reject(409, "Deletion failed." +
          "You can only delete a version tagged as `latest` if no other version of the same dataset exists." +
          "Change `latest` version, or delete all other versions first.")
      c.withoutVersion(dataset, v.version)
    }
    // delete_all_assets: the registered view, the assets' files (the
    // vector exports sit beside the default asset's directory) and the
    // GeoTIFF tiles cut from it
    spark.catalog.dropTempView(graft.etl.VersionCreation.viewName(dataset, v.version))
    for (path <- v.assets.map(_.assetUri) ++ v.defaultAsset.map(_.assetUri + "_exports") :+
        geotiffCache(v).toString) {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq
          .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    respond(ex, 200, "application/json",
      s"""{"data":{"dataset":"$dataset","version":"$version","status":"deleted"},"status":"success"}""")
  }

  /** Where the GeoTIFF route caches the tiles it cuts from `v`. */
  private def geotiffCache(v: cat.Version): java.nio.file.Path = java.nio.file.Paths.get(
    s"${sys.props("java.io.tmpdir")}/graft_geotiff_cache/${v.dataset}_${v.version}")

  /** API-key creation (`POST /auth/apikey`): 201 with the new key.
    * Body: `{"domains": ["*.example.com", ...]}` (optional). */
  private def apiKeyCreate(ex: HttpExchange): Unit = {
    val reg = keyRegistry
    writeGate(ex)
    val domains = bodyObject(ex).get("domains") match {
      case Some(l: List[_]) => l.map(_.toString)
      case _ => Nil
    }
    val id = reg.create(domains)
    respond(ex, 201, "application/json",
      s"""{"data":{"api_key":"$id"},"status":"success"}""")
  }

  private def apiKeyBody(key: String, domains: Seq[String],
                         expires: Option[Long]): String = {
    val ds = domains.map(graft.geo.Json.write).mkString("[", ",", "]")
    val exp = expires.map(_.toString).getOrElse("null")
    s"""{"api_key":"$key","domains":$ds,"expires_on":$exp}"""
  }

  /** GET /auth/apikey/{key} (`authentication.py:106-128`). */
  private def apiKeyGet(ex: HttpExchange, key: String): Unit = {
    val reg = keyRegistry
    writeGate(ex)
    val (domains, expires) = reg.get(key).getOrElse(
      throw Reject(404, "The API Key does not exist."))
    respond(ex, 200, "application/json",
      s"""{"data":${apiKeyBody(key, domains, expires)},"status":"success"}""")
  }

  /** GET /auth/apikeys (`authentication.py:131-142`). */
  private def apiKeysList(ex: HttpExchange): Unit = {
    val reg = keyRegistry
    writeGate(ex)
    val items = reg.list.map { case (k, d, e) => apiKeyBody(k, d, e) }
    respond(ex, 200, "application/json",
      s"""{"data":[${items.mkString(",")}],"status":"success"}""")
  }

  /** GET /auth/apikey/{key}/validate (`authentication.py:145-167`):
    * admin-gated validity check with optional origin/referrer. */
  private def apiKeyValidate(ex: HttpExchange, key: String): Unit = {
    val reg = keyRegistry
    writeGate(ex)
    if (reg.get(key).isEmpty)
      throw Reject(404, "The requested API key does not exist.")
    val params = queryParams(ex)
    val valid = reg.isValid(key, params.get("origin"), params.get("referrer"))
    respond(ex, 200, "application/json",
      s"""{"data":{"is_valid":$valid},"status":"success"}""")
  }

  /** DELETE /auth/apikey/{key} (`authentication.py:170-205`). */
  private def apiKeyDelete(ex: HttpExchange, key: String): Unit = {
    val reg = keyRegistry
    writeGate(ex)
    val (domains, expires) = reg.delete(key).getOrElse(
      throw Reject(404, "The requested API key does not exist."))
    respond(ex, 200, "application/json",
      s"""{"data":${apiKeyBody(key, domains, expires)},"status":"success"}""")
  }


  /** OTF zonal statistics over a geostore AOI (`/analysis/zonal`,
    * `analysis.py:36-93`), resolved through `geostore_origin` like
    * every AOI route: geostore is mandatory for the raster engine (422
    * without one, `queries.py:487-503`). */
  private def zonal(ex: HttpExchange, pathGid: Option[String] = None): Unit = {
    val params = queryParams(ex)
    val gid = pathGid.orElse(params.get("geostore_id")).getOrElse(
      throw Reject(422, "Raster analysis requires a geostore_id"))
    val gj = resolveGeostore(gid, params.getOrElse("geostore_origin", "gfw")).getOrElse(
      throw Reject(404, s"Geostore $gid not found"))
    val req = graft.raster.ZonalEngine.Request(
      aoiGeoJson = gj,
      groupBy = params.get("group_by").map(_.split(",").toSeq)
        .getOrElse(Seq("landcover")),
      tcdThreshold = number("tcd_threshold",
        params.get("tcd_threshold").map(_.toInt)))
    val payload = withDeadline("zonal", raster = true) {
      Sinks.toJsend(graft.raster.ZonalEngine.run(spark, req))
    }
    ex.getResponseHeaders.add("Cache-Control", "max-age=7200")
    respond(ex, 200, "application/json", payload)
  }

  private val JobGet = "^/job/([^/]+)$".r
  private val JobDownload = "^/job/([^/]+)/download$".r

  /** Batch zonal analysis over an inline FeatureCollection: 202 + a
    * pollable job (the reference fans out ≤100 Step-Function lambdas;
    * here the features run through the zonal engine in one process —
    * the single-shuffle whole-batch plan is the r7_batch_zonal query).
    * Body: `{"feature_collection": {...}, "tcd_threshold": n?}`. */
  private def zonalBatch(ex: HttpExchange): Unit = {
    val obj = parseBody(bodyOf(ex))
    val fc = obj.get("feature_collection") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => throw Reject(422, "Missing feature_collection in request body")
    }
    val features = fc.getOrElse("features", List.empty).asInstanceOf[List[Any]]
    if (features.isEmpty || features.size > 100)
      throw Reject(400, "feature_collection must contain 1-100 features")
    val threshold = number("tcd_threshold",
      obj.get("tcd_threshold").map(_.toString.toDouble.toInt))
    val geoms = features.map { f =>
      graft.geo.Json.write(f.asInstanceOf[Map[String, Any]]("geometry"))
    }
    val id = jobRegistry.submit { () =>
      // ONE Spark job for the whole batch: broadcast AOI table × pruned
      // tile scan, fused per-(aoi, tile) pass, single (fid, key)
      // shuffle — not a sequential per-feature loop (the at-scale
      // answer to the reference's 100-lambda fan-out).
      val df = graft.raster.ZonalEngine.runBatch(spark, catalog, geoms, threshold)
      val rows = df.collect() // ≤ 100 features × |dict| rows (API sink)
      val byFid = rows.groupBy(_.getAs[Int]("fid")).toSeq.sortBy(_._1)
      byFid.map { case (fid, rs) =>
        val items = rs.map { r =>
          s"""{"landcover":${r.getAs[Long]("landcover")},""" +
            s""""landcover_name":${graft.geo.Json.write(r.getAs[String]("landcover_name"))},""" +
            s""""area_ha":${r.getAs[Double]("area_ha")},""" +
            s""""pixel_count":${r.getAs[Long]("pixel_count")}}"""
        }.mkString(",")
        s"""{"fid":$fid,"rows":[$items]}"""
      }.mkString("[", ",", "]")
    }
    respond(ex, 202, "application/json",
      s"""{"data":{"job_id":"$id","status":"pending"},"status":"success"}""")
  }

  /** User-SQL batch query over a feature list (`POST
    * /dataset/{d}/{v}/query/batch`, `queries.py:280-430`): exactly one
    * of `feature_collection` (inline, ≤256 KB payload), `uri` (GeoJSON
    * FeatureCollection file — the escape hatch for large geometry),
    * or `geostore_ids`. 202 + a pollable job; the whole list runs as
    * ONE Spark job (`ZonalEngine.runSqlBatch`). */
  private def queryBatch(ex: HttpExchange, dataset: String, version: String): Unit = {
    authGate(ex, dataset)
    val bytes = ex.getRequestBody.readAllBytes()
    if (bytes.length > 256 * 1024)
      throw Reject(413, "The request payload must be under 256 KB. Reference " +
          "larger feature files with the uri field instead.")
    val body = new String(bytes, StandardCharsets.UTF_8)
    if (!catalog.version(dataset, version).exists(
      _.defaultAsset.exists(_.assetType == cat.AssetType.RasterTileSet)))
      throw Reject(400, "Querying on lists is only available for raster tile sets.")
    val obj = parseBody(body)
    val sql = obj.get("sql") match {
      case Some(s: String) => s
      case _ => throw Reject(422, "Missing sql in request body")
    }
    val idField = obj.get("id_field").map(_.toString)
    val sources = Seq("feature_collection", "uri", "geostore_ids")
      .flatMap(k => obj.get(k).map(k -> _))
    val noSource = "Must provide valid feature collection, URI, or geostore_ids list."
    if (sources.length > 1)
      throw Reject(400,
        "Must provide only one of valid feature collection, URI, or geostore_ids list.")
    if (sources.isEmpty) throw Reject(400, noSource)

    def featuresOf(fc: Map[String, Any]): Seq[(String, String)] = {
      val features = fc.getOrElse("features", List.empty).asInstanceOf[List[Any]]
        .map(_.asInstanceOf[Map[String, Any]])
      features.zipWithIndex.map { case (f, i) =>
        val fid = idField.flatMap(k =>
          f.get("properties").collect { case p: Map[_, _] =>
            p.asInstanceOf[Map[String, Any]].get(k) }.flatten.map(graft.geo.Json.write))
          .getOrElse(i.toString)
        fid -> graft.geo.Json.write(f("geometry"))
      }
    }

    val geoms: Seq[(String, String)] =
      try sources.head match {
        case ("feature_collection", fc: Map[_, _]) =>
          featuresOf(fc.asInstanceOf[Map[String, Any]])
        case ("uri", uri) =>
          if (!sourceAllowed(uri.toString))
            throw Reject(403, s"Source URI outside the allowed data directories: $uri")
          val p = java.nio.file.Paths.get(
            uri.toString.stripPrefix("file://"))
          if (!java.nio.file.Files.isReadable(p))
            throw Reject(400, "Cannot access all of the source files")
          featuresOf(graft.geo.Json.parseObject(
            java.nio.file.Files.readString(p)))
        case ("geostore_ids", ids: List[_]) =>
          ids.map { id =>
            val gid = id.toString
            gid -> resolveGeostore(gid, "gfw").getOrElse(
              throw Reject(404, s"Geostore $gid not found"))
          }
        case _ => throw Reject(400, noSource)
      } catch {
        // the 403/400/404 answers above keep their own status
        case r: Reject => throw r
        case _: Exception => throw Reject(400, "Could not parse feature input")
      }

    if (geoms.isEmpty || geoms.size > 100)
      throw Reject(400, "feature list must contain 1-100 features")

    val overrides = versionOverrides(obj)
    val id = jobRegistry.submit { () =>
      val df = graft.raster.ZonalEngine.runSqlBatch(
        spark, catalog, dataset, sql, geoms, overrides)
      val rows = df.collect()
      val outCols = df.schema.fields.map(_.name).filterNot(_ == "fid")
      val byFid = rows.groupBy(_.getAs[String]("fid")).toSeq.sortBy(_._1)
      byFid.map { case (fid, rs) =>
        val items = rs.map { r =>
          outCols.map { c =>
            val i = r.fieldIndex(c)
            val v =
              if (r.isNullAt(i)) "null"
              else r.get(i) match {
                case n: java.lang.Number => n.toString
                case other => graft.geo.Json.write(other.toString)
              }
            s"${graft.geo.Json.write(c)}:$v"
          }.mkString("{", ",", "}")
        }.mkString(",")
        s"""{"fid":${graft.geo.Json.write(fid)},"rows":[$items]}"""
      }.mkString("[", ",", "]")
    }
    respond(ex, 202, "application/json",
      s"""{"data":{"job_id":"$id","status":"pending"},"status":"success"}""")
  }

  /** `version_overrides` request-body map (`_query_raster`'s
    * per-dataset latest-override resolution, `queries.py:556,790-813`). */
  private def versionOverrides(obj: Map[String, Any]): Map[String, String] =
    obj.get("version_overrides") match {
      case Some(m: Map[_, _]) =>
        m.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString }
      case _ => Map.empty
    }

  /** Content-addressed geostore id of a geometry (the service-wide
    * convention: md5 of the canonical GeoJSON, uuid-formatted). */
  private def geostoreIdOf(canonical: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
    val hex = md.map(b => f"$b%02x").mkString
    s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-" +
      s"${hex.substring(16, 20)}-${hex.substring(20)}"
  }

  /** GET /geostore/admin/list (`geostore.py:99-133` +
    * `crud/geostore.py:137-178`, the A9 admin aggregation): national
    * ids/names/codes ordered by id. Geostore ids are the
    * content-addressed hash of each country's synthesized boundary
    * polygon ([[graft.geo.AdminFixtures]]) — the same id the
    * per-boundary routes serve and register. */
  private def adminList(ex: HttpExchange): Unit = {
    adminSource(queryParams(ex))
    val rows = spark.sql(
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey").collect()
    val items = rows.map { r =>
      val k = r.get(0).toString.toInt
      val canonical = graft.geo.Geom.toGeoJson(
        graft.geo.AdminFixtures.polygon(graft.geo.AdminFixtures.adm0Rect(k)))
      // register every advertised id so it immediately resolves via
      // GET /geostore/{id} (before the fix, ids 404'd until the
      // per-boundary route happened to be hit first)
      val id = geostoreIdOf(canonical)
      geostore.put(id, canonical)
      s"""{"geostore_id":"$id","iso":"${r.get(0)}",""" +
        s""""name":${graft.geo.Json.write(r.getString(1))}}"""
    }.mkString(",")
    respond(ex, 200, "application/json", s"""{"data":[$items],"status":"success"}""")
  }

  /** The admin boundary source `(provider, version)` a request names;
    * gadm is the only provider. */
  private def adminSource(params: Map[String, String]): (String, String) = {
    val provider = params.getOrElse("source[provider]", "gadm")
    val version = params.getOrElse("source[version]", "3.6")
    if (provider.isEmpty || version.isEmpty)
      throw Reject(400, "source provider and version must be non-empty")
    if (provider != "gadm")
      throw Reject(400, s"Invalid admin boundary source $provider")
    (provider, version)
  }

  /** GET /geostore/admin/{country}[/{region}[/{subregion}]]
    * (`geostore.py:135-260` + `crud/geostore.py:218-330`
    * `build_gadm_geostore`/`form_admin_geostore`): the per-boundary
    * GADM geometry lookup. The reference proxies gadm/3.6 to the RW
    * API and serves other versions from a boundary version table;
    * zero-egress build serves BOTH from the synthesized deterministic
    * boundaries ([[graft.geo.AdminFixtures]] — documented divergence
    * in data source, same response shape). The boundary's geostore id
    * is content-addressed and REGISTERED, so it resolves through
    * `GET /geostore/{id}` and works as a query `geostore_id`. */
  private def adminBoundary(ex: HttpExchange, cid: String,
                            rid: Option[String], sid: Option[String]): Unit = {
    import graft.geo.{AdminFixtures, Geom, Json}
    val params = queryParams(ex)
    val (provider, version) = adminSource(params)
    val notFound = Reject(404, s"Admin boundary not found in $provider version $version")
    val k = cid.toIntOption.getOrElse(throw notFound)
    val country = spark.sql(s"SELECT n_name FROM nation WHERE n_nationkey = $k")
      .collect().headOption.map(_.getString(0)).getOrElse(throw notFound)
    val r1 = rid.map(_.toIntOption.getOrElse(throw notFound))
    val s2 = sid.map(_.toIntOption.getOrElse(throw notFound))
    if (r1.exists(r => r < 1 || r > 4) || s2.exists(s => s < 1 || s > 2))
      throw notFound
    val admLevel = s2.map(_ => 2).orElse(r1.map(_ => 1)).getOrElse(0)
    val rect = (r1, s2) match {
      case (Some(r), Some(s)) => AdminFixtures.adm2Rect(k, r, s)
      case (Some(r), None) => AdminFixtures.adm1Rect(k, r)
      case _ => AdminFixtures.adm0Rect(k)
    }
    val simplify = number("simplify", params.get("simplify").map(_.toDouble))
    val poly0 = AdminFixtures.polygon(rect)
    // Douglas–Peucker at the requested tolerance (identity on the
    // rectangular fixtures; the threshold is echoed in `info`)
    val poly = simplify.map(Geom.simplify(poly0, _)).getOrElse(poly0)
    val canonical = Geom.toGeoJson(poly)
    val id = geostoreIdOf(canonical)
    geostore.put(id, canonical)
    val name = admLevel match {
      case 0 => country
      case 1 => s"$country Region ${r1.get}"
      case _ => s"$country Region ${r1.get} Subregion ${s2.get}"
    }
    val (bx0, by0, bx1, by1) = poly.bbox
    val info = {
      val base =
        s""""use":{},"simplifyThresh":${simplify.map(_.toString).getOrElse("null")},""" +
          s""""gadm":${Json.write(version)},"name":${Json.write(name)},"iso":${Json.write(cid)}"""
      admLevel match {
        case 0 => s"{$base}"
        case 1 => s"""{$base,"id1":${r1.get}}"""
        case _ => s"""{$base,"id1":${r1.get},"id2":${s2.get}}"""
      }
    }
    respond(ex, 200, "application/json",
      s"""{"data":{"type":"geoStore","id":"$id","attributes":{""" +
        s""""geojson":{"crs":{},"type":"FeatureCollection","features":[""" +
        s"""{"geometry":$canonical,"properties":null,"type":"Feature"}]},""" +
        s""""hash":"$id","provider":{},"areaHa":${Geom.areaHa(poly)},""" +
        s""""bbox":[$bx0,$by0,$bx1,$by1],"lock":false,"info":$info}},""" +
        s""""status":"success"}""")
  }

  private def geostoreCreate(ex: HttpExchange): Unit = {
    val geom =
      try graft.geo.Geom.fromGeoJson(bodyOf(ex))
      catch { case scala.util.control.NonFatal(_) =>
        throw Reject(422, "Invalid GeoJSON body") }
    val canonical = graft.geo.Geom.toGeoJson(geom)
    val id = geostoreIdOf(canonical)
    geostore.put(id, canonical)
    respond(ex, 201, "application/json",
      s"""{"data":{"gfw_geostore_id":"$id"},"status":"success"}""")
  }

  // --------------------------------------------------------------- utils

  private def bodyOf(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** The request body's JSON object; an empty body reads as `{}`. */
  private def bodyObject(ex: HttpExchange): Map[String, Any] = {
    val body = bodyOf(ex)
    if (body.isBlank) Map.empty else parseBody(body)
  }

  /** Parse a JSON request body, rejecting it with 422 (the
    * validation-error contract every write route shares) instead of
    * letting the parse exception surface as a 500. */
  private def parseBody(body: String, invalid: String = "Invalid request body"): Map[String, Any] =
    try graft.geo.Json.parseObject(body)
    catch { case scala.util.control.NonFatal(_) => throw Reject(422, invalid) }

  /** A numeric parameter, rejected with 422 on a non-numeric value
    * instead of a NumberFormatException 500. */
  private def number[T](name: String, parse: => T): T =
    try parse
    catch {
      case _: NumberFormatException | _: ClassCastException =>
        throw Reject(422, s"$name must be a number")
    }

  /** The version a path names (`latest` resolved) if it serves data;
    * 404 otherwise. */
  private def versionOf(dataset: String, version: String): cat.Version =
    catalog.version(dataset, version).getOrElse(
      throw Reject(404, s"Dataset version $dataset.$version not found"))

  /** The version record a path names in `c` (`latest` resolved), a
    * pending or failed first creation included; 404 otherwise. */
  private def recordOf(dataset: String, version: String,
                       c: cat.Catalog = catalog): cat.Version =
    c.record(dataset, version).getOrElse(
      throw Reject(404, s"Dataset version $dataset.$version not found"))

  private def assetOf(id: String): (cat.Version, cat.Asset) =
    catalog.asset(id).getOrElse(throw Reject(404, s"Asset $id not found"))

  private def keyRegistry: ApiKeys =
    apiKeys.getOrElse(throw Reject(501, "API keys are not enabled on this deployment"))

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map { q =>
      q.split("&").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
          case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  private def respond(ex: HttpExchange, code: Int, ct: String, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", ct)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
  }
}

object ApiServer {
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** A refused request. Handlers throw it; `handle` renders it as the
    * JSEND error envelope with `code` as the HTTP status. */
  private final case class Reject(code: Int, message: String)
    extends RuntimeException(message) with scala.util.control.NoStackTrace

  /** Calling this runs the initializer above. */
  private def noDelay(): Unit = ()
}
