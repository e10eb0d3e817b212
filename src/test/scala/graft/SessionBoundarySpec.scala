package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** One way to build a session (`LocalTuning.session`) and one
  * registration boundary: the native functions are installed only by
  * `LocalTuning.session`, the `SparkEntry.queries` wrapper and the
  * `ApiServer` constructor. Query builders leave the shared session as
  * they found it: no temp view outside the lake and version
  * registration, no conf write outside three known places. The source
  * scans keep new code from growing its own builder, call site, scratch
  * view or conf write, and name the file and line of each hit; the
  * foreign-session test pins the driver contract, which accepts
  * sessions the engine did not build. Two more scans keep `ApiServer`
  * to one error path (handlers throw, and `handle` alone writes the
  * JSEND error envelope) and to one catalog write (`update` alone
  * assigns the catalog snapshot), and one more keeps the raster tile
  * kernels to one AOI parse and one mask call. */
class SessionBoundarySpec extends AnyFunSuite {

  private val mainSrc = Paths.get("src/main/scala/graft")

  /** (path under `src/main/scala/graft`, line number) of every code
    * line (comments skipped) matching `pattern`. */
  private def occurrences(pattern: String): Seq[(String, Int)] = {
    assert(Files.isDirectory(mainSrc), s"run from the project root: $mainSrc missing")
    val re = pattern.r
    import scala.jdk.CollectionConverters._
    val files = Files.walk(mainSrc).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if !line.trim.matches("""(//|\*|/\*).*""") &&
          re.findFirstIn(line).nonEmpty => (mainSrc.relativize(f).toString, i + 1)
      }
    }
  }

  test("SparkSession.builder appears in src/main only in LocalTuning") {
    val outside = occurrences("""SparkSession\.builder\b""")
      .filterNot(_._1 == "LocalTuning.scala")
    assert(outside.isEmpty, s"build sessions through LocalTuning.session: $outside")
  }

  test("GraftFunctions.install is called in src/main only at the three boundaries") {
    val boundaries = Seq("LocalTuning.scala", "SparkEntry.scala", "api/ApiServer.scala")
    val calls = occurrences("""GraftFunctions\.install\(""")
    assert(calls.map(_._1).sorted == boundaries.sorted,
      s"one call per boundary ($boundaries), found: $calls")
  }

  test("temp views are registered in src/main only by Tables and VersionCreation") {
    val outside = occurrences("""\.(createOrReplaceTempView|createTempView)\(""")
      .filterNot { case (f, _) => f == "Tables.scala" || f == "etl/VersionCreation.scala" }
    assert(outside.isEmpty,
      s"bind a query's intermediates with graft.Sql.bound, not the catalog: $outside")
  }

  test("session conf is written in src/main only by Tables.load, " +
    "GraftFunctions.install and the stream drain's own cloned session") {
    val hits = occurrences("""\.conf\.set\(""")
    val expected = Seq("Tables.scala", "functions/GraftFunctions.scala",
      "streaming/StreamingQueries.scala")
    assert(hits.map(_._1).sorted == expected.sorted,
      s"one write per place ($expected), found: $hits")
    val drainWrites = occurrences("""\bdrain\.conf\.set\(""")
    assert(drainWrites.map(_._1) == Seq("streaming/StreamingQueries.scala"),
      s"the stream drain writes conf on its cloned session only: $hits")
  }

  test("ApiServer writes the JSEND error envelope only in handle's renderer") {
    val api = "api/ApiServer.scala"
    val envelopes = occurrences("""Sinks\.jsendError\(""").filter(_._1 == api)
    assert(envelopes.length == 1,
      s"throw ApiServer.Reject and let handle render it; envelope sites: $envelopes")
    val early = occurrences("""\breturn\s+respond\(""").filter(_._1 == api)
    assert(early.isEmpty, s"throw ApiServer.Reject instead of responding early: $early")
  }

  test("ApiServer swaps its catalog only in update") {
    val api = "api/ApiServer.scala"
    val defs = occurrences("""\bdef update\(""").filter(_._1 == api)
    // assignments, not the `var` declaration or comparisons
    val swaps = occurrences("""(?<!\bvar )\bcatalog\s*=(?![=>])""").filter(_._1 == api)
    val body = defs.headOption.map(_._2).getOrElse(-1)
    val outside = swaps.filterNot { case (_, line) => line > body && line <= body + 2 }
    assert(outside.isEmpty, s"write the catalog through update(f); assignments outside it: $outside")
    assert(defs.length == 1 && swaps.length == 1,
      s"one update ($defs) holding the one assignment ($swaps)")
  }

  test("the tile kernels parse and rasterize an AOI in one place") {
    for (call <- Seq("""Rasterizer\.prepare\(""", """Rasterizer\.tileMask\(""")) {
      val sites = occurrences(call)
      assert(sites.length == 1,
        s"share TileKernelCodegen's AOI cache and mask; $call sites: $sites")
    }
  }

  test("SparkEntry.queries installs the native functions on a session the " +
    "engine did not build") {
    // a bare builder, no LocalTuning, no install; newSession gives a
    // registry of its own even if another suite left a session running
    val base = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val spark = base.newSession()
    try {
      val reg = spark.sessionState.functionRegistry
      assert(!reg.functionExists(FunctionIdentifier("arr_sum")),
        "the foreign session must start without the native functions")
      // the sf0.001 lake beside the bench's default one
      val tinySf = new java.io.File(
        new java.io.File(Bench.envSfDir(Map.empty)).getParentFile, "sf0.001").getPath
      // r5's SQL text calls arr_sum, which resolves only once installed
      val df = SparkEntry.queries("r5_band_stats")(spark, tinySf)
      assert(df.queryExecution.analyzed.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.ArrSum]))), "the plan must call arr_sum")
      assert(df.collect().nonEmpty)
    } finally base.stop()
  }
}
