package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The declarative deployment path: a session configured with
  * `spark.sql.extensions=graft.GraftExtensions` has the whole native
  * function family available with no imperative install call, and
  * the filter-constant binding rule. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions registers the function surface") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    try {
      // one from each family: sketch, geometry, raster
      assert(spark.sql("SELECT polyhash('abc') AS h").collect()(0).getLong(0) != 0L)
      assert(spark.sql(
        "SELECT st_x(st_point(3.5, 1.25)) AS x").collect()(0).getDouble(0) == 3.5)
      assert(spark.sql("SELECT arr_sum(array(3L, 4L, 5L)) AS s")
        .collect()(0).getLong(0) == 12L)
      // the clip-pipeline trio (clip_and_reproject_geom.sh /
      // export_1x1_grid.py): force2d is the identity on our 2-D model,
      // st_multi promotes to MultiPolygon, collectionextract(…, 3)
      // keeps polygonal parts
      val sq = """st_geomfromgeojson('{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,1],[0,0]]]}')"""
      assert(spark.sql(s"SELECT st_asgeojson(st_force2d($sq)) AS g")
        .collect()(0).getString(0).startsWith("""{"type":"Polygon""""))
      assert(spark.sql(s"SELECT st_asgeojson(st_multi($sq)) AS g")
        .collect()(0).getString(0).startsWith("""{"type":"MultiPolygon""""))
      assert(spark.sql(s"SELECT st_asgeojson(st_collectionextract(st_multi($sq), 3)) AS g")
        .collect()(0).getString(0).startsWith("""{"type":"MultiPolygon""""))
      assert(spark.sql(s"SELECT st_area(st_collectionextract(st_point(1.0, 2.0), 3)) AS a")
        .collect()(0).getDouble(0) == 0.0)
    } finally spark.stop()
  }

  test("spark.sql.extensions=graft.GraftExtensions binds filter constants") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    try {
      val df = spark.range(10).filter("id = 3")
      assert(df.collect().length == 1)
      val bound = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f.condition
      }.flatMap(_.collect { case b: graft.functions.BoundLiteral => b })
      assert(bound.nonEmpty, df.queryExecution.executedPlan.toString)
    } finally spark.stop()
  }
}
