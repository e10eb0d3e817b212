package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Registration failure isolation: one unreadable lake table must not
  * take down the other nine views (round-6 incident: an events.parquet
  * schema change failed 81/98 queries through the eager register). */
class TablesSpec extends AnyFunSuite {

  private def sparkSession(): SparkSession = LocalTuning.session(2)

  test("a corrupt table registers the other nine and fails only itself") {
    val spark = sparkSession()
    val lake = Files.createTempDirectory("graft_tables_spec")
    val src = Paths.get("/root/testdata/sf0.001")
    Tables.all.foreach { n =>
      val f = s"$n.parquet"
      if (n == "events")
        Files.write(lake.resolve(f), "not a parquet file".getBytes)
      else Files.createSymbolicLink(lake.resolve(f), src.resolve(f))
    }
    Tables.register(spark, lake.toString)
    try {
      // the broken table is reported, the others serve real rows
      assert(Tables.loadErrors.keySet == Set("events"))
      assert(spark.sql("SELECT count(*) AS n FROM nation").collect()(0).getLong(0) == 25L)
      assert(spark.sql("SELECT count(*) AS n FROM lineitem").collect()(0).getLong(0) > 0L)
      // referencing the broken table raises (view absent), not silently empty
      val err = intercept[Exception](spark.sql("SELECT count(*) FROM events").collect())
      assert(err.getMessage.toLowerCase.contains("events"))
      // a failed registration is NOT latched: once the file is fixed,
      // the next register() heals the session instead of serving the
      // cached failure forever
      java.nio.file.Files.delete(lake.resolve("events.parquet"))
      Files.createSymbolicLink(lake.resolve("events.parquet"),
        src.resolve("events.parquet"))
      Tables.register(spark, lake.toString)
      assert(Tables.loadErrors.isEmpty)
      assert(spark.sql("SELECT count(*) AS n FROM events").collect()(0).getLong(0) > 0L)
    } finally {
      // restore the real lake for any suite sharing this session
      Tables.register(spark, "/root/testdata/sf0.001")
    }
  }

  test("both events.ts vintages resolve to TIMESTAMP") {
    val spark = sparkSession()
    val df = Tables.load(spark, "/root/testdata/sf0.001", "events")
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(df.limit(1).count() == 1L)
  }
}
