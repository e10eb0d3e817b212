package graft.etl

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private val dir = s"${sys.props("java.io.tmpdir")}/graft_layout_spec"

  test("partitionBy + cluster sort + gist bbox columns") {
    import spark.implicits._
    val df = Seq.tabulate(100) { i =>
      (i.toLong, s"p${i % 3}", (i * 37 % 100).toDouble)
    }.toDF("id", "part", "v")
      .withColumn("geom", org.apache.spark.sql.functions.expr(
        "st_point(CAST(id AS DOUBLE) / 10.0, CAST(id AS DOUBLE) / 20.0)"))

    Layout.write(df, dir,
      partitionColumns = Seq("part"),
      clusterColumns = Seq("v"),
      indexes = Seq(Layout.IndexSpec("gist", Seq("geom"))))

    // partition directories exist
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("part="))
    assert(dirs.toSet == Set("part=p0", "part=p1", "part=p2"))

    val back = Layout.read(spark, dir)
    // gist → bbox companion columns persisted
    assert(back.columns.toSet.intersect(
      Set("geom_xmin", "geom_ymin", "geom_xmax", "geom_ymax")).size == 4)
    // clustered: values are non-decreasing within each file
    val byFile = back.select("v")
      .withColumn("f", org.apache.spark.sql.functions.input_file_name())
      .collect().groupBy(_.getString(1)).values
    byFile.foreach { rows =>
      val vs = rows.map(_.getDouble(0)).toSeq
      assert(vs == vs.sorted, s"not clustered: $vs")
    }
  }
}
