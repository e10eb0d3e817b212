package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Contract pins for the shared CC kernel — the round-12 verdict's
  * top ask: the driver path must be bounded by the EDGE gate alone
  * (node mass never collects — m21's node set is every distinct frame
  * hash and e27's every embedding id, neither bounded by edge count),
  * and the two gate sides must be interchangeable (same schema, same
  * labels) so which side a dataset lands on is invisible to callers.
  */
class GraphOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("driver path: nodes >> edges — isolated nodes label distributed") {
    import spark.implicits._
    // the sparse-duplicate 100 TB shape in miniature: 200k nodes,
    // 3 edges. Under the old full-node collect this shape is exactly
    // what OOMs a driver at scale; now only the 6 endpoints cross.
    val nodes = spark.range(0L, 200000L).toDF("id")
    val edges = Seq((7L, 9L), (9L, 7L), (9L, 11L), (11L, 9L),
      (100L, 50L), (50L, 100L)).toDF("a", "b")
    val out = GraphOps.ccMinLabelAuto(spark, edges, nodes)
    assert(out.schema.map(f => (f.name, f.dataType.sql)) ==
      Seq(("id", "BIGINT"), ("lbl", "BIGINT")))
    assert(out.count() == 200000L)
    val lbl = out.where(col("id").isin(7L, 9L, 11L, 50L, 100L, 12345L))
      .as[(Long, Long)].collect().toMap
    assert(lbl(7L) == 7L && lbl(9L) == 7L && lbl(11L) == 7L)
    assert(lbl(50L) == 50L && lbl(100L) == 50L)
    assert(lbl(12345L) == 12345L, "isolated node labels itself")
    // every non-endpoint node is its own label
    assert(out.where(col("id") =!= col("lbl")).count() == 3L)
  }

  test("both gate sides agree: schema AND labels (driver vs distributed)") {
    import spark.implicits._
    // chain 0-1-2-3-4 plus a triangle 10-11-12, ids INT on purpose:
    // the pre-fix driver path widened to BIGINT while the distributed
    // loop preserved the input type, so the output schema depended on
    // which side of the gate the data landed
    val pairs = Seq((0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("a", "b")
    val nodes = (0 to 4).union(10 to 12).union(Seq(99)).toDF("id")
    val drv = GraphOps.ccMinLabelAuto(spark, edges, nodes) // 14 ≤ gate
    val dst = GraphOps.ccMinLabelAuto(spark, edges, nodes, driverMaxEdges = 0L)
    assert(drv.schema == dst.schema)
    val a = drv.as[(Long, Long)].collect().toSet
    val b = dst.as[(Long, Long)].collect().toSet
    assert(a == b)
    assert(a.contains((4L, 0L)) && a.contains((12L, 10L)) && a.contains((99L, 99L)))
  }

  test("CkptUtil.fresh matches the Row round-trip and unpersist frees its blocks") {
    val src = spark.range(0L, 7000L).selectExpr("id % 7 AS g", "id").groupBy("g").count()
    val ck = src.localCheckpoint()
    val ref = spark.createDataFrame(ck.rdd, ck.schema)
    val f = CkptUtil.fresh(src)
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def stats(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(stats(f) == session.sessionState.conf.defaultSizeInBytes)
    assert(stats(f) == stats(ref))
    def selfJoin(df: DataFrame) = df.as("a").join(df.as("b"), "g")
      .selectExpr("g", "a.count + b.count AS c")
    def plan(df: DataFrame) = selfJoin(df).queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "#n").replaceAll("plan_id=\\d+", "plan_id=n")
    assert(plan(f) == plan(ref))
    def rows(df: DataFrame) = selfJoin(df).collect().map(_.toString).sorted.toSeq
    assert(rows(f) == rows(ref))
    val rdd = f.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.get
    def cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    assert(cached.contains(rdd))
    CkptUtil.unpersist(f)
    assert(!cached.contains(rdd))
  }
}
