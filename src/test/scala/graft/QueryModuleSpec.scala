package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each query name is declared once, by one [[Op]] of one module;
  * every oracle and every scale contract names a declared query, and
  * every aux dump feeds a scale contract. */
class QueryModuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private def twice(names: Seq[String]): Seq[String] =
    names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }.toSeq.sorted

  private lazy val opNames: Set[String] =
    SparkEntry.modules.flatMap(_.ops.map(_.name)).toSet

  test("names are unique within each module and across modules") {
    for (m <- SparkEntry.modules)
      assert(twice(m.ops.map(_.name)).isEmpty,
        s"${m.getClass.getSimpleName.stripSuffix("$")} declares a name twice")
    assert(twice(SparkEntry.modules.flatMap(_.ops.map(_.name))).isEmpty)
  }

  test("a name declared twice is rejected, not overwritten") {
    val run = (s: SparkSession, _: String) => s.emptyDataFrame
    object Twice extends QueryModule {
      def ops: Seq[Op] = Seq(Op("q1", run, "SELECT 1"), Op("q1", run, "SELECT 2"))
    }
    val e = intercept[IllegalArgumentException](Twice.oracles)
    assert(e.getMessage.contains("q1"))
    intercept[IllegalArgumentException](Twice.queries)
    // the same name in two modules, the union SparkEntry builds
    object Once extends QueryModule {
      def ops: Seq[Op] = Seq(Op("q1", run, "SELECT 1"))
    }
    val across = intercept[IllegalArgumentException](
      QueryModule.byName("SparkEntry", Seq(Once, Once).flatMap(_.oracles)))
    assert(across.getMessage.contains("q1"))
  }

  test("every oracle names a query and every query has an oracle") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.queries.keySet == opNames)
  }

  test("every scale contract names a query and every aux dump feeds one") {
    val contracts = SparkEntry.scaleContracts(spark, "/root/testdata/sf0.001")
    assert(contracts.nonEmpty)
    assert(contracts.keySet -- opNames == Set.empty)
    val sqls = contracts.values.flatten.flatMap(c => Seq(c.spark, c.oracle)).toSeq
    // `{qof:NAME}` anchors a contract on another query's dump
    val anchors = sqls.flatMap(
      """\{qof:([a-z0-9_]+)\}""".r.findAllMatchIn(_).map(_.group(1))).toSet
    assert(anchors -- opNames == Set.empty)
    // aux dumps are sidecars named for the state they hold, not for a
    // query: each must be read by some contract
    val aux = SparkEntry.auxDumps.keySet
    assert(aux.nonEmpty)
    for (a <- aux)
      assert(sqls.exists(_.contains(s"{aux}/$a/")), s"no scale contract reads aux dump $a")
  }
}
