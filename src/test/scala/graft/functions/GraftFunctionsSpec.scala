package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `install` writes the session's function registry and optimizer
  * conf once; `SparkEntry.queries` calls it before every query, so
  * later calls must leave that shared state alone. */
class GraftFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("install twice: the rule is excluded once, every builder resolves, " +
    "and the second call writes nothing") {
    // a fresh session: its own registry and conf, untouched by other specs
    val s = spark.newSession()
    val rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    GraftFunctions.install(s)
    GraftFunctions.install(s)
    val excluded = s.conf.get("spark.sql.optimizer.excludedRules").split(",").toSeq
    assert(excluded.count(_ == rule) == 1, excluded)
    val reg = s.sessionState.functionRegistry
    val missing = GraftFunctions.builders.map(_._1)
      .filterNot(n => reg.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"unresolvable after install: $missing")
    assert(s.sql("SELECT polyhash('abc') AS h").head().getLong(0) != 0L)

    // a no-op from now on: a dropped builder stays dropped
    reg.dropFunction(FunctionIdentifier("polyhash"))
    GraftFunctions.install(s)
    assert(!reg.functionExists(FunctionIdentifier("polyhash")))
  }
}
