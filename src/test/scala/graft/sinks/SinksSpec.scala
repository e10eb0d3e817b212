package graft.sinks

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  test("CSV sink: QUOTE_NONNUMERIC, header, quote doubling, CRLF") {
    import spark.implicits._
    val df = Seq((1L, "plain", 2.5), (2L, "with \"quote\"", -1.0))
      .toDF("id", "name", "score")
    val csv = Sinks.toCsv(df)
    val lines = csv.split("\r\n")
    assert(lines(0) == "\"id\",\"name\",\"score\"")
    assert(lines(1) == "1,\"plain\",2.5")
    assert(lines(2) == "2,\"with \"\"quote\"\"\",-1.0")
  }

  test("CSV sink: custom delimiter and empty result") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("x", "y")
    assert(Sinks.toCsv(df, '\t').startsWith("\"x\"\t\"y\""))
    assert(Sinks.toCsv(df.filter("x > 5")) == "")
  }

  test("streaming CSV sink writes the buffered sink's bytes") {
    import spark.implicits._
    val df = Seq((1L, Some("a \"b\""), true), (2L, None, false)).toDF("id", "s", "ok")
    def streamed(d: org.apache.spark.sql.DataFrame): String = {
      val out = new java.io.ByteArrayOutputStream
      Sinks.streamCsv(d, out)
      out.toString("UTF-8")
    }
    assert(streamed(df) == Sinks.toCsv(df))
    // an empty stream still carries the header line; the buffered sink answers ""
    assert(streamed(df.filter("id > 5")) == "\"id\",\"s\",\"ok\"\r\n")
  }

  test("JSEND sink: envelope, nulls, compact encoding") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None)).toDF("k", "v")
    val js = Sinks.toJsend(df)
    assert(js == """{"data":[{"k":1,"v":"a"},{"k":2,"v":null}],"status":"success"}""")
    assert(Sinks.jsendError("boom") == """{"status":"failed","message":"boom"}""")
  }

  test("NDJSON sink round-trips") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val path = s"${sys.props("java.io.tmpdir")}/graft_ndjson_test"
    Sinks.writeNdjson(df, path)
    val back = spark.read.json(path)
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("id", "s"))
  }
}
