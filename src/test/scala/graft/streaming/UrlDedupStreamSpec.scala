package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming URL gate drops rows whose canonical URL is already
  * in the corpus, with batch parity: survivors equal the plain
  * anti-join on the shared canonical key over the same inputs. */
class UrlDedupStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private def canon(url: String): String = {
    import spark.implicits._
    Seq(url).toDF("url")
      .selectExpr(graft.textops.TextQueries.UrlCanon.expr("url") + " AS c")
      .head().getString(0)
  }

  test("canonical chain: scheme/www/fragment/tracking variants collapse") {
    assert(canon("https://WWW.Site7.example.com/page/3?utm_source=feed&ref=rss#frag")
      == "site7.example.com/page/3")
    assert(canon("http://site7.example.com/page/3") == "site7.example.com/page/3")
    // the round-7 ADVICE case: a tracking param BEFORE a kept param
    // must not leave a dangling '&' separator
    assert(canon("https://a.com/p?utm_x=2&keep=1") == "a.com/p?keep=1")
    // and the separator rewrite is a no-op when '?' survives
    assert(canon("https://a.com/p?keep=1&utm_x=2") == "a.com/p?keep=1")
    assert(canon("https://a.com/p/") == "a.com/p")
  }

  test("gate drops corpus URL dups (any variant), passes fresh; batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus holds one variant of each page
    val corpus = Seq(
      (1L, "https://www.example.com/a?utm_source=x"),
      (2L, "http://example.com/b/"),
      (3L, "https://example.com/c?keep=1&utm_medium=y"))
      .toDF("doc_id", "url")
    val blob = UrlDedupStream.corpusBloom(corpus)

    val stream = MemoryStream[(Long, String)]
    val q = UrlDedupStream.gate(
        stream.toDF().toDF("doc_id", "url"), corpus, blob)
      .writeStream.format("memory").queryName("url_gate")
      .outputMode("append").start()
    stream.addData(
      (10L, "http://EXAMPLE.com/a#frag"),           // dup of 1 via other variant
      (11L, "https://example.com/b"),               // dup of 2 (trailing slash)
      (12L, "https://example.com/c?utm_x=2&keep=1"),// dup of 3 (dangling-& case)
      (13L, "https://example.com/fresh-page"),      // fresh
      (14L, "https://example.com/a/sub"))           // fresh (deeper path)
    q.processAllAvailable()
    val rows = spark.table("url_gate")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(rows == Seq(13L, 14L), rows)

    // batch parity: gate on a STATIC frame equals the plain anti-join
    // on the shared canonical key
    val canonExpr = graft.textops.TextQueries.UrlCanon.expr("url")
    val inc = Seq(
      (10L, "http://EXAMPLE.com/a#frag"), (11L, "https://example.com/b"),
      (12L, "https://example.com/c?utm_x=2&keep=1"),
      (13L, "https://example.com/fresh-page"), (14L, "https://example.com/a/sub"))
      .toDF("doc_id", "url")
    val gated = UrlDedupStream.gate(inc, corpus, blob)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val exact = inc.withColumn("c", org.apache.spark.sql.functions.expr(canonExpr))
      .join(corpus.selectExpr(s"$canonExpr AS cc"), $"c" === $"cc", "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(gated == exact && gated == rows, s"gated=$gated exact=$exact stream=$rows")
  }
}
