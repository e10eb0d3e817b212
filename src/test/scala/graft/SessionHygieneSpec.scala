package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Query builders leave the shared session as they found it: their
  * intermediates are bound into their own SQL ([[Sql.bound]]), never
  * named in the catalog, the stream drain sizes its shuffles on a
  * cloned session, never on the shared conf, and each call owns the
  * checkpoints it makes. So one request's scratch state cannot reach
  * another request running at the same time. */
class SessionHygieneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = LocalTuning.session(4)

  override def afterAll(): Unit = spark.stop()

  // the sf0.001 lake beside the bench's default one
  private lazy val sf = new java.io.File(
    new java.io.File(Bench.envSfDir(Map.empty)).getParentFile, "sf0.001").getPath

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def run(name: String): Seq[String] = rows(SparkEntry.queries(name)(spark, sf))

  /** Runs `a` and `b` at once, each on its own thread. */
  private def together[A, B](a: => A, b: => B): (A, B) = {
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new Callable[A] { def call(): A = a })
      val fb = pool.submit(new Callable[B] { def call(): B = b })
      (fa.get(120, TimeUnit.SECONDS), fb.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("Sql.bound resolves bound names in CTE bodies, subqueries and self-joins") {
    val s = spark
    import s.implicits._
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    val t = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v").localCheckpoint()
    val keys = Seq(1L, 3L).toDF("k")
    val out = Sql.bound(spark,
      """WITH a AS (SELECT x.k, x.v + y.v AS vv FROM t x JOIN t y ON x.k = y.k)
        |SELECT k, vv FROM a
        |WHERE k IN (SELECT k FROM keys) AND vv > (SELECT min(v) FROM t)""".stripMargin,
      "t" -> t, "keys" -> keys)
    assert(rows(out) == Seq("[1,20]", "[3,60]"))
    assert(spark.catalog.listTables().collect().map(_.name).toSet == before)
    intercept[IllegalArgumentException] {
      Sql.bound(spark, "WITH t AS (SELECT 1 AS k) SELECT * FROM t", "t" -> t)
    }
  }

  test("converted queries leave the catalog and conf unchanged, and concurrent " +
    "pairs get their serial answers") {
    Tables.register(spark, sf)
    val tables = spark.catalog.listTables().collect().map(_.name).toSet
    val conf = spark.conf.getAll
    // converted queries of every module; sg1 drains here and again
    // next to the batch query below
    val names = Seq("r9_tile_lake_zonal", "r21_mode_resample", "m19_clip_sample",
      "m20_media_filter", "t18_bpe_train", "t21_bpe_tokenize", "e4_ann_lsh_pairs",
      "sg1_stream_classifier")
    val serial = names.map(n => n -> run(n)).toMap
    names.foreach(n => assert(serial(n).nonEmpty, s"$n is empty on $sf"))
    assert(spark.catalog.listTables().collect().map(_.name).toSet == tables)
    assert(spark.conf.getAll == conf)

    val batch = "a6_two_level_agg"
    val batchRows = run(batch)
    Seq("r9_tile_lake_zonal" -> "r21_mode_resample", "m19_clip_sample" -> "m20_media_filter",
      "t18_bpe_train" -> "t21_bpe_tokenize").foreach { case (a, b) =>
      val (ra, rb) = together(run(a), run(b))
      assert(ra == serial(a), s"$a next to $b")
      assert(rb == serial(b), s"$b next to $a")
    }
    // the batch side also samples the shared shuffle sizing until the
    // drain has finished: the drain sizes its own clone, never this
    val drainDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val (rs, (rq, seen)) = together(
      try run("sg1_stream_classifier") finally drainDone.set(true), {
        val r = run(batch)
        var seen = Set.empty[String]
        while (!drainDone.get) seen += spark.conf.get("spark.sql.shuffle.partitions")
        (r, seen + spark.conf.get("spark.sql.shuffle.partitions"))
      })
    assert(rs == serial("sg1_stream_classifier"), s"sg1 next to $batch")
    assert(rq == batchRows, s"$batch next to sg1")
    assert(seen == Set(partitions), "the shared session's shuffle partitions moved")
    assert(spark.catalog.listTables().collect().map(_.name).toSet == tables)
    assert(spark.conf.getAll == conf)
  }

  test("e29 next to e27: serial rows, and still readable after e27 ends") {
    // both build on one e21 assignment shape, each call on its own
    // checkpoint: e29's result reads its checkpoint at execution, so
    // a release of another call's blocks would show here
    val (e27, e29) = ("e27_pagerank", "e29_graph_recall")
    val serial = Seq(e27, e29).map(n => n -> run(n)).toMap
    val ((held, first), other) = together({
      val df = SparkEntry.queries(e29)(spark, sf)
      (df, rows(df))
    }, run(e27))
    assert(first == serial(e29), s"$e29 next to $e27")
    assert(other == serial(e27), s"$e27 next to $e29")
    assert(rows(held) == serial(e29), s"$e29 read again after $e27 ended")
  }

  test("sg8 frees the corpus checkpoint it drained past") {
    def cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = cached
    assert(run("sg8_stream_bloom").nonEmpty)
    assert(cached -- before == Set.empty, "RDDs still cached after the call")
  }
}
