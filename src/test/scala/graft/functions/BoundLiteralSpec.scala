package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Filter constants bound as stage parameters answer exactly as the
  * inlined `Literal`s did: every WHERE clause below gives the same rows
  * on an engine session (`LocalTuning.session`, rule on) as on the same
  * session settings without `graft.BindLiterals`, for each of the eight
  * bound types and their edge values, and prints the same formatted
  * plan. The two sessions run one after the other in this JVM. */
class BoundLiteralSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  /** (WHERE clause, the type of the constant it binds). */
  private val clauses: Seq[(String, DataType)] = Seq(
    "i = 2147483647" -> IntegerType,
    "i < 0" -> IntegerType,
    "i IN (-2147483648, 1)" -> IntegerType,
    "l = -9223372036854775808L" -> LongType,
    "l > -1L" -> LongType,
    "d = CAST('NaN' AS DOUBLE)" -> DoubleType,
    "d = -0.0D" -> DoubleType,
    "d < 0.0D" -> DoubleType,
    "d > CAST('-Infinity' AS DOUBLE)" -> DoubleType,
    "f = CAST('NaN' AS FLOAT)" -> FloatType,
    "f <= -0.0F" -> FloatType,
    "s = 32767S" -> ShortType,
    "s < 0S" -> ShortType,
    "b = -128Y" -> ByteType,
    "b > 0Y" -> ByteType,
    "dt = DATE '1970-01-01'" -> DateType,
    "dt < DATE '1970-01-01'" -> DateType,
    "ts = TIMESTAMP '1969-12-31 23:59:59.999999'" -> TimestampType,
    "ts >= TIMESTAMP '1969-12-31 23:59:59'" -> TimestampType)

  /** Two shapes whose plans the rule rewrites: a scan + filter, and a
    * filtered aggregate that plans an exchange (adaptive execution). */
  private val explained = Seq(
    "SELECT id, l FROM t WHERE l = 7L",
    "SELECT b, count(*) AS n, max(d) AS mx FROM t WHERE i >= 0 AND d < 2.5D GROUP BY b ORDER BY b")

  private val dir = java.nio.file.Files.createTempDirectory("bound_literal_spec").toFile
  private val table = new java.io.File(dir, "t.parquet").getPath

  private def settings: Seq[(String, String)] = graft.LocalTuning.sessionDefaults ++ Seq(
    "spark.sql.shuffle.partitions" -> "2",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.fallback" -> "false")

  private def bound(df: DataFrame): Seq[BoundLiteral] =
    collect(df.queryExecution.executedPlan) { case f: FilterExec => f }
      .flatMap(_.condition.collect { case b: BoundLiteral => b })

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")

  /** Answers and formatted plans (after execution) on a session
    * without the rule, which also writes the table. */
  private def bare(): (Seq[Seq[String]], Seq[String]) = {
    val b = settings.filterNot(_._1 == "spark.sql.extensions")
      .foldLeft(SparkSession.builder().master("local[2]")) { case (bb, (k, v)) => bb.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      spark.sql(
        """SELECT * FROM VALUES
          |  (0, -2147483648, -9223372036854775808L, CAST('NaN' AS DOUBLE), CAST('NaN' AS FLOAT),
          |   CAST(-32768 AS SMALLINT), CAST(-128 AS TINYINT), DATE '1969-12-31',
          |   TIMESTAMP '1969-12-31 23:59:59.999999'),
          |  (1, -1, -1L, -0.0D, -0.0F, CAST(0 AS SMALLINT), CAST(0 AS TINYINT),
          |   DATE '1970-01-01', TIMESTAMP '1970-01-01 00:00:00'),
          |  (2, 0, 0L, 0.0D, 0.0F, CAST(32767 AS SMALLINT), CAST(127 AS TINYINT),
          |   DATE '2024-02-29', TIMESTAMP '1969-12-31 23:59:59'),
          |  (3, 1, 7L, 1.5D, 2.5F, CAST(1 AS SMALLINT), CAST(1 AS TINYINT),
          |   DATE '1900-01-01', TIMESTAMP '1900-01-01 00:00:00'),
          |  (4, 2147483647, 9223372036854775807L, CAST('-Infinity' AS DOUBLE),
          |   CAST('Infinity' AS FLOAT), CAST(-1 AS SMALLINT), CAST(-1 AS TINYINT),
          |   DATE '1970-01-02', TIMESTAMP '2024-02-29 12:00:00'),
          |  (5, 3, 3L, CAST('Infinity' AS DOUBLE), -1.0F, CAST(2 AS SMALLINT),
          |   CAST(2 AS TINYINT), DATE '1970-01-01', TIMESTAMP '1969-12-31 23:59:59.999999')
          |AS t(id, i, l, d, f, s, b, dt, ts)""".stripMargin)
        .coalesce(1).write.mode("overwrite").parquet(table)
      spark.read.parquet(table).createOrReplaceTempView("t")
      val answers = clauses.map { case (w, _) =>
        val df = spark.sql(s"SELECT * FROM t WHERE $w ORDER BY id")
        val r = rows(df)
        assert(bound(df).isEmpty, s"the bare session must not bind: $w")
        r
      }
      val plans = explained.map { q => val df = spark.sql(q); df.collect(); explain(df) }
      (answers, plans)
    } finally spark.stop()
  }

  test("every bound type and edge value answers as the inlined literal; " +
    "the formatted plan is unchanged") {
    val (want, wantPlans) = bare()
    val spark = graft.LocalTuning.session(2, "spark.sql.codegen.fallback" -> "false")
    try {
      spark.read.parquet(table).createOrReplaceTempView("t")
      clauses.zip(want).foreach { case ((w, t), answer) =>
        assert(answer.nonEmpty && answer.size < 6, s"WHERE $w must select some rows, not all")
        val df = spark.sql(s"SELECT * FROM t WHERE $w ORDER BY id")
        assert(rows(df) == answer, s"WHERE $w")
        assert(bound(df).exists(_.dataType == t),
          s"WHERE $w binds no ${t.simpleString}: ${bound(df)}")
      }
      explained.zip(wantPlans).foreach { case (q, p) =>
        val df = spark.sql(q)
        df.collect()
        assert(bound(df).nonEmpty, q)
        assert(explain(df) == p, q)
      }
    } finally {
      spark.stop()
      new scala.reflect.io.Directory(dir).deleteRecursively()
    }
  }

  test("a BoundLiteral survives a Java-serialization round trip equal to itself") {
    val values: Seq[(Any, DataType)] = Seq(
      Int.MaxValue -> IntegerType, Long.MinValue -> LongType, Double.NaN -> DoubleType,
      -0.0d -> DoubleType, Float.NaN -> FloatType, Short.MinValue -> ShortType,
      Byte.MaxValue -> ByteType, 0 -> DateType, -1L -> TimestampType)
    values.foreach { case (v, t) =>
      val b = BoundLiteral(v, t)
      val out = new ByteArrayOutputStream()
      val oos = new ObjectOutputStream(out)
      oos.writeObject(b)
      oos.close()
      val back = new ObjectInputStream(new ByteArrayInputStream(out.toByteArray))
        .readObject().asInstanceOf[BoundLiteral]
      assert(back == b && back.hashCode == b.hashCode, s"$v: ${t.simpleString}")
      assert(back.toString == b.toString && back.sql == b.sql)
    }
    assert(BoundLiteral(-0.0d, DoubleType) != BoundLiteral(0.0d, DoubleType))
  }
}
