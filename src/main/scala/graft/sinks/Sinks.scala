package graft.sinks

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

/** Result sinks (SURVEY §2.1 S9–S13): the JSON/CSV response encodings
  * of the API layer and the NDJSON export. These render collected rows
  * driver-side — results of the user dialect are human-scale by
  * construction (aggregates or LIMIT'd feature sets); bulk exports go
  * through `df.write` instead (NDJSON is Spark's native JSON lines).
  */
object Sinks {

  /** S10: CSV with Python `csv.QUOTE_NONNUMERIC` semantics
    * (`queries.py:528-545`): header row, every non-numeric field
    * quoted (strings, dates, booleans, nulls), numbers bare, embedded
    * quotes doubled, CRLF line endings (the csv module default). */
  def toCsv(df: DataFrame, delimiter: Char = ','): String = {
    val schema = df.schema
    val rows = df.collect()
    // an empty result is an empty body, without even the header line
    // (the reference's `_orm_to_csv`)
    if (rows.isEmpty) ""
    else {
      val sb = new StringBuilder(csvHeader(schema, delimiter)).append("\r\n")
      rows.foreach(row => sb.append(csvRow(schema, row, delimiter)).append("\r\n"))
      sb.toString
    }
  }

  private def csvQuote(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  private def csvHeader(schema: StructType, delimiter: Char): String =
    schema.fieldNames.map(csvQuote).mkString(delimiter.toString)

  /** One CSV line, CRLF not included: numbers bare, every other value
    * quoted, booleans as Python prints them, nulls as `""`. */
  private def csvRow(schema: StructType, row: Row, delimiter: Char): String =
    schema.fields.indices.map { i =>
      if (row.isNullAt(i)) csvQuote("")
      else schema.fields(i).dataType match {
        case _: NumericType => row.get(i).toString
        case BooleanType => csvQuote(row.getBoolean(i).toString.capitalize)
        case _ => csvQuote(row.get(i).toString)
      }
    }.mkString(delimiter.toString)

  /** S9: JSEND envelope `{"data": [...], "status": "success"}`
    * (`queries.py:160-163`, `app/responses.py`). Compact separators
    * like orjson; row objects preserve column order. */
  def toJsend(df: DataFrame): String = {
    val schema = df.schema
    val rows = df.collect()
    val sb = new StringBuilder("{\"data\":[")
    var first = true
    rows.foreach { row =>
      if (!first) sb.append(',')
      first = false
      sb.append(rowJson(schema, row))
    }
    sb.append("],\"status\":\"success\"}")
    sb.toString
  }

  /** JSEND error envelope (`app/routes/__init__.py` error shape). */
  def jsendError(message: String, status: String = "failed"): String =
    s"""{"status":"$status","message":${jsonString(message)}}"""

  private def rowJson(schema: StructType, row: Row): String = {
    val sb = new StringBuilder("{")
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (i > 0) sb.append(',')
      sb.append(jsonString(f.name)).append(':')
      if (row.isNullAt(i)) sb.append("null")
      else f.dataType match {
        case _: NumericType => sb.append(row.get(i).toString)
        case BooleanType => sb.append(row.getBoolean(i).toString)
        case _ => sb.append(jsonString(row.get(i).toString))
      }
    }
    sb.append('}').toString
  }

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** S13: NDJSON export — Spark-native JSON lines write. */
  def writeNdjson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  // ---------------------------------------------------- streaming sinks
  // Downloads must not buffer the whole result on the driver
  // (`downloads.py:35-231` streams): rows arrive through
  // `toLocalIterator` — one partition in memory at a time — and write
  // straight to the response stream.

  /** Streaming CSV download (same QUOTE_NONNUMERIC encoding as
    * [[toCsv]], bounded driver memory). */
  def streamCsv(df: DataFrame, out: java.io.OutputStream,
                delimiter: Char = ','): Unit = {
    val schema = df.schema
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8))
    w.write(csvHeader(schema, delimiter))
    w.write("\r\n")
    val it = df.toLocalIterator()
    while (it.hasNext) {
      w.write(csvRow(schema, it.next(), delimiter))
      w.write("\r\n")
    }
    w.flush()
  }

  /** Streaming JSEND download — same envelope as [[toJsend]], rows
    * written as they arrive. */
  def streamJsend(df: DataFrame, out: java.io.OutputStream): Unit = {
    val schema = df.schema
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8))
    w.write("{\"data\":[")
    val it = df.toLocalIterator()
    var first = true
    while (it.hasNext) {
      if (!first) w.write(",")
      first = false
      w.write(rowJson(schema, it.next()))
    }
    w.write("],\"status\":\"success\"}")
    w.flush()
  }
}
