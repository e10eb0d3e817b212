package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names (local iteration).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = LocalTuning.session(Bench.envCpus(sys.env).toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Restricted to the selected queries in targeted mode: localcheck
    // treats a declared-but-undumped query as a FAILURE (a thrown
    // query must not vanish from the count), so the declaration set
    // must match what this run attempted.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Scale contracts + their aux sidecars (sf1 gate: localcheck
    // --scale-contracts). Contracts are generated against THIS sfDir
    // (the right check is scale-dependent); aux dumps land in a
    // SIBLING dir (`<outDir>_aux/`) since r17 — they used to live
    // under `outDir/_aux/`, which our compare skipped by prefix but
    // the driver's correctness enumeration picked up as a 217th
    // `no_oracle` query row (r16 verdict ask #8).
    val contracts =
      try SparkEntry.scaleContracts(spark, sfDir)
        .filter { case (k, _) => only.forall(_.contains(k)) }
      catch { case e: Throwable =>
        System.err.println(s"[verify] scale contracts failed: ${e.getMessage}")
        Map.empty[String, Seq[ScaleCheck]]
      }
    if (contracts.nonEmpty) {
      val cjson = contracts.map { case (k, checks) =>
        val arr = checks.map { c =>
          s"""{${q("name")}: ${q(c.name)}, ${q("kind")}: ${q(c.kind)}, """ +
            s"""${q("spark")}: ${q(c.spark)}, ${q("oracle")}: ${q(c.oracle)}, """ +
            s"""${q("bound")}: ${c.bound}}"""
        }.mkString("[", ",", "]")
        s"${q(k)}: $arr"
      }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/scale_contracts.json"), cjson)
      SparkEntry.auxDumps.foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"${outDir.stripSuffix("/")}_aux/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] aux $name failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
