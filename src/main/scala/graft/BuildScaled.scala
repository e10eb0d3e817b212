package graft

/** Builds a replicated N× corpus INCLUDING the relational tables (the
  * sf1 gate input — round-14 verdict ask #6): `runMain
  * graft.BuildScaled <sfDir> <outDir> [reps]`. The output dir is a
  * drop-in `Verify`/`localcheck.py` sfDir, so the full 215-query
  * correctness gate can run at sf1 (10× sf0.1) to catch constants the
  * sf0.01 oracle can't see — decimal headroom, broadcast thresholds,
  * per-partition buffers. See [[ScaleProbe.buildScaled]] for the
  * replication transforms (word-suffixed documents, decorrelated
  * embeddings, key-offset events and relational tables). */
object BuildScaled {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BuildScaled <sfDir> <outDir> [reps]")
    val sfDir = args(0)
    val outDir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = LocalTuning.session(Bench.envCpus(sys.env).toInt)
    ScaleProbe.buildScaled(spark, sfDir, outDir, reps, relational = true)
    for (t <- Tables.all) {
      val n = spark.read.parquet(s"$outDir/$t.parquet").count()
      println(s"""{"built":"$t","rows":$n}""")
    }
    spark.stop()
  }
}
