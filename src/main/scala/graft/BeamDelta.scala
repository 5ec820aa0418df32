package graft


/** A/B harness for the beamSearch per-hop localCheckpoint (r12):
  * alternates `graft.beam.ckpt` on/off in ONE JVM so the arms share
  * warmup and box conditions — the interleaved-arm discipline (between-
  * JVM variance on this box is ±50%+ and would swamp the delta).
  * Run manually:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BeamDelta"
  */
object BeamDelta {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val emb = Tables.embeddings(spark, sfDir)
    emb.count() // warm parquet footers

    def run(): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      graft.operators.Ann.annGraph(emb).count()
      (System.nanoTime() - t0) / 1e9
    }
    run() // shared JIT/codegen warmup, discarded

    val samples = (1 to 3).flatMap { _ =>
      System.setProperty("graft.beam.ckpt", "false")
      val off = run()
      System.setProperty("graft.beam.ckpt", "true")
      val on = run()
      Seq(("off", off), ("on", on))
    }
    System.clearProperty("graft.beam.ckpt")
    val off = samples.filter(_._1 == "off").map(_._2)
    val on = samples.filter(_._1 == "on").map(_._2)
    println(f"BEAMDELTA off(best=${off.min}%.2f samples=${off.map(s => f"$s%.2f").mkString(",")}) " +
      f"on(best=${on.min}%.2f samples=${on.map(s => f"$s%.2f").mkString(",")})")
    spark.stop()
  }
}
