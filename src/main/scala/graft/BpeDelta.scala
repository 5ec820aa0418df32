package graft

/** A/B harness for the bpeTrain per-round lineage pin (r12):
  * alternates `graft.bpe.ckpt` on/off in ONE JVM so the arms share
  * warmup and box conditions — the BeamDelta discipline
  * (between-JVM variance on this box is ±50%+ and would swamp the
  * delta). Times tokenizer_bpe (trainer only) and tokenizer_apply
  * (trainer + encode pass). Run manually:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BpeDelta"
  */
object BpeDelta {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val docs = Tables.documents(spark, sfDir)
    docs.count() // warm parquet footers

    def run(q: String): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    Seq("tokenizer_bpe", "tokenizer_apply").foreach(run) // shared warmup, discarded

    Seq("tokenizer_bpe", "tokenizer_apply").foreach { q =>
      val samples = (1 to 3).flatMap { _ =>
        System.setProperty("graft.bpe.ckpt", "false")
        val off = run(q)
        System.setProperty("graft.bpe.ckpt", "true")
        val on = run(q)
        Seq(("off", off), ("on", on))
      }
      System.clearProperty("graft.bpe.ckpt")
      val off = samples.filter(_._1 == "off").map(_._2)
      val on = samples.filter(_._1 == "on").map(_._2)
      println(f"BPEDELTA $q off(best=${off.min}%.2f samples=${off.map(s => f"$s%.2f").mkString(",")}) " +
        f"on(best=${on.min}%.2f samples=${on.map(s => f"$s%.2f").mkString(",")})")
    }
    spark.stop()
  }
}
