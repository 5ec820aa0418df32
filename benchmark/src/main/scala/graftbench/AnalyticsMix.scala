package graftbench

import scala.collection.mutable

import graft.SparkEntry

/** Seven of graft's queries on the fixed sf0.01 testdata, each built by
  * its `SparkEntry.queries` function and materialized with a `noop`
  * write (a `count()` would let Catalyst prune output columns). The
  * iterative half fires dozens of eager fixture jobs while its frames
  * are built; the single-pass half fires one to five. The seed only
  * permutes the query order. */
final class AnalyticsMix extends Workload {
  val iterative = Seq("dedup_clusters", "pipeline_leakage_safe_split")
  val singlePass = Seq("q57_tpch_q21", "q51_tpch_q2", "sink_batch_bytes", "serialize_proto",
    "stream_session")
  /** Input tables of each query, for the rows-per-second figure. */
  val inputs: Map[String, Seq[String]] = Map(
    "dedup_clusters" -> Seq("documents"), "pipeline_leakage_safe_split" -> Seq("documents"),
    "q57_tpch_q21" -> Seq("lineitem", "orders", "supplier"),
    "q51_tpch_q2" -> Seq("lineitem", "part", "supplier", "nation", "region"),
    "sink_batch_bytes" -> Seq("events"), "serialize_proto" -> Seq("events"),
    "stream_session" -> Seq("events"))
  override val setupReps = 1
  /** Three passes, whatever `--seconds` says: a pass takes about as long
    * as a run's measuring time, and a run that fit two passes in some
    * runs and three in others would measure two different things. */
  override val minOps: Int = 3 * (iterative.size + singlePass.size)
  override val timed = false
  val warmPasses = 2

  private var order = Seq.empty[(String, Seq[String])]
  private var inputRows = Map.empty[String, Long]
  private val passes = mutable.Map.empty[String, Seq[Double]]
  private val traced = mutable.LinkedHashMap.empty[String, (Double, Double)]

  override def setup(run: Run, rep: Int): Unit = {
    val (spark, dataDir) = (run.spark, run.dataDir)
    val rng = new scala.util.Random(run.seed)
    order = rng.shuffle(Seq("iterative" -> rng.shuffle(iterative), "single_pass" -> rng.shuffle(singlePass)))
    val rows = inputs.values.flatten.toSet.map((t: String) =>
      t -> spark.read.parquet(s"$dataDir/$t.parquet").count()).toMap
    inputRows = inputs.map { case (q, ts) => q -> ts.map(rows).sum }
    // The check pass doubles as warm-up: every result is kept for the
    // DuckDB oracle compare that run.py makes after the JVM exits. The
    // queries run on concurrent threads because the pass is cold (JIT,
    // codegen) and a serial one would take twice the measured pass.
    val results = run.dir.resolve("results")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      // longest first: the iterative half decides when the pass ends
      val queries = iterative ++ singlePass
      val done = queries.map { q =>
        pool.submit(new Runnable {
          def run(): Unit = SparkEntry.queries(q)(spark, dataDir)
            .write.mode("overwrite").parquet(results.resolve(q).toString)
        })
      }
      done.zip(queries).foreach { case (f, q) =>
        run.attempt(s"$q (check pass)")(f.get())
      }
    } finally pool.shutdown()
    // Passes after the check pass kept getting faster for about five
    // passes (the JIT still compiling the fixture-job paths); serial
    // warm-up passes warm it faster than more of them on four threads.
    (0 until warmPasses).foreach(_ => pass(run, measured = false))
    run.spark.sharedState.cacheManager.clearCache()
    run.extra("analytics") = Map(
      "data" -> run.dataDir, "results" -> results.toString, "order" -> order.flatMap(_._2),
      "oracle_sql" -> order.flatMap(_._2).map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }

  override def op(run: Run, i: Int): Unit = pass(run, measured = true)

  /** One pass over both sub-mixes in the seeded order. */
  private def pass(run: Run, measured: Boolean): Unit =
    for ((mix, qs) <- order) {
      var total = 0.0
      for (q <- qs) run.attempt(q) {
        isolate(run)
        val (df, build) = Main.timedMs(Trace.span("operators", s"build $q", op = s"operators.$q.build") {
          SparkEntry.queries(q)(run.spark, run.dataDir)
        })
        val (_, exec) = Main.timedMs(Trace.span("operators", s"exec $q", op = s"operators.$q.exec") {
          df.write.format("noop").mode("overwrite").save()
        })
        total += build + exec
        if (measured) run.done(build + exec, inputRows(q))
        if (Trace.enabled) {
          val (b, e) = traced.getOrElse(q, (0.0, 0.0))
          traced(q) = (b + build, e + exec)
        }
      }
      if (measured && !Trace.enabled) passes(mix) = passes.getOrElse(mix, Nil) :+ total / 1000
    }

  /** Untimed, before each query: the previous query's cached frames and
    * garbage go now rather than during the next one, so a query's time
    * does not depend on which query the seed put before it. */
  private def isolate(run: Run): Unit = {
    run.spark.sharedState.cacheManager.clearCache()
    System.gc()
    run.probes.drain()
  }

  override def finish(run: Run): Unit = {
    run.spark.sharedState.cacheManager.clearCache()
    if (run.trace) {
      // per pass: the traced phase runs minOps / queries passes
      val n = (run.tracedOpsMs.size / (iterative.size + singlePass.size)).max(1).toDouble
      for ((q, (build, exec)) <- traced) {
        val b = run.probes.counters(s"operators.$q.build")
        val e = run.probes.counters(s"operators.$q.exec")
        run.layers ++= Seq(s"operators.$q.build_ms" -> build / n, s"operators.$q.build_jobs" -> b.jobs.sum / n,
          s"operators.$q.exec_ms" -> exec / n, s"operators.$q.jobs" -> e.jobs.sum / n,
          s"operators.$q.shuffle_bytes" -> e.shuffleWriteBytes.sum / n)
      }
      run.layers("operators.build_jobs") = traced.keys.map(q => run.probes.counters(s"operators.$q.build").jobs.sum).sum / n
      run.layers("operators.build_ms") = traced.values.map(_._1).sum / n
      passes.foreach { case (mix, s) => run.layers(s"mix.${mix}_s") = Main.median(s) }
      // the legacy count() action, timed once so that totals from the
      // earlier count()-based harness can be bridged to noop totals
      run.layers("mix.noop_total_s") = passes.values.map(Main.median).sum
      var countTotal = 0.0
      for ((_, qs) <- order; q <- qs) run.attempt(s"$q (count)") {
        run.spark.sharedState.cacheManager.clearCache()
        countTotal += Main.timedMs(SparkEntry.queries(q)(run.spark, run.dataDir).count())._2 / 1000
      }
      run.layers("mix.count_total_s") = countTotal
      run.spark.sharedState.cacheManager.clearCache()
    }
  }
}
