package graft


/** Benchmark main: `runMain graft.Bench [name…]` runs every SparkEntry
  * query (or only the named ones — the tool for chasing one query's
  * regression without paying the full sweep; unknown names exit 2) on
  * SPARK_GRAFT_SF_DIR and prints the driver-contract JSON. A warmup
  * action first absorbs session/codegen/parquet-footer startup so
  * per-query numbers measure the operators, not JVM warmup. The timed
  * action materializes the whole result with a `noop` write: a
  * `count()` lets Catalyst prune the output columns, so it timed less
  * than a caller pays for. Performance claims across commits come from
  * `benchmark/run.py`; this main is the per-query sweep.
  *
  * Output protocol (rounds 3-4 post-mortem): the driver captures only
  * the LAST ~2000 chars of the run's output, and the full per-query
  * JSON line is ~5 KB — so both rounds ended `"parsed": null` and the
  * artifact carried no machine-readable total. Printing order is
  * therefore: (1) the full line (humans + logs; also written verbatim
  * to bench.json so nothing is lost), then LAST (2) a compact line —
  * totals, host-contention telemetry, the slowest-N per-query bests,
  * and the kernel fast-vs-portable pairs — hard-capped well under the
  * capture window so the driver always parses a complete JSON object.
  * The full 90-query map cannot fit: the query NAMES alone are ~1.3 KB
  * before any values, and sbt appends its own "[success]" suffix
  * inside the same window.
  *
  * Host telemetry: the same code has measured 1.5 s and 26.8 s for one
  * query on this box across driver runs (r4 adjudication). Each run
  * now records loadavg before/after, hypervisor steal, and per-query
  * effective parallelism (process-CPU-seconds / wall) so a contended
  * run self-identifies in the artifact instead of reading as a 10x
  * code regression: on a quiet local[32] box the hot queries run at
  * parallelism >> 1; a run whose wall times balloon while parallelism
  * collapses (or steal climbs) was starved by the host, not the plan.
  */
object Bench {
  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (stealJiffies, totalJiffies) from /proc/stat's aggregate cpu line. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  private def processCpuSecs(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    catch { case _: Throwable => -1.0 }

  /** Pre-flight load guard (VERDICT r5 #7): the telemetry DETECTS a
    * contended host after the fact; this gives the official artifact a
    * chance to be the quiet number instead. When the 1-min loadavg
    * exceeds the threshold, wait once for other work to drain and
    * re-measure; the guard's evidence (threshold, seconds waited, load
    * before/after) is embedded in the host JSON either way. Bounded by
    * design — one wait, then run regardless — so a busy neighbor can
    * delay the bench by at most guardWaitSecs. */
  private val guardThresh = 1.5
  private val guardWaitSecs = 90

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val loadPre = loadavg()
    val guardWaited =
      if (loadPre > guardThresh) {
        System.err.println(
          f"[bench] loadavg $loadPre%.1f > $guardThresh%.1f: waiting ${guardWaitSecs}s for the host to drain")
        Thread.sleep(guardWaitSecs * 1000L)
        guardWaitSecs
      } else 0
    val spark = Sessions.local()
    // recorded in bench.json + the table header so every committed
    // artifact carries its run conditions (the driver measures at 32)
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    val load0 = loadavg()
    val (steal0, jiff0) = cpuJiffies()

    // Warmup: touch the fact table and force one codegen'd agg + shuffle.
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().count()

    // best-of-2, escalating to best-of-3 when the best run is over 1 s:
    // box variance on same-code runs is ±15-25%, which is noise on a
    // 0.2 s query but ambiguous on the expensive dedup family — the
    // third sample makes a regression call unambiguous where it
    // matters without tripling total bench time. Per-query min AND the
    // individual samples are both reported so a reader can separate
    // plan changes from noise. Runs stay honest end-to-end: operators
    // may persist() intermediate signature tables internally, so the
    // cache is cleared between runs and every timed run pays the full
    // compute (and cached blocks don't accumulate across the queries).
    // A failing query is recorded under "errors" and fails the whole
    // bench with a nonzero exit — a broken query must never silently
    // deflate the total.
    var errors = Map.empty[String, String]
    // per run: (wallSecs, effectiveParallelism = processCpuDelta/wall)
    def timedRun(body: => Unit): (Double, Double) = {
      spark.sharedState.cacheManager.clearCache()
      val c0 = processCpuSecs()
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      val par = if (c0 < 0) -1.0 else (processCpuSecs() - c0) / math.max(wall, 1e-9)
      (wall, par)
    }
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val results = selected.map { case (name, fn) =>
      def run(): (Double, Double) = timedRun {
        try materialize(fn(spark, sfDir)) catch {
          case e: Throwable =>
            errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        }
      }
      val two = Seq(run(), run())
      val runs = if (two.map(_._1).min > 1.0) two :+ run() else two
      name -> runs
    }
    // Kernel fast-vs-portable pairs (VERDICT r4 #6): the queries bench
    // the portable-md5 kernels (the DuckDB oracle must recompute the
    // signatures bit-for-bit); production defaults to the xxhash/
    // splitmix fast paths. Benching both here puts the oracle-
    // portability tax in the driver-visible artifact instead of only
    // in SURVEY prose. Portable numbers reuse the query-loop bests —
    // same code path — so a pair costs only its two fast runs, and
    // runs only when its portable query was timed.
    val docs = Tables.documents(spark, sfDir)
    val kernels = Seq(
      ("fingerprint", "dedup_fingerprint",
        () => graft.operators.Dedup.dedupFingerprint(docs, portable = false)),
      ("simhash", "dedup_simhash",
        () => graft.operators.Dedup.dedupSimhash(docs, portable = false))
    ).flatMap { case (k, portableQ, fast) =>
      results.find(_._1 == portableQ).map { case (_, runs) =>
        val fastBest = Seq(timedRun(materialize(fast())), timedRun(materialize(fast())))
          .map(_._1).min
        f""""$k":{"portable":${runs.map(_._1).min}%.2f,"fast":$fastBest%.2f}"""
      }
    }.mkString("{", ",", "}")

    val load1 = loadavg()
    val (steal1, jiff1) = cpuJiffies()
    val stealPct =
      if (jiff1 > jiff0) 100.0 * (steal1 - steal0) / (jiff1 - jiff0) else 0.0
    val pars = results.map { case (_, runs) => runs.minBy(_._1)._2 }.sorted
    val parMed = if (pars.nonEmpty) pars(pars.length / 2) else -1.0
    val host = f""""host":{"load_start":$load0%.1f,"load_end":$load1%.1f,"steal_pct":$stealPct%.2f,"par_med":$parMed%.1f,"guard":{"thresh":$guardThresh%.1f,"load_pre":$loadPre%.1f,"waited_s":$guardWaited}}"""

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.map(_._1).min }
      .mkString("{", ",", "}")
    val samples = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(t => f"${t._1}%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val par = results.map { case (k, v) =>
      "\"" + k + "\":" + f"${v.minBy(_._1)._2}%.1f"
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2.map(_._1).min).sum else 0.0
    val errJson =
      if (errors.isEmpty) ""
      else errors.toSeq.sorted.map { case (k, v) =>
        "\"" + k + "\":\"" + v.replaceAll("[\"\\\\\n\r\t]", " ") + "\""
      }.mkString(",\"errors\":{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"samples":$samples,"par":$par,$host,"kernels":$kernels$errJson,"sf":"$sfDir","cpus":$cpus}"""
    println(line)
    // Belt-and-suspenders for the driver's parser: also drop the bare
    // JSON to a file so the result survives any log decoration.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    // bench_table.md: the markdown SURVEY §8d embeds VERBATIM — survey
    // perf numbers are generated from the same run as bench.json, never
    // hand-written (rounds 2 and 3 both drifted doing that by hand).
    try {
      val sb = new StringBuilder
      sb.append(s"<!-- generated by graft.Bench from bench.json; do not hand-edit -->\n")
      sb.append(s"${results.size} queries, ${f"$total%.2f"} s total " +
        s"(noop write of the full result; best-of-2, best-of-3 over 1 s; cache cleared between runs; " +
        s"sf=$sfDir, local[$cpus]).\n")
      sb.append(f"Host: loadavg ${load0}%.1f -> ${load1}%.1f, steal ${stealPct}%.2f%%, " +
        f"median effective parallelism ${parMed}%.1f (process-CPU/wall at each best run; " +
        s"a quiet local[$cpus] run shows par >> 1 on the hot queries — " +
        s"collapsed par with inflated wall means the HOST was contended, not the code). " +
        f"Load guard: threshold $guardThresh%.1f, pre-flight load $loadPre%.1f, " +
        s"waited ${guardWaited}s.\n")
      sb.append(kernels.replace("\"", "`") + " fast-vs-portable kernel secs " +
        "(portable = md5 for DuckDB-oracle bit-compat, benched in the query loop; " +
        "fast = production xxhash/splitmix path).\n\n")
      sb.append("| Query | best (s) | par | samples (s) |\n|---|---|---|---|\n")
      results.sortBy(-_._2.map(_._1).min).foreach { case (k, v) =>
        sb.append(f"| $k | ${v.map(_._1).min}%.2f | ${v.minBy(_._1)._2}%.1f | " +
          s"${v.map(t => f"${t._1}%.2f").mkString(", ")} |\n")
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_table.md"),
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    // LAST line, hard-capped ~1400 chars: totals + host + kernels +
    // as many slowest-query bests as fit. This is the line the
    // driver's 2000-char tail capture actually parses.
    val head = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","cpus":$cpus,"nq":${results.size},$host,"kernels":$kernels,"full":"bench.json"$errJson"""
    val bySlowest = results.sortBy(-_._2.map(_._1).min)
      .map { case (k, v) => "\"" + k + "\":" + f"${v.map(_._1).min}%.2f" }
    val budget = 1400 - head.length - ",\"queries\":{}}".length
    val kept = new StringBuilder
    var used = 0
    bySlowest.foreach { e =>
      val c = e.length + (if (used == 0) 0 else 1)
      if (used + c <= budget) { if (used > 0) kept.append(","); kept.append(e); used += c }
    }
    println(s"""$head,"queries":{$kept}}""")
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"BENCH FAILED: ${errors.size} queries threw: " +
        errors.keys.toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
