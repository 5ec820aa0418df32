package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dumps `explain formatted` for every SparkEntry query → PLANS.md.
  * Review artifact: pushdown, broadcast choices and codegen spans are
  * inspectable without rerunning anything.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder(
      s"# Physical plans (explain formatted), sf dir = $sfDir\n\n" +
        "Generated by `sbt \"runMain graft.Explain\"` — regenerate after plan-affecting changes.\n\n" +
        "Reading note: when several `InMemoryTableScan`s reference the SAME\n" +
        "`InMemoryRelation` (one cached signature/index table read on both\n" +
        "sides of a self-join), `explain` re-prints the cache-BUILD subplan\n" +
        "under every reference — the signature `Generate`/`Window` subtree\n" +
        "shown more than once is display duplication, not recomputation; it\n" +
        "executes once when the cache materializes.\n")
    val audit = new StringBuilder()
    // Audit-table footnotes for queries whose raw node counts read as
    // alarms but are loop/cache artifacts (the scans column counts the
    // cache-BUILD subplan once per InMemoryTableScan reference — see
    // the reading note): each entry explains the count so the table is
    // evidence on its own.
    val notes: Seq[(String, String)] = Seq(
      "tokenizer_apply" -> ("greedy-merge rounds are checkpointed (r12 " +
        "pin): the encode join reads a flat vocab RDD scan; corpus reads once"),
      "tokenizer_bpe" -> ("merge rounds iterate a checkpointed vocab-sized " +
        "table with flat lineage (r12 pin); corpus reads once"),
      "ann_graph" -> ("beam-search hops are checkpointed (r12 pin): each " +
        "hop reads the prior frontier as a flat RDD scan; the index builds once"),
      "scale_kmv_matrix" -> ("C(sides,2) pair branches re-print the one " +
        "cached per-side sketch table; the corpus appears only in the " +
        "exact-audit columns"),
      "pipeline_dsir" -> ("per-feature-bucket branches read the one " +
        "persisted feature explode; count tables are bucket-sized"),
      "dedup_clusters" -> ("components are labelled while the frame is " +
        "built (driver union-find below 2M edges); the plan reads the labels"),
      "graph_pagerank" -> ("per-iteration rank⋈adjacency branches over " +
        "the cached adjacency; iterations bound the re-prints"),
      "graph_communities" -> ("LPA rounds re-print the cached " +
        "adjacency; localCheckpoint caps lineage"))
    def noteFor(name: String): String =
      notes.collectFirst { case (p, n) if name.startsWith(p) => n }.getOrElse("")
    // FIXTURE-COST columns (r11 verdict #8): work a query runs while
    // CONSTRUCTING its frame — derivation collects, build-if-absent
    // artifact builds, model loads — never appears in the final plan,
    // so the summary table was blind to it (the proximity derivation
    // audit was blindsided exactly there). Count the Spark jobs fired
    // during fn() plus the construction wall time so driver-side
    // fixture work is first-class audit evidence.
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val ((plan, fixtureSecs), fixtureJobs) = Jobs.fired(spark.sparkContext) {
        val t0 = System.nanoTime()
        val plan = try {
          fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
        (plan, (System.nanoTime() - t0) / 1e9)
      }
      sb.append(s"\n## $name\n\n```\n$plan```\n")
      def n(pat: String) = pat.r.findAllIn(plan).size
      audit.append(s"| $name | ${n("Scan parquet")} | ${n("InMemoryTableScan")} " +
        s"| ${n("Exchange")} | ${n("SortMergeJoin")} | ${n("BroadcastHashJoin")} " +
        s"| ${n("BroadcastNestedLoopJoin")} | ${n("CartesianProduct")} " +
        s"| ${n("\\bWindow\\b")} | ${n("WholeStageCodegen")} " +
        s"| $fixtureJobs | ${f"$fixtureSecs%.2f"} | ${noteFor(name)} |\n")
      // operators persist() signature tables — drop them so one
      // query's cache can't shadow the next query's plan
      spark.sharedState.cacheManager.clearCache()
    }
    sb.append(
      "\n## Plan-audit summary\n\n" +
        "Raw node counts per query plan, for at-a-glance regression\n" +
        "diffing (remember the cache-re-print reading note above: scans\n" +
        "inside `InMemoryTableScan` build re-prints are display copies,\n" +
        "so `scans` here is an upper bound on physical reads whenever\n" +
        "`cacheReads` > 0; `CartesianProduct` > 0 or an unexpected\n" +
        "`SortMergeJoin` is the thing to chase).\n" +
        "`fixJobs`/`fixSecs` are the FIXTURE columns: Spark jobs fired and\n" +
        "wall seconds spent while CONSTRUCTING the frame (derivation\n" +
        "collects, build-if-absent artifact builds) — work the final plan\n" +
        "cannot show. Stored faces with a cold artifact cache pay their\n" +
        "one-time build here; steady-state fixture cost is the stats-read\n" +
        "derivations only.\n\n" +
        "| query | scans | cacheReads | exchanges | smj | bhj | bnlj | cartesian | window | wscg | fixJobs | fixSecs | note |\n" +
        "|---|---|---|---|---|---|---|---|---|---|---|---|---|\n")
    sb.append(audit)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
