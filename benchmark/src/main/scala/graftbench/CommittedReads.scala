package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The read side of `graft.sources`, measured in deliver_eo's traced
  * run on the table its epochs committed (one manifest and one file per
  * epoch): a full scan and a 2-column projection (both `noop`), a 1%
  * pushed-down id range, a grouped aggregate and a `readStream`
  * catch-up with `Trigger.AvailableNow`. Every read is checked against
  * the rows the run sent, never against graft-bq's own output. Jobs are
  * counted by a listener of their own, so the run's Spark totals stay
  * those of its epochs. */
final class CommittedReads(run: Run, table: Path, ids: Seq[Long], userIds: Seq[Long], kinds: Seq[String]) {
  val reps = 3
  val names = Seq("full", "project", "filter", "aggregate", "catchup")
  private val rows = ids.size.toLong
  private val idSum = ids.sum
  private val lowId = ids.min
  private val expectedGroups: Map[String, (Long, Long)] = kinds.zip(userIds).groupBy(_._1)
    .map { case (k, vs) => k -> (vs.size.toLong, vs.map(_._2).sum) }
  private val probes = new Probes(run.spark)
  private var catchups = 0

  def read(): DataFrame = run.spark.read.format("graft-bq").option("path", table.toString).load()

  /** One untimed read of each kind, then `reps` timed rotations; adds
    * the `sources.*` read metrics to the run's layers and checks every read. */
  def measure(): Unit = {
    val warm = names.indices.map(i => names(i) -> once(i))
    probes.install()
    var filterScanRows = 0L
    val timed = try (names.size until names.size * (reps + 1)).map { i =>
      val r = once(i)
      if (names(i % names.size) == "filter") {
        probes.drain()
        filterScanRows += Iterator.continually(probes.scanRows.poll()).takeWhile(_ != null).toSeq
          .lastOption.map(_.longValue).getOrElse(0L)
      }
      names(i % names.size) -> r
    } finally probes.uninstall()
    val wrong = (warm ++ timed).collect { case (k, (false, _)) => k }
    run.check("deliver_eo: every committed read equals the rows sent", wrong.isEmpty, wrong.mkString(", "))
    timed.groupBy(_._1).foreach { case (k, rs) =>
      run.layers(if (k == "catchup") "sources.catchup_ms" else s"sources.scan_${k}_ms") = Main.median(rs.map(_._2._2))
    }
    run.layers("sources.input_partitions") = probes.counters("sources.scan.full").tasks.sum.toDouble / reps
    run.layers("sources.pushdown_keep_ratio") = filterScanRows.toDouble / (rows * reps)
  }

  /** One read of kind `i % 5`: (result correct, ms). */
  private def once(i: Int): (Boolean, Double) = {
    val kind = names(i % names.size)
    Main.timedMs(Trace.span("sources", s"scan $kind", op = s"sources.scan.$kind") {
      kind match {
        case "full" | "project" =>
          val obs = Observation(s"$kind-$i")
          val df = if (kind == "full") read() else read().select("id", "value")
          df.observe(obs, count(lit(1)).as("n"), sum("id").as("ids")).write.format("noop").mode("overwrite").save()
          val m = obs.get
          m("n") == rows && m("ids") == idSum
        case "filter" =>
          val width = rows / 100
          val lo = lowId + java.lang.Math.floorMod(run.seed * 7919 + i * 104729L, rows - width)
          val r = read().filter(col("id") >= lo && col("id") < lo + width).agg(count(lit(1)), sum("id")).head()
          val hit = ids.filter(id => id >= lo && id < lo + width)
          r.getLong(0) == hit.size && r.getLong(1) == hit.sum
        case "aggregate" =>
          read().groupBy("kind").agg(count(lit(1)), sum("user_id")).collect()
            .map((r: Row) => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap == expectedGroups
        case "catchup" =>
          catchups += 1
          val q = run.spark.readStream.format("graft-bq").option("path", table.toString).load()
            .writeStream.format("noop").trigger(Trigger.AvailableNow())
            .option("checkpointLocation", run.dir.resolve(s"catchup-$catchups").toString)
            .start()
          q.awaitTermination()
          q.recentProgress.map(_.numInputRows).sum == rows
      }
    })
  }
}
