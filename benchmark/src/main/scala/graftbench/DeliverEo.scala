package graftbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Exactly-once delivery with small epochs: one `graft-bq` streaming
  * write fed by a MemoryStream, one `addData` + `processAllAvailable`
  * per epoch, so the fixed per-epoch cost (DSv2 commit, manifest write
  * and listing, checkpoint WAL) dominates. The table is read back at the
  * end and compared with everything that was sent; a traced run then
  * times the committed reads of that table ([[CommittedReads]]). */
final class DeliverEo extends Workload {
  type Event = (Long, Long, Double, String, String, Timestamp)
  val columns = Seq("id", "user_id", "value", "kind", "note", "ts")
  val rowsPerEpoch = 1000
  val epochsPerSetup = 3
  override val setupReps = 3
  override val minOps = 40

  private var mem: MemoryStream[Event] = _
  private var query: StreamingQuery = _
  private var table: Path = _
  private var epoch = 0
  private val sent = ArrayBuffer.empty[Event]
  private val tracedBatches = ArrayBuffer.empty[Long]

  /** Seeded small events; ids are unique across the run. */
  def events(seed: Long, e: Int): Seq[Event] = {
    val r = new scala.util.Random(seed * 1000003L + e)
    (0 until rowsPerEpoch).map { i =>
      val note = Seq.fill(r.nextInt(24))(DeliverEo.alphabet(r.nextInt(DeliverEo.alphabet.length))).mkString
      val ts = new Timestamp(1700000000000L + r.nextInt(86400000))
      ts.setNanos(ts.getNanos + r.nextInt(1000) * 1000)
      (e.toLong * rowsPerEpoch + i, r.nextInt(50000).toLong, r.nextInt(10000000) / 1000.0,
        DeliverEo.kinds(r.nextInt(DeliverEo.kinds.length)), note, ts)
    }
  }

  override def setup(run: Run, rep: Int): Unit = {
    if (query != null) query.stop()
    val spark = run.spark
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    table = run.dir.resolve(s"eo-table-$rep")
    mem = MemoryStream[Event]
    query = mem.toDF().toDF(columns: _*).writeStream
      .format("graft-bq").option("path", table.toString)
      .option("checkpointLocation", run.dir.resolve(s"eo-ckpt-$rep").toString)
      .start()
    sent.clear()
    (0 until epochsPerSetup).foreach(_ => deliver(run.seed))
  }

  /** Returns the batch id this epoch committed as. */
  private def deliver(seed: Long): Long = {
    val rows = events(seed, epoch)
    epoch += 1
    Trace.span("streaming", "addData+processAllAvailable", op = "streaming.epoch") {
      mem.addData(rows)
      query.processAllAvailable()
    }
    sent ++= rows
    sent.size / rowsPerEpoch - 1L
  }

  override def op(run: Run, i: Int): Unit = {
    run.attempt("epoch") {
      val (batch, ms) = Main.timedMs(deliver(run.seed))
      run.done(ms, rowsPerEpoch)
      if (Trace.enabled) tracedBatches += batch
    }
  }

  override def finish(run: Run): Unit = {
    query.stop()
    run.check("streaming query ended without error", query.exception.isEmpty,
      query.exception.map(_.getMessage).getOrElse(""))
    val back = run.spark.read.format("graft-bq").option("path", table.toString).load()
      .select(columns.map(col): _*).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3), r.getString(4), r.getTimestamp(5)))
    val byId = back.groupBy(_._1)
    val lost = sent.count(e => !byId.contains(e._1))
    val duplicated = byId.values.count(_.length > 1)
    val changed = sent.count(e => byId.get(e._1).exists(_.exists(_ != e)))
    run.check("deliver_eo: no lost rows", lost == 0, s"$lost of ${sent.size} sent rows missing")
    run.check("deliver_eo: no duplicated rows", duplicated == 0, s"$duplicated ids delivered twice")
    run.check("deliver_eo: read-back rows equal the input", changed == 0 && back.length == sent.size,
      s"$changed rows differ, ${back.length} read for ${sent.size} sent")

    if (run.trace) {
      val traced = run.tracedOpsMs.toSeq
      val tenth = math.max(1, traced.size / 10)
      run.layers("sources.commit_growth") =
        Main.median(traced.takeRight(tenth)) / Main.median(traced.take(tenth))
      DeliverEo.tableLayout(table, back.length.toLong).foreach { case (k, v) => run.layers(k) = v }
      new CommittedReads(run, table, sent.map(_._1).toSeq, sent.map(_._2).toSeq, sent.map(_._4).toSeq).measure()
      val ids = tracedBatches.toSet
      val progress = query.recentProgress.filter(p => ids(p.batchId)).toSeq
      def dur(keys: String*): Double = Main.median(progress.map { p =>
        keys.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      })
      run.layers("streaming.add_batch_ms") = dur("addBatch")
      run.layers("streaming.wal_ms") = dur("walCommit", "commitOffsets")
      run.layers("streaming.plan_ms") = dur("queryPlanning")
      run.layers("streaming.offset_ms") = dur("latestOffset", "getBatch")
      run.check("deliver_eo: one micro-batch per traced epoch",
        progress.size == ids.size && progress.forall(_.numInputRows == rowsPerEpoch),
        s"${progress.size} progress events for ${ids.size} epochs")
    }
  }
}

object DeliverEo {
  val kinds = Array("view", "click", "cart", "buy", "refund", "search", "share", "rate")
  val alphabet = "abcdefghijklmnopqrstuvwxyz \"\\é€".toCharArray

  /** Manifests, data files and stored bytes per row of a graft-bq table. */
  def tableLayout(table: Path, rows: Long): Map[String, Double] = {
    def list(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Nil
      else Files.list(p).iterator().asScala.filter(f => !f.getFileName.toString.startsWith(".")).toSeq
    val files = list(table).filter(_.getFileName.toString.endsWith(".jsonl"))
    Map("sources.manifests" -> list(table.resolve("_committed")).size.toDouble,
      "sources.files" -> files.size.toDouble,
      "sources.stored_bytes_per_row" -> files.map(Files.size).sum.toDouble / math.max(1L, rows))
  }
}
