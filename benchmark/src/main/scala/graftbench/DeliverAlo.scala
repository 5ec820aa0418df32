package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray, LongAdder}

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame

import graft.sinks.{GraftSink, RetryPolicy, TableRef, WriterSettings}

/** At-least-once delivery through `GraftSink.writeAtLeastOnce`: the
  * reference's default-stream path (serialize, greedy count/bytes
  * trigger, split, retry). Epochs are generated and cached in set-up,
  * so an epoch's cost is per-row CPU in `graft.sinks` plus the
  * benchmark's in-memory transport; there is no disk and no source. */
final class DeliverAlo extends Workload {
  val epochRows = 10000
  val epochCount = 3
  /** Per set-up: writes got faster for about 80 writes in all, so three
    * set-ups of 30 end the JIT warm-up before the measurement. */
  val warmWrites = 30
  override val setupReps = 3
  override val minOps = 40
  /** With 5% of records at 2-12 KB, a batch that crosses the 48 KB
    * trigger on a large record can exceed the 57 KB append limit, so
    * a few percent of appends split. */
  val settings: WriterSettings =
    WriterSettings(maxAppendBytes = 57 * 1024).withBatch(200, 48 * 1024)
  val table: TableRef = TableRef("bench", "graft", "events")

  private var epochs = IndexedSeq.empty[DataFrame]
  private var missing = 0L
  private val traced = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def epoch(run: Run, e: Int): DataFrame = {
    val s = run.seed
    run.spark.range(e.toLong * epochRows, (e + 1L) * epochRows, 1, 4).selectExpr(
      "id",
      s"pmod(xxhash64(id, ${s}L), 50000) AS user_id",
      s"CAST(pmod(xxhash64(id, ${s + 1}L), 10000000) AS DOUBLE) / 1000 AS value",
      s"element_at(array('view', 'click', 'cart', 'buy', 'refund'), " +
        s"CAST(pmod(xxhash64(id, ${s + 2}L), 5) + 1 AS INT)) AS kind",
      s"CAST(IF(pmod(xxhash64(id, ${s + 3}L), 100) < 5, 2000 + pmod(xxhash64(id, ${s + 4}L), 10000), " +
        s"16 + pmod(xxhash64(id, ${s + 4}L), 64)) AS INT) AS len")
      .selectExpr("id", "user_id", "value", "kind",
        s"substring(repeat(md5(CAST(id + ${s}L AS STRING)), len DIV 32 + 1), 1, len) AS payload")
  }

  override def setup(run: Run, rep: Int): Unit = {
    epochs.foreach(_.unpersist(blocking = true))
    epochs = (0 until epochCount).map(e => epoch(run, e).cache())
    epochs.foreach(_.count())
    (0 until warmWrites).foreach(i => write(run, -1 - i - rep * warmWrites))
  }

  /** One epoch through the sink; returns the delivery totals. */
  private def write(run: Run, i: Int): GraftSink.Totals = {
    val k = java.lang.Math.floorMod(i, epochCount)
    AloTransport.begin(run.seed, i, k.toLong * epochRows, epochRows)
    val totals = Trace.span("sinks", "writeAtLeastOnce", op = "sinks.write") {
      GraftSink.writeAtLeastOnce(epochs(k), table, settings, AloTransport.append)
    }
    missing += AloTransport.missing
    totals
  }

  override def op(run: Run, i: Int): Unit = {
    run.attempt("epoch") {
      val (t, ms) = Main.timedMs(write(run, i))
      run.done(ms, epochRows)
      if (Trace.enabled) {
        def add(k: String, v: Double): Unit = traced(k) += v
        add("batches", t.batches); add("bytes", t.bytes); add("splits", t.splits)
        add("retries", t.retries); add("rows", t.rows)
        add("appends", AloTransport.appends.sum); add("acked", AloTransport.acked.sum)
        add("transport_ns", AloTransport.nanos.sum); add("dups", AloTransport.duplicates)
      }
    }
  }

  override def finish(run: Run): Unit = {
    run.check("deliver_alo: every row delivered at least once", missing == 0,
      s"$missing rows never reached the transport")
    if (run.trace) {
      def t(k: String): Double = traced(k)
      val epochsTraced = math.max(1, run.tracedOpsMs.size)
      val writeMs = run.tracedOpsMs.sum / epochsTraced
      val transportMs = t("transport_ns") / 1e6 / epochsTraced
      val runMs = run.probes.counters("sinks.write").runMs.sum.toDouble / epochsTraced
      run.layers ++= Seq(
        "sinks.write_ms" -> writeMs, "sinks.transport_ms" -> transportMs,
        "sinks.self_ms" -> (runMs - transportMs), "sinks.appends" -> t("appends"),
        "sinks.retries" -> t("retries"), "sinks.splits" -> t("splits"),
        "sinks.batches" -> t("batches"), "sinks.bytes_per_row" -> t("bytes") / math.max(1.0, t("rows")),
        "sinks.useful_append_ratio" -> t("acked") / math.max(1.0, t("appends")),
        "sinks.dup_rows" -> t("dups"))
    }
  }
}

/** The benchmark's in-memory transport. It counts deliveries per row id
  * of the current epoch and throws seeded `RetryableException`s: an
  * append's first two attempts each fail at 2%, decided by (seed, epoch
  * call, first id, batch size, attempt), so the failures repeat exactly
  * on a seed. Half of them lose only the acknowledgement: the rows land
  * and the writer's retry duplicates them, as at-least-once allows.
  * State is static because Spark runs the closure in this JVM (local mode). */
object AloTransport {
  val failPermille = 20
  val appends, acked, nanos = new LongAdder
  @volatile private var seed = 0L
  @volatile private var call = 0L
  @volatile private var base = 0L
  @volatile private var counts = new AtomicIntegerArray(0)
  private val attempts = new ConcurrentHashMap[Long, AtomicInteger]

  def begin(seed: Long, call: Long, base: Long, rows: Int): Unit = {
    this.seed = seed; this.call = call; this.base = base
    counts = new AtomicIntegerArray(rows)
    attempts.clear()
    Seq(appends, acked, nanos).foreach(_.reset())
  }

  def append(batch: Seq[Array[Byte]]): Unit = {
    val t0 = System.nanoTime()
    val us0 = Trace.nowUs
    try {
      appends.increment()
      val key = mix(mix(call, idOf(batch.head)), batch.size.toLong)
      val attempt = attempts.computeIfAbsent(key, _ => new AtomicInteger).getAndIncrement()
      val roll = java.lang.Math.floorMod(mix(mix(seed, key), attempt.toLong), 1000L)
      val fail = attempt < 2 && roll < failPermille
      if (!fail || roll % 2 == 0) batch.foreach(b => counts.incrementAndGet((idOf(b) - base).toInt))
      if (fail) throw RetryPolicy.RetryableException("injected transport failure")
      acked.increment()
    } finally {
      nanos.add(System.nanoTime() - t0)
      val tc = TaskContext.get()
      if (Trace.enabled && tc != null)
        Trace.record(Span(Trace.nextId("t"), s"s${tc.stageId()}", "sinks.transport", "append",
          us0, Trace.nowUs))
    }
  }

  def missing: Long = (0 until counts.length()).count(i => counts.get(i) == 0).toLong
  def duplicates: Long = (0 until counts.length()).map(i => math.max(0, counts.get(i) - 1).toLong).sum

  /** Row id of one `JsonRowSerializer` record: the digits after `{"id":`. */
  def idOf(b: Array[Byte]): Long = {
    var i = 6
    var v = 0L
    while (i < b.length && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
    v
  }

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
