package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame

import scala.annotation.tailrec
import scala.util.control.NonFatal

/** Retry classification + bounded retry loop — the Spark analog of the
  * reference's status-code switches (sink/defaultStream/
  * BigQueryDefaultSinkWriter.java: retry on INTERNAL/CANCELLED/ABORTED;
  * recreate on MAXIMUM_BATCHING_ERROR) and WriterRetrySettings. */
object RetryPolicy {
  sealed trait Classification
  case object Retryable extends Classification
  case object RecreateWriter extends Classification
  case object Fatal extends Classification

  final case class RetryableException(msg: String) extends RuntimeException(msg)
  final case class WriterClosedException(msg: String) extends RuntimeException(msg)

  def classify(t: Throwable): Classification = t match {
    case _: RetryableException => Retryable
    case _: WriterClosedException => RecreateWriter
    case _ => Fatal
  }

  /** Runs `op`, retrying Retryable failures up to maxRetries, invoking
    * `onRecreate` for recreate-writer failures (fresh writer, retry). */
  def withRetries[T](maxRetries: Int, metrics: SinkMetrics = new SinkMetrics)(
      op: () => T, onRecreate: () => Unit = () => ()): T = {
    @tailrec def loop(attempt: Int): T = {
      val r = try Right(op()) catch { case NonFatal(t) => Left(t) }
      r match {
        case Right(v) => v
        case Left(t) =>
          classify(t) match {
            case Fatal => throw t
            case c if attempt >= maxRetries => throw t
            case Retryable =>
              metrics.appendRetries += 1
              loop(attempt + 1)
            case RecreateWriter =>
              metrics.appendRetries += 1
              onRecreate()
              loop(attempt + 1)
          }
      }
    }
    loop(0)
  }
}

/** At-least-once append writer — the Spark re-expression of
  * sink/defaultStream/BigQueryDefaultSinkWriter.java +
  * sink/BigQuerySinkWriter.java's batch splitting: an append whose
  * payload exceeds the API limit is halved recursively and re-appended
  * (split_batch_count metric), transient failures retry per
  * RetryPolicy. `append` is the pluggable transport (the tests inject
  * failures; a real deployment would PUT to an external service).
  */
class AtLeastOnceWriter[A](append: Seq[A] => Unit, sizeOf: A => Long,
                           maxAppendBytes: Long, maxRetries: Int = 3,
                           val metrics: SinkMetrics = new SinkMetrics) extends Serializable {

  def write(batch: RowBatch[A]): Unit = writeData(batch.data)

  private def writeData(data: Seq[A]): Unit = {
    val bytes = data.iterator.map(sizeOf).sum
    if (data.size > 1 && bytes > maxAppendBytes) {
      metrics.splitBatchCount += 1
      val (a, b) = data.splitAt(data.size / 2)
      writeData(a); writeData(b)
    } else {
      RetryPolicy.withRetries(maxRetries, metrics)(() => append(data))
      metrics.batchCount += 1
      metrics.batchSizeBytes += bytes
    }
  }
}

/** One stream's transport: appends batches, closeable. The pluggable
  * seam a real gRPC stream writer would implement. */
trait BatchAppender[A] extends AutoCloseable {
  def append(rows: Seq[A]): Unit
}

/** Pooled per-stream writer registry — the analog of the reference's
  * writer pool behind ClientProvider.getWriter (client/
  * BigQueryStreamWriter.java, JsonStreamWriter.java): one live writer
  * per stream name, created lazily, reused across appends, dropped and
  * rebuilt on writer-closed failures, all closed on shutdown. Gauges
  * mirror the pooled-writer metrics the reference exposes. */
class WriterPool[W <: AutoCloseable](create: String => W) extends AutoCloseable {
  private val writers = new java.util.concurrent.ConcurrentHashMap[String, W]()
  private val created = new java.util.concurrent.atomic.AtomicLong()
  private val recreations = new java.util.concurrent.atomic.AtomicLong()

  def get(stream: String): W =
    writers.computeIfAbsent(stream, s => { created.incrementAndGet(); create(s) })

  /** Drop and close `stream`'s writer; the next get() builds a fresh
    * one — the pool-side half of RetryPolicy.RecreateWriter. */
  def recreate(stream: String): W = {
    val old = writers.remove(stream)
    if (old != null) { try old.close() catch { case NonFatal(_) => () } }
    recreations.incrementAndGet()
    get(stream)
  }

  def size: Int = writers.size()
  def createdCount: Long = created.get()
  def recreatedCount: Long = recreations.get()

  override def close(): Unit = {
    writers.values().forEach(w => try w.close() catch { case NonFatal(_) => () })
    writers.clear()
  }
}

/** Routes keyed batches to pooled per-stream writers with the full
  * retry ladder: transient failures retry in place, writer-closed
  * failures recreate the stream's writer through the pool and retry
  * (reference: BigQueryDefaultSinkWriter status switch + getWriter). */
class PooledStreamAppender[A](newWriter: String => BatchAppender[A],
                              maxRetries: Int = 3,
                              val metrics: SinkMetrics = new SinkMetrics)
    extends AutoCloseable {
  val pool = new WriterPool[BatchAppender[A]](newWriter)

  def append(stream: String, rows: Seq[A]): Unit =
    RetryPolicy.withRetries(maxRetries, metrics)(
      () => pool.get(stream).append(rows),
      onRecreate = () => pool.recreate(stream))

  override def close(): Unit = pool.close()
}

/** Exactly-once micro-batch sink: the Spark re-expression of the
  * reference's BUFFERED-stream + commit-on-checkpoint protocol
  * (sink/buffered/BigQueryBufferedSinkWriter.java +
  * BigQuerySinkCommitter.java). In Structured Streaming the epoch id of
  * `foreachBatch` is the checkpointed offset: a replayed epoch must not
  * re-append. We write each epoch under an epoch-scoped directory and
  * atomically record it in a commit ledger; replays of committed epochs
  * are no-ops (idempotent 2-phase commit). Offsets in the ledger are
  * monotone, mirroring StreamState.offset.
  */
class ExactlyOnceParquetSink(basePath: String) extends Serializable {
  private def ledgerDir: Path = Paths.get(basePath, "_graft_commits")

  def committedEpochs(): Set[Long] = {
    val d = ledgerDir
    if (!Files.isDirectory(d)) Set.empty
    else {
      val it = Files.list(d).iterator()
      var s = Set.empty[Long]
      while (it.hasNext) {
        val name = it.next().getFileName.toString
        if (name.endsWith(".committed")) s += name.stripSuffix(".committed").toLong
      }
      s
    }
  }

  /** foreachBatch body. Returns true if the epoch was appended, false
    * if it was a replay of a committed epoch. */
  def addBatch(df: DataFrame, epochId: Long): Boolean = {
    if (committedEpochs().contains(epochId)) return false
    // Phase 1: write data under the epoch directory (overwrite-safe on
    // partial previous attempts of the SAME epoch — BigQuery analog:
    // append at a fixed offset is rejected/ignored when already there).
    df.write.mode("overwrite").parquet(s"$basePath/epoch=$epochId")
    // Phase 2: atomic commit marker (temp + ATOMIC_MOVE = flush offset).
    // The marker's name is the whole record (readers list the ledger),
    // so its body stays empty: counting the batch would re-run it.
    Files.createDirectories(ledgerDir)
    val tmp = ledgerDir.resolve(s".$epochId.tmp")
    Files.write(tmp, Array.emptyByteArray)
    Files.move(tmp, ledgerDir.resolve(s"$epochId.committed"),
      StandardCopyOption.ATOMIC_MOVE)
    true
  }

  /** All committed data, for reads (uncommitted epochs invisible).
    * One multi-path scan, not a union per epoch: a long-lived stream
    * accumulates thousands of epochs and a union chain that deep is a
    * plan-size problem before it is a data problem. */
  def read(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val epochs = committedEpochs().toSeq.sorted
    if (epochs.isEmpty) spark.emptyDataFrame
    else spark.read.option("basePath", basePath)
      .parquet(epochs.map(e => s"$basePath/epoch=$e"): _*)
      .drop("epoch")
  }
}
