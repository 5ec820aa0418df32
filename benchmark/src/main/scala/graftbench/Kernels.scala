package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import graft.schema.ProtoRowSerializer
import graft.sinks.{BinaryRowSerializer, JsonRowSerializer}

/** Single-thread serializer kernels, called directly on fixed rows, in
  * nanoseconds per row (median of seven timed passes after five warm-ups). */
object Kernels {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("user_id", LongType), StructField("value", DoubleType),
    StructField("kind", StringType), StructField("note", StringType), StructField("ok", BooleanType)))

  def measure(): Map[String, Double] = {
    val kinds = Array("view", "click", "cart", "buy", "refund")
    val rows: IndexedSeq[Row] = (0 until 20000).map { i =>
      new GenericRowWithSchema(Array[Any](i.toLong, i * 7919L % 50000, i / 3.0, kinds(i % 5),
        "n" * (i % 40), i % 3 == 0), schema)
    }
    def nsPerRow(f: Row => Array[Byte]): Double = {
      var sink = 0L
      val samples = (0 until 12).map { _ =>
        val t0 = System.nanoTime()
        rows.foreach(r => sink += f(r).length)
        (System.nanoTime() - t0).toDouble / rows.size
      }
      require(sink > 0)
      Main.median(samples.drop(5))
    }
    val json = new JsonRowSerializer
    val binary = new BinaryRowSerializer
    val proto = new ProtoRowSerializer(schema)
    Map("sinks.json_ns_per_row" -> nsPerRow(json.serialize),
      "sinks.binary_ns_per_row" -> nsPerRow(binary.serialize),
      "schema.proto_ns_per_row" -> nsPerRow(proto.serialize))
  }
}
