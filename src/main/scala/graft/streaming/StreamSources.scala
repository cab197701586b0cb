package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A replayable record stream the G-family operators can run over.
  * `stream` returns a streaming DataFrame already decoded to the
  * table's schema, so every operator is source-agnostic: the bounded
  * file harness and a Kafka-shaped feed run the identical plan
  * downstream of the source node (spec'd in KafkaShapedSourceSpec).
  */
trait StreamSource {
  def stream(spark: SparkSession): DataFrame
}

object StreamSource {
  /** Configuration-gated source selection: a real Kafka feed when
    * `SPARK_GRAFT_KAFKA_BROKERS` is set (topic `topic`, JSON values in
    * `valueSchema` — the same consumer contract the Kafka-shaped
    * MemoryStream feed proves in CI), else the bounded parquet-file
    * harness. The downstream operators are source-agnostic, so the
    * switch is this one construction site. */
  def forParquet(file: String, topic: String, valueSchema: => StructType,
                 env: Map[String, String] = sys.env): StreamSource =
    env.get("SPARK_GRAFT_KAFKA_BROKERS") match {
      case Some(brokers) => KafkaStreamSource(brokers, topic, valueSchema)
      case None => FileStreamSource(file)
    }
}

/** Parquet-file implementation — the driver's bounded harness: the
  * single read-only parquet file is staged as a symlink directory
  * (the file source requires a directory) and an AvailableNow trigger
  * drains it through the same micro-batch machinery a live feed uses. */
final case class FileStreamSource(file: String) extends StreamSource {
  def stream(spark: SparkSession): DataFrame = {
    val schema = spark.read.parquet(file).schema
    val raw = spark.readStream.schema(schema).parquet(Streams.stageAsDir(file))
    // Ingest normalization (ParquetIngestContractSpec) for any file
    // layout, where Tables.events reads only the declared NTZ micros:
    // any TIMESTAMP_NTZ column (tz-less timestamp[us], which
    // watermarks and unix_micros() reject) casts to TimestampType —
    // bit-identical micros under the UTC session zone — and a
    // LongType `ts` (how TIMESTAMP(NANOS) reads under
    // legacy.parquet.nanosAsLong) truncates to micros. Streaming
    // operators can rely on instants whatever the driver's writer
    // encoded.
    schema.fields.foldLeft(raw) { (df, f) =>
      if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        df.withColumn(f.name, col(f.name).cast("timestamp"))
      else if (f.name == "ts" &&
               f.dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      else df
    }
  }
}

/** Real Kafka binding: subscribe to `topic` at `bootstrapServers` and
  * decode each record's JSON value into `valueSchema` columns —
  * byte-for-byte the contract [[KafkaShapedSource]] replays in CI
  * (keyed records, per-partition order, JSON values), so every spec
  * over the shaped feed is evidence for this binding. Requires the
  * spark-sql-kafka connector on the classpath and a reachable broker —
  * neither exists in the build sandbox, so this class is exercised
  * there only up to construction/selection (KafkaShapedSourceSpec);
  * `stream()` fails fast with Spark's missing-data-source error
  * otherwise. Offsets default to `earliest` for a replayable drain;
  * pass `maxOffsetsPerTrigger` etc. through `extraOptions`. */
final case class KafkaStreamSource(bootstrapServers: String, topic: String,
                                   valueSchema: StructType,
                                   startingOffsets: String = "earliest",
                                   extraOptions: Map[String, String] = Map.empty)
    extends StreamSource {
  def stream(spark: SparkSession): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .options(extraOptions)
      .load()
      .select(from_json(col("value").cast("string"), valueSchema).as("v"))
      .select(col("v.*"))
}

/** One record in Kafka's envelope shape: topic / partition / offset /
  * key / value / timestamp. Values carry the row as JSON — the
  * standard consumer contract (decode value → columns). */
case class KafkaRecord(topic: String, partition: Int, offset: Long,
                       key: String, value: String, ts_us: Long)

/** Kafka-shaped source without the broker, fed by a MemoryStream —
  * which implements the streaming Source offset API, so batches are
  * replayable from retained offsets exactly like a consumer seeking a
  * Kafka offset (a second query over the same source re-reads from 0;
  * spec-proven). Records are keyed; the key is hash-partitioned over
  * `numPartitions` and offsets are assigned monotonically PER
  * PARTITION — Kafka's ordering contract (order within a partition,
  * none across). `stream()` filters to the topic and decodes the JSON
  * value with `from_json` into `valueSchema`. */
final class KafkaShapedSource(val topic: String, valueSchema: StructType,
                              val numPartitions: Int = 4)
                             (implicit spark: SparkSession) {
  import spark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val records = MemoryStream[KafkaRecord]
  private val nextOffset = Array.fill(numPartitions)(0L)

  /** Kafka's default-partitioner shape: partition = hash(key). */
  def partitionFor(key: String): Int =
    math.floorMod(key.hashCode, numPartitions)

  /** Append keyed records; one addData call = one producer batch
    * (MemoryStream may still split batches — consumers must not assume
    * batch boundaries, same as Kafka). Returns (partition, offset) per
    * record, in send order. */
  def send(kvs: Seq[(String, String, Long)]): Seq[(Int, Long)] = synchronized {
    val placed = kvs.map { case (key, value, tsUs) =>
      val p = partitionFor(key)
      val off = nextOffset(p)
      nextOffset(p) += 1
      KafkaRecord(topic, p, off, key, value, tsUs)
    }
    records.addData(placed)
    placed.map(r => (r.partition, r.offset))
  }

  /** High-water mark per partition (next offset to be assigned). */
  def endOffsets: Seq[Long] = synchronized(nextOffset.toSeq)

  def source: StreamSource = new StreamSource {
    def stream(spark: SparkSession): DataFrame =
      records.toDF()
        .filter(col("topic") === topic)
        .select(from_json(col("value"), valueSchema).as("v"))
        .select(col("v.*"))
  }
}
