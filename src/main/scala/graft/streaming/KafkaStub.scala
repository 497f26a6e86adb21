package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Durable

/** In-process Kafka test double. The sandbox has no broker or
  * connector jar, so this file-backed queue stands in for one: the
  * producer appends records with per-partition monotonic offsets in
  * the EXACT wire schema the spark-sql-kafka source emits, and the
  * consumer is a readStream over the queue directory that feeds
  * [[KafkaBridge.toMessages]] — the identical wire→frame path a real
  * broker takes, so egress and ingress run against a LIVE
  * producer/consumer pair. Mirrors the reference's in-process pub/sub
  * test double (reference: pkg/kafka/pub_sub.go); on a real cluster
  * the consumer swaps for [[KafkaBridge.source]] with zero downstream
  * change.
  *
  * The plumbing is honest about scale even though this is a double:
  * offset assignment shuffles only the produced batch (one window
  * keyed by partition), the current high watermarks are one
  * metadata-scale aggregate over the queue's offset column, and
  * consumption is Spark's incremental file source — no driver-held
  * queue state.
  */
object KafkaStub {

  /** The spark-sql-kafka source's fixed output schema. */
  val WireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Producer: append `records` (part_id int, key string, msg_value
    * string, ts timestamp) to the queue, assigning each partition's
    * offsets contiguously after its current high watermark — one call
    * is one acked produce batch (reference: pkg/kafka/producer.go
    * semantics: per-partition append order). Records order by
    * (ts, key) within the batch, deterministically. produce() is a
    * read-modify-write of the high watermarks, so it holds the queue
    * directory's lock ([[Durable.lockFor]]): unsynchronized concurrent
    * producers would observe the same watermark and assign colliding
    * offsets.
    */
  def produce(spark: SparkSession, dir: String, topic: String,
      records: DataFrame): Unit = Durable.lockFor(dir).synchronized {
    val w = Window.partitionBy("part_id").orderBy("ts", "key")
    records
      .withColumn("seq", row_number().over(w).cast("long"))
      .join(broadcast(highWatermarks(spark, dir)), Seq("part_id"), "left")
      .select(
        col("key").cast("binary").as("key"),
        col("msg_value").cast("binary").as("value"),
        lit(topic).as("topic"),
        col("part_id").cast("int").as("partition"),
        (coalesce(col("high"), lit(-1L)) + col("seq")).as("offset"),
        col("ts").cast("timestamp").as("timestamp"),
        lit(0).as("timestampType"))
      .write.mode("append").parquet(dir)
  }

  /** Current per-partition high offset (empty for a fresh queue). */
  def highWatermarks(spark: SparkSession, dir: String): DataFrame =
    if (!new java.io.File(dir).exists())
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(Seq(StructField("part_id", IntegerType),
          StructField("high", LongType))))
    else
      spark.read.schema(WireSchema).parquet(dir)
        .groupBy(col("partition").as("part_id"))
        .agg(max("offset").as("high"))

  /** Consumer: a live stream over the queue in wire schema — pipe it
    * through [[KafkaBridge.toMessages]] exactly like the real source.
    */
  def consume(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(WireSchema).parquet(dir)
}
