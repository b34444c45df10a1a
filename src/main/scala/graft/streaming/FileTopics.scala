package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}

/** Kafka-shaped, file-backed topic transport.
  *
  * The reference's pipelines are `Kafka topic → SQL job → Kafka topic`
  * (reference: internal/templates/files/sql/local/01_create_source_table.sql:5-15,
  * 02_create_output_table.sql:1-10), and its tables declare
  * `'format'='avro-confluent'`: every record carries a typed binary
  * payload. This sandbox has no Kafka broker or connector jars, so a
  * "topic" here is a directory of Parquet files, one row per record:
  * `(key STRING, value STRUCT<payload>, ts TIMESTAMP)`. The payload struct
  * is written as it is and read back with the declared payload schema —
  * no text codec on either side. The transport API mirrors what the Kafka
  * DataSource would give us — `readStream`/`writeStream` with a payload
  * schema applied to `value` — so swapping in `format("kafka")` on a real
  * cluster changes only the transport (see [[KafkaTopics]]).
  *
  * Exactly-once and replay come from the file sink's `_spark_metadata`
  * log and the query checkpoint, neither of which depends on the record
  * encoding. Parquet matches payload fields by name: a declared field a
  * file lacks reads as null, an undeclared one is skipped, and a numeric
  * type may only widen on read — which is why the runner casts each
  * INSERT's output to its target's declared schema before writing.
  *
  * Scale note: a real deployment uses Kafka partitions where this uses
  * files. Each `produce` and each micro-batch appends one file per task; a
  * flat-out producer run is a single `produce`, so a backfill topic holds
  * one write's files however long its virtual duration. To look at a
  * topic: `spark.read.parquet(topicDir(t)).select("key", "value.*", "ts")`.
  */
final case class FileTopics(root: String) extends Topics {

  def topicDir(topic: String): String = s"$root/topics/$topic"
  def checkpointDir(name: String): String = s"$root/checkpoints/$name"

  // -- topic lifecycle (A19): the directory analog of kafka-topics.sh
  //    --create/--delete (reference internal/pipeline/kafka.go:24-72)
  def createTopic(topic: String, partitions: Int = 1, replication: Int = 1): Unit = {
    val _ = (partitions, replication) // no-op on files: partitions are files
    Files.createDirectories(Paths.get(topicDir(topic)))
  }

  def deleteTopic(topic: String): Unit =
    deleteRecursively(Paths.get(topicDir(topic)))

  def topicExists(topic: String): Boolean =
    Files.isDirectory(Paths.get(topicDir(topic)))

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      // Files.list opens a DirectoryStream that must be CLOSED, not just
      // drained — each leak holds a directory fd until GC
      val s = Files.list(p)
      val children = try s.iterator().asScala.toSeq finally s.close()
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }

  /** Produce a batch of rows to a topic: the payload columns become the
    * record's `value` struct as they are (analog of the reference
    * producer's AVRO encode, internal/pipeline/producer.go:406-447).
    * `keyCol` feeds the record key. */
  def produce(df: DataFrame, topic: String, keyCol: Option[String] = None,
              tsCol: Option[String] = None): Unit =
    recordOf(df, keyCol, tsCol)
      .write.mode("append").parquet(topicDir(topic))

  /** Unbounded read of a topic with a declared payload schema — the analog
    * of the generated Kafka source DDL (earliest offsets ≡ reading the
    * directory from the start). */
  def readStream(spark: SparkSession, topic: String, payload: StructType): DataFrame =
    spark.readStream
      .schema(recordSchema(payload))
      .parquet(parquetTopicDir(topic))
      .select(col("key") +: col("ts").as("kafka_ts") +: payloadFields(payload): _*)

  /** Batch read of everything currently in a topic (validating-consumer
    * analog for assertions; reference internal/pipeline/consumer.go:212-260). */
  def readAll(spark: SparkSession, topic: String, payload: StructType): DataFrame =
    spark.read
      .schema(recordSchema(payload))
      .parquet(parquetTopicDir(topic))
      .select(payloadFields(payload): _*)

  /** Continuous INSERT-SELECT analog: stand up a streaming write of `df`
    * into a topic (reference:
    * internal/templates/files/sql/local/03_create_processing.sql:1-4).
    * Caller picks trigger/output mode; default append + 1s micro-batches. */
  def insertInto(df: DataFrame, topic: String, queryName: String,
                 keyCol: Option[String] = None, tsCol: Option[String] = None,
                 trigger: Trigger = Trigger.ProcessingTime("1 second"),
                 outputMode: String = "append"): StreamingQuery =
    recordOf(df, keyCol, tsCol)
      .writeStream
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir(queryName))
      .format("parquet")
      .start(topicDir(topic))

  /** One record per row: the key (like a Kafka record key) duplicates its
    * payload column — the value stays complete so the round trip is
    * lossless. */
  private def recordOf(df: DataFrame, keyCol: Option[String],
                       tsCol: Option[String]): DataFrame =
    df.select(
      keyCol.map(k => col(k).cast("string")).getOrElse(lit(null).cast("string")).as("key"),
      struct(df.columns.map(col): _*).as("value"),
      tsCol.map(col).getOrElse(current_timestamp()).cast("timestamp").as("ts"))

  private def recordSchema(payload: StructType): StructType =
    new StructType()
      .add("key", StringType)
      .add("value", payload)
      .add("ts", TimestampType)

  private def payloadFields(payload: StructType): Seq[Column] =
    payload.fieldNames.toSeq.map(f => col("value").getField(f).as(f))

  /** The topic's directory, refused when it holds JSON-lines part files:
    * topics written before records were Parquet rows (a run directory
    * that `Deploy` with stable checkpoints would resume) would otherwise
    * fail deep in the reader on the first Parquet footer. */
  private def parquetTopicDir(topic: String): String = {
    val dir = Paths.get(topicDir(topic))
    if (Files.isDirectory(dir)) {
      val s = Files.list(dir) // must be closed, not just drained
      val jsonLines =
        try s.iterator().asScala.exists(_.getFileName.toString.endsWith(".json"))
        finally s.close()
      if (jsonLines)
        throw new IllegalStateException(
          s"topic $topic ($dir) holds JSON-lines records written by an earlier " +
            "graft version, which stored topics as JSON; run `graft clean` on " +
            "the run directory and produce the topic again")
    }
    topicDir(topic)
  }
}
