package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

/** Kafka-shaped, file-backed topic transport.
  *
  * The reference's pipelines are `Kafka topic → SQL job → Kafka topic`
  * (reference: internal/templates/files/sql/local/01_create_source_table.sql:5-15,
  * 02_create_output_table.sql:1-10). This sandbox has no Kafka broker or
  * connector jars, so a "topic" here is a directory of JSON-lines files
  * carrying the same envelope a Kafka record would: (key string,
  * value string, ts timestamp). The transport API mirrors what the Kafka
  * DataSource would give us — `readStream`/`writeStream` with a payload
  * schema applied to `value` — so swapping in `format("kafka")` on a real
  * cluster changes only this file.
  *
  * Scale note: JSON-lines is the debug-friendly choice at test scale; the
  * envelope columns and checkpointing behave identically under
  * `format("parquet")`, and a real deployment uses Kafka partitions where
  * this uses files. Each `produce` and each micro-batch appends one file
  * per task; a flat-out producer run is a single `produce`, so a backfill
  * topic holds one write's files however long its virtual duration.
  */
final case class FileTopics(root: String) extends Topics {

  def topicDir(topic: String): String = s"$root/topics/$topic"
  def checkpointDir(name: String): String = s"$root/checkpoints/$name"

  // -- topic lifecycle (A19): the directory analog of kafka-topics.sh
  //    --create/--delete (reference internal/pipeline/kafka.go:24-72)
  def createTopic(topic: String, partitions: Int = 1, replication: Int = 1): Unit = {
    val _ = (partitions, replication) // no-op on files: partitions are files
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(topicDir(topic)))
  }

  def deleteTopic(topic: String): Unit =
    deleteRecursively(java.nio.file.Paths.get(topicDir(topic)))

  def topicExists(topic: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(topicDir(topic)))

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(p)) {
      // Files.list opens a DirectoryStream that must be CLOSED, not just
      // drained — each leak holds a directory fd until GC
      val s = java.nio.file.Files.list(p)
      val children = try s.iterator().asScala.toSeq finally s.close()
      children.foreach(deleteRecursively)
    }
    java.nio.file.Files.deleteIfExists(p)
  }

  /** Produce a batch of rows to a topic: payload columns are JSON-encoded
    * into `value` (analog of the reference producer's AVRO/JSON encode,
    * internal/pipeline/producer.go:406-447). `keyCol` feeds the record key. */
  def produce(df: DataFrame, topic: String, keyCol: Option[String] = None,
              tsCol: Option[String] = None): Unit =
    envelopeOf(df, keyCol, tsCol)
      .write.mode("append").json(topicDir(topic))

  /** Unbounded read of a topic with a declared payload schema — the analog
    * of the generated Kafka source DDL (earliest offsets ≡ reading the
    * directory from the start). */
  def readStream(spark: SparkSession, topic: String, payload: StructType): DataFrame =
    spark.readStream
      .schema(envelope)
      .json(topicDir(topic))
      .select(col("key"), col("ts").as("kafka_ts"),
        from_json(col("value"), payload).as("v"))
      .select(col("key") +: col("kafka_ts") +: payload.fieldNames.map(f => col(s"v.$f")): _*)

  /** Batch read of everything currently in a topic (validating-consumer
    * analog for assertions; reference internal/pipeline/consumer.go:212-260). */
  def readAll(spark: SparkSession, topic: String, payload: StructType): DataFrame =
    spark.read
      .schema(envelope)
      .json(topicDir(topic))
      .select(from_json(col("value"), payload).as("v"))
      .select(payload.fieldNames.map(f => col(s"v.$f")): _*)

  /** Continuous INSERT-SELECT analog: stand up a streaming write of `df`
    * into a topic (reference:
    * internal/templates/files/sql/local/03_create_processing.sql:1-4).
    * Caller picks trigger/output mode; default append + 1s micro-batches. */
  def insertInto(df: DataFrame, topic: String, queryName: String,
                 keyCol: Option[String] = None, tsCol: Option[String] = None,
                 trigger: Trigger = Trigger.ProcessingTime("1 second"),
                 outputMode: String = "append"): StreamingQuery =
    envelopeOf(df, keyCol, tsCol)
      .writeStream
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir(queryName))
      .format("json")
      .start(topicDir(topic))
}
