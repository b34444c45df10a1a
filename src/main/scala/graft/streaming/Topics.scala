package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Topic transport abstraction — the seam between the engine and the
  * reference's `Kafka topic → SQL job → Kafka topic` pipeline shape
  * (reference: internal/templates/files/sql/local/01_create_source_table.sql:5-15,
  * 02_create_output_table.sql:1-10).
  *
  * Two implementations ship:
  *  - [[FileTopics]] — file-backed, Kafka-shaped; what every test in this
  *    offline sandbox runs on.
  *  - [[KafkaTopics]] — the real `format("kafka")` source/sink plus
  *    AdminClient topic lifecycle; compiles without broker jars (the
  *    lifecycle goes through reflection) and activates on a cluster that
  *    has the spark-sql-kafka connector on the classpath.
  *
  * Every method contract is identical across the two: `readStream`
  * returns `(key STRING, kafka_ts TIMESTAMP, <payload fields>)`, `readAll`
  * returns `<payload fields>`, `insertInto` stands up the continuous
  * INSERT-SELECT (03_create_processing.sql analog). `produce` and
  * `insertInto` store the payload in the record value, each transport in
  * its own encoding: [[FileTopics]] writes it as a typed Parquet struct,
  * [[KafkaTopics]] JSON-encodes it into the value bytes.
  */
trait Topics {

  def checkpointDir(name: String): String

  // -- topic lifecycle (A19; reference internal/pipeline/kafka.go:24-72)
  def createTopic(topic: String, partitions: Int = 1, replication: Int = 1): Unit
  def deleteTopic(topic: String): Unit
  def topicExists(topic: String): Boolean

  /** Produce a batch of rows to a topic: the payload columns become the
    * record value (analog of the reference producer's AVRO/JSON encode,
    * internal/pipeline/producer.go:406-447). `keyCol` feeds the record key. */
  def produce(df: DataFrame, topic: String, keyCol: Option[String] = None,
              tsCol: Option[String] = None): Unit

  /** Unbounded read of a topic with a declared payload schema — the analog
    * of the generated Kafka source DDL (earliest offsets). */
  def readStream(spark: SparkSession, topic: String, payload: StructType): DataFrame

  /** Batch read of everything currently in a topic (validating-consumer
    * analog; reference internal/pipeline/consumer.go:212-260). */
  def readAll(spark: SparkSession, topic: String, payload: StructType): DataFrame

  /** Continuous INSERT-SELECT analog: a streaming write of `df` into a
    * topic. Caller picks trigger/output mode. */
  def insertInto(df: DataFrame, topic: String, queryName: String,
                 keyCol: Option[String] = None, tsCol: Option[String] = None,
                 trigger: Trigger = Trigger.ProcessingTime("1 second"),
                 outputMode: String = "append"): StreamingQuery
}

object Topics {

  /** Config-flag transport swap (VERDICT.md round-2 #4): the default is the
    * file transport rooted at `root`; setting `spark.graft.transport=kafka`
    * (plus `spark.graft.kafka.bootstrap`) selects the real broker — the
    * one-line cluster migration the FileTopics scaladoc promises. `root`
    * still hosts streaming checkpoints in Kafka mode. */
  def forSession(spark: SparkSession, root: String): Topics =
    spark.conf.getOption("spark.graft.transport") match {
      case Some("kafka") =>
        KafkaTopics(
          bootstrapServers = spark.conf.get("spark.graft.kafka.bootstrap"),
          checkpointRoot = root,
          consumerGroup = spark.conf.getOption("spark.graft.kafka.group"))
      case _ => FileTopics(root)
    }
}
