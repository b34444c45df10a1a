package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Real Kafka transport: `format("kafka")` source/sink + AdminClient topic
  * lifecycle — the code path the reference's generated pipelines run on
  * (source DDL: internal/templates/files/sql/local/01_create_source_table.sql:5-15
  * — earliest offsets; sink: 02_create_output_table.sql:1-10; lifecycle:
  * internal/pipeline/kafka.go:24-72).
  *
  * This sandbox has no broker and no spark-sql-kafka/kafka-clients jars, so
  * nothing here can EXECUTE offline — but the full option/plan synthesis is
  * real and unit-tested: `readOptions`/`writeOptions` are pure and checked
  * against the generated-DDL semantics, and the AdminClient lifecycle is
  * invoked reflectively so this file compiles (and fails with a clear
  * message) without the jars. On a cluster with
  * `spark-sql-kafka-0-10` + `kafka-clients` on the classpath every method
  * works as-is; tests keep running on [[FileTopics]].
  *
  * Payload encoding is JSON in the record value, because Kafka values are
  * bytes ([[FileTopics]] stores the same payload as a typed Parquet
  * struct). The AVRO-Confluent wire format the reference uses is available
  * as composable expressions (graft.avro.ConfluentWire strip/add the
  * 5-byte frame) and slots between the Kafka `value` and
  * `from_json`/`from_avro` here.
  */
final case class KafkaTopics(bootstrapServers: String, checkpointRoot: String,
                             consumerGroup: Option[String] = None) extends Topics {

  def checkpointDir(name: String): String = s"$checkpointRoot/checkpoints/$name"

  /** Source options — `scan.startup.mode = 'earliest-offset'` of the
    * generated Flink DDL maps to `startingOffsets=earliest`; the consumer
    * group (reference consumer.go uses `pipegen-consumer-<pipeline>`) maps
    * to `kafka.group.id`. `failOnDataLoss=false` mirrors the reference
    * consumer's tolerance of deleted/compacted segments. */
  def readOptions(topic: String, startingOffsets: String = "earliest"): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets,
      "failOnDataLoss" -> "false") ++
      consumerGroup.map("kafka.group.id" -> _)

  def writeOptions(topic: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "topic" -> topic)

  /** Kafka source → engine envelope: binary key/value are cast to string,
    * the broker timestamp becomes `kafka_ts`, the JSON value is parsed with
    * the declared payload schema — column-for-column the FileTopics
    * contract. */
  private def decode(raw: DataFrame, payload: StructType): DataFrame =
    raw
      .select(col("key").cast("string").as("key"),
        col("timestamp").as("kafka_ts"),
        from_json(col("value").cast("string"), payload).as("v"))
      .select(col("key") +: col("kafka_ts") +: payload.fieldNames.map(f => col(s"v.$f")): _*)

  def readStream(spark: SparkSession, topic: String, payload: StructType): DataFrame =
    decode(
      spark.readStream.format("kafka").options(readOptions(topic)).load(),
      payload)

  def readAll(spark: SparkSession, topic: String, payload: StructType): DataFrame =
    spark.read.format("kafka")
      .options(readOptions(topic))
      .option("endingOffsets", "latest")
      .load()
      .select(from_json(col("value").cast("string"), payload).as("v"))
      .select(payload.fieldNames.map(f => col(s"v.$f")): _*)

  /** Engine rows → Kafka record: the key (like a Kafka record key)
    * duplicates its payload column, and the whole payload is JSON-encoded
    * into the value — the value stays complete so the round trip is
    * lossless. No timestamp column: the broker stamps its own, so a
    * `tsCol` given to `produce`/`insertInto` is not written. */
  private def envelopeOf(df: DataFrame, keyCol: Option[String]): DataFrame =
    df.select(
      keyCol.map(k => col(k).cast("string")).getOrElse(lit(null).cast("string")).as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  def produce(df: DataFrame, topic: String, keyCol: Option[String] = None,
              tsCol: Option[String] = None): Unit =
    envelopeOf(df, keyCol)
      .write.format("kafka").options(writeOptions(topic)).save()

  def insertInto(df: DataFrame, topic: String, queryName: String,
                 keyCol: Option[String] = None, tsCol: Option[String] = None,
                 trigger: Trigger = Trigger.ProcessingTime("1 second"),
                 outputMode: String = "append"): StreamingQuery =
    envelopeOf(df, keyCol)
      .writeStream
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir(queryName))
      .format("kafka")
      .options(writeOptions(topic))
      .start()

  // -- topic lifecycle (A19) via AdminClient, reflectively: kafka-clients
  //    is not a compile-time dependency of this repo, and `Class.forName`
  //    keeps the swap honest — the SAME binary runs file-backed offline and
  //    against a broker when the jars are present. The reflective wiring
  //    itself lives in [[KafkaAdminOps]] so it is unit-testable against a
  //    mock admin without a broker.

  def createTopic(topic: String, partitions: Int = 1, replication: Int = 1): Unit =
    withAdmin { admin =>
      KafkaAdminOps.createTopics(admin, java.util.Collections.singletonList(
        KafkaAdminOps.newTopic(topic, partitions, replication)))
    }

  def deleteTopic(topic: String): Unit =
    withAdmin(KafkaAdminOps.deleteTopic(_, topic))

  def topicExists(topic: String): Boolean =
    withAdmin(KafkaAdminOps.topicExists(_, topic))

  private def withAdmin[A](f: AnyRef => A): A = {
    val cls =
      try Class.forName("org.apache.kafka.clients.admin.AdminClient")
      catch {
        case _: ClassNotFoundException =>
          throw new IllegalStateException(
            "kafka-clients is not on the classpath: KafkaTopics topic lifecycle " +
              "requires the spark-sql-kafka connector jars. Offline/test runs " +
              "use FileTopics (the default transport).")
      }
    val props = new java.util.Properties()
    props.put("bootstrap.servers", bootstrapServers)
    val admin = cls.getMethod("create", classOf[java.util.Properties])
      .invoke(null, props)
    try f(admin)
    finally admin.getClass.getMethod("close").invoke(admin)
  }
}

/** The reflective AdminClient surface, factored out of [[KafkaTopics]] so
  * the method-name/signature wiring, KafkaFuture unwrapping and the
  * delete-absent-topic tolerance are all unit-testable against a MOCK
  * admin object (KafkaTopicsSpec) — the only part that still needs a real
  * broker is AdminClient.create itself, which stays in
  * `KafkaTopics.withAdmin`. Everything here resolves methods by name and
  * erased signature, exactly as they exist on
  * `org.apache.kafka.clients.admin.AdminClient`
  * (reference lifecycle analog: internal/pipeline/kafka.go:24-72). */
private[streaming] object KafkaAdminOps {

  /** Instantiate `NewTopic(topic, partitions, replication)` reflectively —
    * requires kafka-clients on the classpath (callers reach this only from
    * inside `withAdmin`, which has already verified that). */
  def newTopic(topic: String, partitions: Int, replication: Int): AnyRef =
    Class.forName("org.apache.kafka.clients.admin.NewTopic")
      .getConstructor(classOf[String], classOf[Int], classOf[Short])
      .newInstance(topic, Int.box(partitions), Short.box(replication.toShort))
      .asInstanceOf[AnyRef]

  def createTopics(admin: AnyRef, newTopics: java.util.Collection[_]): Unit = {
    val result = admin.getClass
      .getMethod("createTopics", classOf[java.util.Collection[_]])
      .invoke(admin, newTopics)
    await(result.getClass.getMethod("all").invoke(result))
  }

  def deleteTopic(admin: AnyRef, topic: String): Unit = {
    val result = admin.getClass
      .getMethod("deleteTopics", classOf[java.util.Collection[_]])
      .invoke(admin, java.util.Collections.singletonList(topic))
    try await(result.getClass.getMethod("all").invoke(result))
    catch {
      // reference kafka.go:60-64: deleting an absent topic is fine.
      // KafkaFuture.get throws ExecutionException(cause = UnknownTopic…)
      // and Method.invoke wraps THAT in InvocationTargetException, so
      // the marker sits anywhere on the cause chain — walk it.
      case e: java.lang.reflect.InvocationTargetException
        if Iterator.iterate(e.getCause)(_.getCause)
          .takeWhile(_ != null).take(5)
          .exists(_.getClass.getName.contains("UnknownTopicOrPartition")) => ()
    }
  }

  def topicExists(admin: AnyRef, topic: String): Boolean = {
    val result = admin.getClass.getMethod("listTopics").invoke(admin)
    val names = await(result.getClass.getMethod("names").invoke(result))
      .asInstanceOf[java.util.Set[String]]
    names.contains(topic)
  }

  /** Block on a KafkaFuture and return its value — MUST return AnyRef,
    * not Unit: topicExists casts the result, and a Unit-typed await would
    * hand it BoxedUnit (ClassCastException on every call). */
  def await(future: AnyRef): AnyRef =
    future.getClass.getMethod("get").invoke(future)
}
