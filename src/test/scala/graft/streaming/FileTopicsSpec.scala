package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.SparkSpec
import graft.avro.AvroSchemas

/** End-to-end pipeline over the file-backed topic transport — the analog
  * of the reference's `pipegen run`: produce to an input topic, stand up a
  * continuous INSERT-SELECT, read the output topic back and validate
  * counts (reference: internal/pipeline/runner.go:169-448). */
class FileTopicsSpec extends SparkSpec {

  private def freshTopics(): FileTopics =
    FileTopics(Files.createTempDirectory("graft-topics").toString)

  private val payload = StructType.fromDDL(
    "event_id STRING, user_id INT, amount DOUBLE")

  test("produce -> topic -> readAll round-trips the payload") {
    val sp = spark
    import sp.implicits._
    val t = freshTopics()
    val in = Seq(("e1", 1, 10.0), ("e2", 2, 20.5), ("e3", 1, 0.25))
      .toDF("event_id", "user_id", "amount")
    t.produce(in, "input-events", keyCol = Some("event_id"))
    val back = t.readAll(sp, "input-events", payload)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    assert(back == Set(("e1", 1, 10.0), ("e2", 2, 20.5), ("e3", 1, 0.25)))
  }

  test("continuous INSERT-SELECT: input topic -> transform -> output topic (AvailableNow)") {
    val sp = spark
    import sp.implicits._
    val t = freshTopics()
    val in = (1 to 100).map(i => (s"e$i", i % 10, i.toDouble))
      .toDF("event_id", "user_id", "amount")
    t.produce(in, "input-events", keyCol = Some("event_id"))

    // the processing statement: SELECT user_id, amount * 2 AS doubled
    val stream = t.readStream(sp, "input-events", payload)
      .select(col("user_id"), (col("amount") * 2).as("doubled"))
    val q = t.insertInto(stream, "output-results", "proc1",
      trigger = Trigger.AvailableNow())
    BoundedRun.runAvailableNow(q)

    val outSchema = StructType.fromDDL("user_id INT, doubled DOUBLE")
    val out = t.readAll(sp, "output-results", outSchema)
    assert(out.count() == 100)
    val sums = out.agg(sum(col("doubled"))).head().getDouble(0)
    assert(sums == (1 to 100).map(_ * 2.0).sum)
  }

  test("validating-consumer analog: expected count reached on the output topic") {
    val sp = spark
    import sp.implicits._
    val t = freshTopics()
    val in = (1 to 50).map(i => (s"e$i", i, i.toDouble)).toDF("event_id", "user_id", "amount")
    t.produce(in, "in2", keyCol = Some("event_id"))
    val q = t.insertInto(t.readStream(sp, "in2", payload), "out2", "proc2",
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      val (outcome, n) = BoundedRun.awaitExpectedCount(sp, q, expected = 50,
        noProgressTimeoutMs = 30000)
      assert(outcome == BoundedRun.ReachedExpected)
      assert(n >= 50)
    } finally if (q.isActive) q.stop()
    assert(t.readAll(sp, "out2", payload).count() == 50)
  }

  /** Every Spark type `AvroSchemas` maps a field to, plus a decimal. */
  private val allTypes: StructType = AvroSchemas.parse(
    """{"type":"record","name":"AllTypes","namespace":"t","fields":[
      |  {"name":"id","type":"int"},
      |  {"name":"s","type":"string"},
      |  {"name":"l","type":"long"},
      |  {"name":"f","type":"float"},
      |  {"name":"d","type":"double"},
      |  {"name":"b","type":"boolean"},
      |  {"name":"bin","type":"bytes"},
      |  {"name":"day","type":{"type":"int","logicalType":"date"}},
      |  {"name":"at","type":{"type":"long","logicalType":"timestamp-micros"}},
      |  {"name":"tod","type":{"type":"int","logicalType":"time-millis"}},
      |  {"name":"color","type":{"type":"enum","name":"Color","symbols":["RED","GREEN"]}},
      |  {"name":"tags","type":{"type":"array","items":"string"}},
      |  {"name":"attrs","type":{"type":"map","values":"double"}},
      |  {"name":"geo","type":{"type":"record","name":"Geo","fields":[
      |    {"name":"lat","type":"double"},{"name":"city","type":["null","string"]}]}},
      |  {"name":"opt_s","type":["null","string"]},
      |  {"name":"opt_l","type":["null","long"]},
      |  {"name":"opt_tags","type":["null",{"type":"array","items":"long"}]}
      |]}""".stripMargin).structType
    .add("amount", DecimalType(12, 3), nullable = true)

  private def allTypesRow(i: Int, nulls: Boolean): Row = Row(
    i, s"s$i", 1L << 40 | i, i + 0.5f, i * 1.25, i % 2 == 0,
    Array[Byte](i.toByte, -1, 0),
    java.sql.Date.valueOf(s"2026-01-${i + 1}"),
    java.sql.Timestamp.valueOf(s"2026-01-02 03:04:05.12345$i"),
    3600000L + i, if (i % 2 == 0) "RED" else "GREEN",
    Seq(s"t$i", ""), Map("x" -> i.toDouble, "y" -> -0.5),
    Row(45.5 + i, if (nulls) null else s"c$i"),
    if (nulls) null else s"o$i",
    if (nulls) null else java.lang.Long.valueOf(-i.toLong),
    if (nulls) null else Seq(1L, 2L, i.toLong),
    if (nulls) null else new java.math.BigDecimal(s"$i.125"))

  /** A collected value with byte arrays and rows made comparable. */
  private def plain(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(plain)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k -> plain(x) }.toMap
    case xs: scala.collection.Seq[_] => xs.map(plain)
    case other => other
  }

  test("every AvroSchemas type round-trips produce -> AvailableNow insertInto -> readAll") {
    val sp = spark
    val t = freshTopics()
    val rows = (0 until 6).map(i => allTypesRow(i, nulls = i % 3 == 0))
    val in = sp.createDataFrame(rows.asJava, allTypes)
    t.produce(in, "typed-in", keyCol = Some("id"))
    val q = t.insertInto(
      t.readStream(sp, "typed-in", allTypes).select(allTypes.fieldNames.map(col).toSeq: _*),
      "typed-out", "typed_copy", trigger = Trigger.AvailableNow())
    BoundedRun.runAvailableNow(q)

    val back = t.readAll(sp, "typed-out", allTypes)
    assert(back.schema.map(f => f.name -> f.dataType.catalogString) ==
      allTypes.map(f => f.name -> f.dataType.catalogString))
    assert(back.collect().sortBy(_.getInt(0)).map(plain).toSeq == rows.map(plain))
  }

  test("a topic written by produce and insertInto holds only Parquet part files") {
    val sp = spark
    import sp.implicits._
    val t = freshTopics()
    val in = (1 to 20).map(i => (s"e$i", i, i.toDouble)).toDF("event_id", "user_id", "amount")
    t.produce(in, "pq-in", keyCol = Some("event_id"))
    BoundedRun.runAvailableNow(t.insertInto(t.readStream(sp, "pq-in", payload)
      .select(col("event_id"), col("user_id"), col("amount")),
      "pq-out", "pq_copy", trigger = Trigger.AvailableNow()))
    for (topic <- Seq("pq-in", "pq-out")) {
      val listing = Files.list(Paths.get(t.topicDir(topic)))
      // Spark's readers skip names starting with '_' or '.' (the sink's
      // _spark_metadata log, _SUCCESS, Hadoop's .crc checksums)
      val data = try listing.iterator().asScala.map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq
        finally listing.close()
      assert(data.nonEmpty, topic)
      assert(data.forall(n => n.startsWith("part-") && n.endsWith(".parquet")), s"$topic: $data")
    }
    assert(Files.isDirectory(Paths.get(t.topicDir("pq-out"), "_spark_metadata")))
    assert(t.readAll(sp, "pq-out", payload).count() == 20)
  }

  test("a query restarted on its checkpoint over a Parquet topic emits no duplicates") {
    val sp = spark
    import sp.implicits._
    val t = freshTopics()
    def events(ids: Range) = ids.map(i => (s"e$i", i, i.toDouble)).toDF("event_id", "user_id", "amount")
    def run(): Unit = BoundedRun.runAvailableNow(t.insertInto(
      t.readStream(sp, "rs-in", payload).select(col("event_id"), col("user_id"), col("amount")),
      "rs-out", "rs_copy", trigger = Trigger.AvailableNow()))

    t.produce(events(1 to 50), "rs-in", keyCol = Some("event_id"))
    run()
    assert(t.readAll(sp, "rs-out", payload).count() == 50)
    // new records land while the query is DOWN; the restart on the same
    // checkpoint must write only those
    t.produce(events(51 to 80), "rs-in", keyCol = Some("event_id"))
    run()
    val ids = t.readAll(sp, "rs-out", payload).select("user_id").as[Int].collect().sorted.toSeq
    assert(ids == (1 to 80), "exactly-once: no duplicates, no loss")
  }

  test("a topic holding JSON-lines records from an earlier version is refused by name") {
    val sp = spark
    import sp.implicits._
    val t = freshTopics()
    // the earlier layout: one JSON object per line, payload in a string
    Seq(("e1", """{"event_id":"e1","user_id":1,"amount":1.0}"""))
      .toDF("key", "value").write.json(t.topicDir("old-topic"))
    for (read <- Seq[() => Any](
        () => t.readAll(sp, "old-topic", payload),
        () => t.readStream(sp, "old-topic", payload))) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("old-topic") && e.getMessage.contains("graft clean"),
        e.getMessage)
    }
  }
}
