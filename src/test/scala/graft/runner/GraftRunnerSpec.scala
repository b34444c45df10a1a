package graft.runner

import java.nio.file.Files

import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.SparkSpec
import graft.datagen.TrafficPatterns
import graft.statements.SqlStatement
import graft.streaming.FileTopics

/** End-to-end orchestrator run over a scaffolded project — the `pipegen
  * run` lifecycle (reference runner.go:169-448) against the file-backed
  * transport. */
class GraftRunnerSpec extends SparkSpec {

  private def scaffold(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-project")
    Files.createDirectories(dir.resolve("sql"))
    Files.createDirectories(dir.resolve("schemas"))
    Files.writeString(dir.resolve("schemas/input.avsc"),
      """{"type":"record","name":"InputEvent","namespace":"graft.generated","fields":[
        |  {"name":"event_id","type":"string"},
        |  {"name":"event_type","type":"string"},
        |  {"name":"score","type":"double"}
        |]}""".stripMargin)
    Files.writeString(dir.resolve("schemas/output_result.avsc"),
      """{"type":"record","name":"OutputResult","namespace":"graft.generated","fields":[
        |  {"name":"event_id","type":"string"},
        |  {"name":"boosted","type":"double"}
        |]}""".stripMargin)
    // the reference's 3-statement local template shape
    // (01_create_source_table / 02_create_output_table / 03_create_processing)
    Files.writeString(dir.resolve("sql/01_create_source_table.sql"),
      """-- source over the input topic
        |CREATE TABLE input_events (
        |  event_id STRING, event_type STRING, score DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = '${INPUT_TOPIC}')""".stripMargin)
    Files.writeString(dir.resolve("sql/02_create_output_table.sql"),
      """CREATE TABLE output_results (
        |  event_id STRING, boosted DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = '${OUTPUT_TOPIC}')""".stripMargin)
    Files.writeString(dir.resolve("sql/03_create_processing.sql"),
      "INSERT INTO output_results SELECT event_id, score * 2 AS boosted FROM input_events")
    dir
  }

  test("bounded run: produce -> INSERT-SELECT -> output validated, report written") {
    val project = scaffold()
    val cfg = GraftRunner.Config(
      projectDir = project,
      runDir = Files.createTempDirectory("graft-run"),
      messageRate = 40,
      durationMs = 2000) // 40/s * 2s = 80 rows
    val res = GraftRunner.run(spark, cfg)
    assert(res.produced == 80)
    assert(res.outputRows == 80)
    assert(res.status == "SUCCESS")
    assert(res.resources.inputTopic == "input-events")
    assert(res.resources.outputTopic == "output-results")
    assert(res.queryStats.exists(_.totalInputRows == 80))
    val report = res.reportPath.get
    val html = Files.readString(report)
    assert(html.contains(res.executionId) && html.contains("SUCCESS") && html.contains("80"))
    val phases = Seq(res.produceMs, res.streamMs, res.validateMs)
    assert(phases.forall(_ >= 0))
    assert(phases.sum <= res.durationMs, s"phases $phases exceed the run's ${res.durationMs} ms")
    assert(html.contains("<h2>Timings</h2>"))
    assert(Seq("produce", "stream", "validate").forall(p =>
      html.contains(s"<tr><th>$p</th><td>")))
  }

  test("bounded multi-stage pipeline: chained INSERTs run sequentially, not concurrently") {
    // stage 2 reads the topic stage 1 writes — AvailableNow snapshots its
    // input at query start, so concurrent starts made stage 2 see an
    // empty intermediate topic and finish with zero rows
    val dir = Files.createTempDirectory("graft-multistage")
    Files.createDirectories(dir.resolve("sql"))
    Files.createDirectories(dir.resolve("schemas"))
    Files.writeString(dir.resolve("schemas/input.avsc"),
      """{"type":"record","name":"InputEvent","namespace":"g","fields":[
        |  {"name":"event_id","type":"string"},
        |  {"name":"event_type","type":"string"},
        |  {"name":"score","type":"double"}
        |]}""".stripMargin)
    Files.writeString(dir.resolve("sql/01_source.sql"),
      """CREATE TABLE input_events (
        |  event_id STRING, event_type STRING, score DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = 'ms-in')""".stripMargin)
    Files.writeString(dir.resolve("sql/02_mid.sql"),
      """CREATE TABLE mid_events (
        |  event_id STRING, event_type STRING, score DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = 'ms-mid')""".stripMargin)
    Files.writeString(dir.resolve("sql/03_out.sql"),
      """CREATE TABLE output_results (
        |  event_id STRING, event_type STRING, score DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = 'ms-out')""".stripMargin)
    Files.writeString(dir.resolve("sql/04_stage1.sql"),
      "INSERT INTO mid_events SELECT event_id, event_type, score FROM input_events")
    Files.writeString(dir.resolve("sql/05_stage2.sql"),
      "INSERT INTO output_results SELECT event_id, event_type, score FROM mid_events")
    val res = GraftRunner.run(spark, GraftRunner.Config(
      projectDir = dir,
      runDir = Files.createTempDirectory("graft-ms-run"),
      messageRate = 30, durationMs = 1000)) // 30 rows
    assert(res.produced == 30)
    assert(res.outputRows == 30,
      s"stage 2 must see stage 1's output, got ${res.outputRows}")
    assert(res.status == "SUCCESS")
  }

  test("CSV-mode project runs end-to-end: filesystem source view, no producer") {
    val dir = Files.createTempDirectory("graft-csvmode")
    Files.createDirectories(dir.resolve("sql"))
    Files.createDirectories(dir.resolve("schemas"))
    Files.createDirectories(dir.resolve("data"))
    Files.writeString(dir.resolve("data/events.csv"),
      """event_id,event_type,score
        |e1,click,1.5
        |e2,view,2.0
        |e3,click,0.5
        |e4,buy,9.0
        |""".stripMargin)
    Files.writeString(dir.resolve("schemas/input.avsc"),
      """{"type":"record","name":"InputEvent","namespace":"g","fields":[
        |  {"name":"event_id","type":"string"},
        |  {"name":"event_type","type":"string"},
        |  {"name":"score","type":"double"}
        |]}""".stripMargin)
    // the Scaffold.initFromCsv statement shape (Ddl.csvSourceTable)
    Files.writeString(dir.resolve("sql/01_create_source_table.sql"),
      s"""CREATE TABLE input_events (
         |  event_id STRING, event_type STRING, score DOUBLE
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${dir.resolve("data")}',
         |  'format' = 'csv',
         |  'csv.ignore-parse-errors' = 'true'
         |)""".stripMargin)
    Files.writeString(dir.resolve("sql/02_create_output_table.sql"),
      """CREATE TABLE output_results (
        |  event_id STRING, boosted DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = 'csv-out')""".stripMargin)
    Files.writeString(dir.resolve("sql/03_create_processing.sql"),
      "INSERT INTO output_results SELECT event_id, score * 2 AS boosted FROM input_events")
    val res = GraftRunner.run(spark, GraftRunner.Config(
      projectDir = dir,
      runDir = Files.createTempDirectory("graft-csv-run"),
      durationMs = 500))
    assert(res.produced == 0, "CSV mode must not produce synthetic traffic")
    assert(res.outputRows == 4, s"all CSV rows must flow through, got ${res.outputRows}")
    assert(res.status == "SUCCESS")
  }

  test("continuous run: standing query stops at expected count") {
    val project = scaffold()
    val cfg = GraftRunner.Config(
      projectDir = project,
      runDir = Files.createTempDirectory("graft-run"),
      messageRate = 30,
      durationMs = 1000,
      continuous = true,
      generateReport = false)
    val res = GraftRunner.run(spark, cfg)
    assert(res.produced == 30)
    assert(res.outputRows >= 30)
    assert(res.status == "SUCCESS")
  }

  /** `scaffold()` with its output schema fields and its INSERT replaced. */
  private def scaffoldInsert(outputFields: String, insert: String): java.nio.file.Path = {
    val dir = scaffold()
    Files.writeString(dir.resolve("schemas/output_result.avsc"),
      s"""{"type":"record","name":"OutputResult","namespace":"graft.generated",
         |"fields":[$outputFields]}""".stripMargin)
    Files.writeString(dir.resolve("sql/03_create_processing.sql"), insert)
    dir
  }

  /** The payload struct as the output topic's Parquet files store it. */
  private def storedPayload(runDir: java.nio.file.Path) =
    spark.read.parquet(FileTopics(runDir.toString).topicDir("output-results")).select("value.*")

  test("INSERT into a typed topic: a missing declared field is written null, an extra column dropped") {
    val project = scaffoldInsert(
      """{"name":"event_id","type":"string"},{"name":"boosted","type":"double"},
        |{"name":"note","type":["null","string"]}""".stripMargin,
      "INSERT INTO output_results SELECT event_id, score * 2 AS boosted, event_type AS extra " +
        "FROM input_events")
    val runDir = Files.createTempDirectory("graft-run")
    val res = GraftRunner.run(spark, GraftRunner.Config(project, runDir,
      messageRate = 20, durationMs = 1000, generateReport = false))
    assert(res.outputRows == 20 && res.status == "SUCCESS")
    val stored = storedPayload(runDir)
    assert(stored.columns.toSeq == Seq("event_id", "boosted", "note"))
    assert(stored.filter("note IS NOT NULL OR boosted IS NULL").count() == 0)
  }

  test("INSERT into a typed topic up-casts a narrower column to the declared type") {
    val project = scaffoldInsert(
      """{"name":"event_id","type":"string"},{"name":"n","type":"long"},
        |{"name":"boosted","type":"double"}""".stripMargin,
      "INSERT INTO output_results SELECT event_id, CAST(7 AS INT) AS n, " +
        "CAST(score AS FLOAT) AS boosted FROM input_events")
    val runDir = Files.createTempDirectory("graft-run")
    val res = GraftRunner.run(spark, GraftRunner.Config(project, runDir,
      messageRate = 20, durationMs = 1000, generateReport = false))
    assert(res.outputRows == 20 && res.status == "SUCCESS")
    val stored = storedPayload(runDir)
    assert(stored.schema("n").dataType == LongType && stored.schema("boosted").dataType == DoubleType)
    assert(stored.filter("n = 7 AND boosted IS NOT NULL").count() == 20)
  }

  test("INSERT of a column that cannot be up-cast to its topic's type fails the deploy, naming it") {
    val project = scaffoldInsert(
      """{"name":"event_id","type":"string"},{"name":"boosted","type":"int"}""",
      "INSERT INTO output_results SELECT event_id, score * 2 AS boosted FROM input_events")
    val runDir = Files.createTempDirectory("graft-run")
    val e = intercept[IllegalArgumentException](GraftRunner.run(spark,
      GraftRunner.Config(project, runDir, messageRate = 20, durationMs = 1000,
        generateReport = false)))
    Seq("output_results", "boosted", "double", "int").foreach(w =>
      assert(e.getMessage.contains(w), e.getMessage))
    // thrown before the producer ran: no topic holds a record
    val topics = FileTopics(runDir.toString)
    Seq("input-events", "output-results").foreach { t =>
      val listing = Files.list(java.nio.file.Paths.get(topics.topicDir(t)))
      try assert(listing.count() == 0, t) finally listing.close()
    }
  }

  test("a failed read of the output topic fails the run, naming the topic, after cleanup") {
    // the project's own DDL writes JSON files into the output topic's
    // directory after step 5 recreated it; the validating read refuses them
    val project = scaffold()
    Files.writeString(project.resolve("sql/04_plant_json.sql"),
      "CREATE TABLE planted_json USING json " +
        "LOCATION '${BOOTSTRAP_SERVERS}/topics/${OUTPUT_TOPIC}' AS SELECT 1 AS a")
    val cfg = GraftRunner.Config(project, Files.createTempDirectory("graft-run"),
      messageRate = 20, durationMs = 1000, generateReport = false)
    try {
      val e = intercept[IllegalStateException](GraftRunner.run(spark, cfg))
      assert(e.getMessage.contains("output-results"), e.getMessage)
      assert(spark.streams.active.isEmpty)
      assert(!spark.catalog.tableExists("output_results"))
    } finally spark.sql("DROP TABLE IF EXISTS planted_json")
  }

  test("destructive statement aborts the run before deployment") {
    val project = scaffold()
    Files.writeString(project.resolve("sql/00_evil.sql"), "DELETE FROM input_events")
    val cfg = GraftRunner.Config(project, Files.createTempDirectory("graft-run"),
      generateReport = false)
    val e = intercept[IllegalArgumentException](GraftRunner.run(spark, cfg))
    assert(e.getMessage.contains("DELETE FROM"))
  }

  test("traffic patterns exceeding duration are rejected (A26)") {
    val tp = TrafficPatterns.parse("5s-10s:200%", 100)
    val e = intercept[IllegalArgumentException](
      GraftRunner.validatePatternDuration(tp, 8000))
    assert(e.getMessage.contains("exceeds producer duration"))
  }

  test("CSV-mode sniff (A27)") {
    val csvStmt = SqlStatement("01",
      "CREATE TABLE src (id INT) WITH ('connector' = 'filesystem', 'format' = 'csv', 'path' = '/data')", "", 1)
    assert(GraftRunner.isCsvMode(Seq(csvStmt)))
    assert(!GraftRunner.isCsvMode(Seq(SqlStatement("01",
      "CREATE TABLE src (id INT) WITH ('connector' = 'kafka', 'topic' = 't')", "", 1))))
  }

  test("resource naming follows the reference scheme") {
    val withTopics = Resources.generate(Seq(
      SqlStatement("01", "CREATE TABLE a (x INT) WITH ('topic' = 'in-t')", "", 1),
      SqlStatement("02", "CREATE TABLE b (x INT) WITH ('topic' = 'out-t')", "", 2)))
    assert(withTopics.inputTopic == "in-t" && withTopics.outputTopic == "out-t")
    val defaults = Resources.generate(Seq(SqlStatement("01", "SELECT 1", "", 1)))
    assert(defaults.topics == Seq("input-events", "output-results", "processed-events"))
    val cloud = Resources.generate(Seq.empty, localMode = false)
    assert(cloud.prefix.matches("graft-\\d{8}-\\d{6}-[0-9a-f]{8}"))
    assert(cloud.inputTopic == s"${cloud.prefix}-input")
  }

  test("error suggester maps failure patterns to remediations (A31)") {
    assert(ErrorSuggester.suggest("java.net.ConnectException: Connection refused").isDefined)
    assert(ErrorSuggester.suggest("checkpoint location mismatch").get.contains("heckpoint"))
    assert(ErrorSuggester.suggest("totally novel failure").isEmpty)
  }
}
