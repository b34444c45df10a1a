package graft.runner

import java.nio.file.{Files, Path, Paths}

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.avro.{AvroSchemas, InMemorySchemaRegistry}
import graft.datagen.{RatedProducer, TrafficPatterns}
import graft.statements.{SqlStatement, Statements}
import graft.streaming.{BoundedRun, Topics}

/** Pipeline orchestrator — the `pipegen run` lifecycle re-expressed for
  * Spark (reference: internal/pipeline/runner.go:169-448):
  *
  *  1. load ordered SQL statements            (graft.statements)
  *  2. validate each (destructive-op gate)
  *  3. load + register AVRO schemas           (graft.avro)
  *  4. generate resources / topic names       (Resources)
  *  5. reset topics (delete/create dirs — the docker kafka-topics.sh
  *     analog is directory lifecycle on the file transport)
  *  6. deploy statements: topic-backed CREATE TABLE becomes a streaming
  *     view over the topic; plain DDL runs through spark.sql; INSERT INTO
  *     a topic-backed table becomes a streaming insert (the continuous
  *     INSERT-SELECT, 03_create_processing.sql analog) whose SELECT is
  *     cast to the target topic's payload schema ([[conformToPayload]])
  *  7. produce synthetic traffic              (RatedProducer, A14-A16)
  *  8. run to completion: bounded mode uses Trigger.AvailableNow;
  *     continuous mode stops on expected-count/no-progress (BoundedRun,
  *     the validating-consumer analog)
  *  9. validate output counts
  * 10. write the execution report             (Report, A30)
  * 11. cleanup: stop queries, drop temp views (deferred-cleanup analog)
  *
  * Where the reference crossed process/node boundaries (docker exec,
  * SQL-Gateway HTTP, Schema Registry HTTP), this runner stays in-process:
  * `spark.sql` for DDL, `writeStream.start` per INSERT, the in-memory
  * registry for schemas. The lifecycle, ordering and validation semantics
  * are preserved.
  */
object GraftRunner {

  final case class Config(
      projectDir: Path,
      runDir: Path,
      messageRate: Int = 100,
      durationMs: Long = 30000L, // reference --duration default 30s
      trafficPattern: String = "",
      continuous: Boolean = false,
      expectedOutputRows: Option[Long] = None,
      noProgressTimeoutMs: Long = 30000L,
      generateReport: Boolean = true,
      seed: Long = 42L,
      // true → checkpoint under the bare statement name (the dirs
      // Deploy.run provisions), so a re-run RESUMES the prior run's
      // offsets; false (default) → per-execution checkpoints, every run
      // reprocesses from earliest (test isolation)
      stableCheckpoints: Boolean = false)

  final case class RunResult(
      executionId: String,
      produced: Long,
      outputRows: Long,
      status: String,
      durationMs: Long,
      resources: Resources,
      queryStats: Seq[MetricsCollector#QueryStats],
      reportPath: Option[Path],
      // wall time of steps 7, 8 and 9 (produce, run to completion,
      // validate output); they sum to at most `durationMs`
      produceMs: Long,
      streamMs: Long,
      validateMs: Long)

  private val createTableName: Regex = """(?is)CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[`"]?(\w+)""".r
  private val insertTarget: Regex = """(?is)INSERT\s+INTO\s+[`"]?(\w+)[`"]?\s+(SELECT.*)""".r
  private val csvPathOption: Regex = """(?is)'path'\s*=\s*'([^']+)'""".r

  /** A27: CSV-mode sniff (reference cmd/run.go:118-127) — a filesystem/csv
    * source table means there is nothing to produce. */
  def isCsvMode(statements: Seq[SqlStatement]): Boolean =
    statements.headOption.exists(s => isCsvStatement(s.content))

  private def isCsvStatement(sql: String): Boolean = {
    val c = sql.toLowerCase
    c.contains("'connector'") && c.contains("'filesystem'") && c.contains("'csv'")
  }

  /** A26: traffic patterns must fit inside the producer duration
    * (reference cmd/run.go:380-397). */
  def validatePatternDuration(tp: TrafficPatterns, durationMs: Long): Unit =
    tp.patterns.foreach { p =>
      require(p.endMs <= durationMs,
        s"traffic pattern ending at ${p.endMs}ms exceeds producer duration ${durationMs}ms")
    }

  /** `body`'s result and its wall time in whole milliseconds. */
  private def timedMs[A](body: => A): (A, Long) = {
    val t = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t) / 1000000L)
  }

  /** `df` projected onto a topic's declared payload schema by exact field
    * name: a declared field `df` lacks becomes null, a column the schema
    * does not declare is dropped, and a column of another type is cast
    * when `Cast.canUpCast` allows it (nullability aside — topic reads are
    * nullable). Typed topics do not coerce on read, so a column that
    * cannot be up-cast throws here, naming the table, the field and both
    * types. */
  def conformToPayload(df: DataFrame, payload: StructType, table: String): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(payload.fields.toSeq.map { f =>
      val to = anyNull(f.dataType)
      have.get(f.name) match {
        case None => lit(null).cast(to).as(f.name)
        case Some(from) if Cast.canUpCast(anyNull(from), to) => col(f.name).cast(to).as(f.name)
        case Some(from) =>
          throw new IllegalArgumentException(
            s"INSERT INTO $table: field ${f.name} is ${from.catalogString}, which " +
              s"cannot be up-cast to the declared ${f.dataType.catalogString}")
      }
    }: _*)
  }

  /** `dt` with every nested element, value and field nullable. */
  private def anyNull(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(anyNull(e), containsNull = true)
    case MapType(k, v, _) => MapType(anyNull(k), anyNull(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = anyNull(f.dataType), nullable = true)))
    case other => other
  }

  def run(spark: SparkSession, cfg: Config): RunResult = {
    val t0 = System.nanoTime()
    val ts = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss"))
    val executionId = s"graft-$ts-${java.util.UUID.randomUUID().toString.take(8)}"

    // 1-2: statements + validation gate
    val statements = Statements.load(cfg.projectDir.resolve("sql"))
    statements.foreach { s =>
      Statements.validate(spark, s.content).foreach(err =>
        throw new IllegalArgumentException(s"statement ${s.name}: $err"))
    }

    // 3: schemas + registry
    val schemasDir = cfg.projectDir.resolve("schemas")
    val schemas: Map[String, AvroSchemas.AvroSchema] =
      if (Files.isDirectory(schemasDir)) AvroSchemas.loadDirectory(schemasDir) else Map.empty
    val registry = new InMemorySchemaRegistry

    // 4: resources
    val resources = Resources.generate(statements)

    // 5: topic lifecycle (delete + recreate) through the transport trait —
    // directory lifecycle on FileTopics, AdminClient create/delete when
    // spark.graft.transport=kafka selects the broker transport
    val topics = Topics.forSession(spark, cfg.runDir.toString)
    resources.topics.foreach { t =>
      if (topics.topicExists(t)) topics.deleteTopic(t)
      // Kafka deletes topics asynchronously after the AdminClient future
      // resolves — recreate immediately and the broker may answer
      // TopicExistsException or delete the new topic underneath. Poll
      // until the name is actually gone (no-op on FileTopics, whose
      // delete is synchronous).
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (topics.topicExists(t) && System.nanoTime() < deadline)
        Thread.sleep(50)
      topics.createTopic(t)
    }
    // 6 (reference step: register schemas under <topic>-value subjects) —
    // each schema goes to ITS topic only (Deploy's mapping, deployer.go:
    // 254-266): output under the output topic, everything else under the
    // input topic. Registering every schema under every subject let
    // latest(subject) answer with whichever the Map iterated last.
    schemas.foreach { case (name, sch) =>
      val topic = if (name == "output") resources.outputTopic else resources.inputTopic
      registry.register(s"$topic-value", sch.content)
    }

    val metrics = new MetricsCollector().register(spark)
    val vars = Map(
      "INPUT_TOPIC" -> resources.inputTopic,
      "OUTPUT_TOPIC" -> resources.outputTopic,
      "BOOTSTRAP_SERVERS" -> cfg.runDir.toString, // transport root plays the broker
      "SCHEMA_REGISTRY_URL" -> "in-memory")

    val inputSchema = schemas.get("input").map(_.structType)
      .getOrElse(throw new IllegalArgumentException("no input schema found in schemas/"))
    // per-topic payload schema, mirroring the registry mapping above: the
    // output topic carries the output schema — reading EVERY topic with
    // the input schema parsed output-only columns to null downstream
    def schemaForTopic(topic: String): StructType =
      if (topic == resources.outputTopic)
        schemas.get("output").map(_.structType).getOrElse(inputSchema)
      else inputSchema

    var insertQueries = List.empty[org.apache.spark.sql.streaming.StreamingQuery]
    var tempViews = List.empty[String]
    try {
      // 6: deploy statements in order. Topic-backed CREATE TABLE becomes a
      // streaming view; plain DDL executes; INSERTs are recorded and
      // started at the mode-appropriate moment below.
      val tableTopics = scala.collection.mutable.Map.empty[String, String]
      case class InsertSpec(name: String, target: String, select: String)
      var inserts = List.empty[InsertSpec]
      statements.foreach { st =>
        val sql = Statements.substitute(st.content, vars)
        Statements.classify(sql) match {
          case Statements.CreateTable =>
            val topicOpt = Statements.extractTopics(Seq(st.copy(content = sql))).headOption
            val name = createTableName.findFirstMatchIn(sql).map(_.group(1))
              .getOrElse(throw new IllegalArgumentException(s"cannot parse table name in ${st.name}"))
            topicOpt match {
              case Some(topic) =>
                tableTopics(name) = topic
                // a topic-backed table: streaming view over the transport
                topics.readStream(spark, topic, schemaForTopic(topic))
                  .createOrReplaceTempView(name)
                tempViews ::= name
              case None if isCsvStatement(sql) =>
                // filesystem/CSV source (A27, generator.go:154-248): the
                // Flink-style WITH-options DDL has no Spark parse — the
                // engine-native analog is a streaming CSV view over the
                // declared path (DROPMALFORMED ≡ csv.ignore-parse-errors)
                val path = csvPathOption.findFirstMatchIn(sql).map(_.group(1))
                  .getOrElse(throw new IllegalArgumentException(
                    s"CSV source table ${st.name} declares no 'path' option"))
                graft.sources.CsvSource.readStream(spark, path, inputSchema)
                  .createOrReplaceTempView(name)
                tempViews ::= name
              case None =>
                spark.sql(sql) // plain Spark DDL
            }
          case Statements.Insert =>
            val m = insertTarget.findFirstMatchIn(sql)
              .getOrElse(throw new IllegalArgumentException(s"cannot parse INSERT in ${st.name}"))
            val target = m.group(1)
            tableTopics.getOrElse(target,
              throw new IllegalArgumentException(s"INSERT target $target has no topic-backed table"))
            inserts ::= InsertSpec(st.name, target, m.group(2))
          case _ =>
            spark.sql(sql)
        }
      }
      // each INSERT's SELECT, cast to its target topic's payload schema —
      // built here, before anything is produced, so a SELECT whose types
      // do not fit its target fails the deploy instead of writing a topic
      val insertFrames = inserts.reverse.map { spec => // statement order
        val topic = tableTopics(spec.target)
        spec -> conformToPayload(spark.sql(spec.select), schemaForTopic(topic), spec.target)
      }

      def startInsert(insert: (InsertSpec, DataFrame), trigger: Trigger) = {
        val (spec, df) = insert
        topics.insertInto(df, tableTopics(spec.target),
          if (cfg.stableCheckpoints) spec.name else s"$executionId-${spec.name}",
          trigger = trigger)
      }

      // continuous mode: standing queries first, like the reference's
      // deploy-then-produce ordering
      if (cfg.continuous)
        insertQueries = insertFrames.map(startInsert(_, Trigger.ProcessingTime("500 milliseconds")))

      // 7: produce (skipped in CSV mode, reference cmd/run.go:118-127)
      val (produced, produceMs) = timedMs {
        if (isCsvMode(statements)) 0L
        else {
          val tp = TrafficPatterns.parse(cfg.trafficPattern, cfg.messageRate)
          validatePatternDuration(tp, cfg.durationMs)
          val inputAvro = schemas("input")
          RatedProducer.run(spark, topics, resources.inputTopic, inputAvro, tp,
            cfg.durationMs, seed = cfg.seed)
        }
      }

      // 8: run to completion
      val (_, streamMs) = timedMs {
        if (cfg.continuous) {
          val expected = cfg.expectedOutputRows.getOrElse(produced)
          insertQueries.foreach(q =>
            BoundedRun.awaitExpectedCount(spark, q, expected, cfg.noProgressTimeoutMs))
        } else {
          // bounded: everything is on disk now — one AvailableNow pass per
          // stage, run SEQUENTIALLY in statement order. AvailableNow fixes
          // the set of available input at query start, so a downstream
          // INSERT reading an intermediate topic must not start until the
          // upstream INSERT has finished writing it (starting all stages
          // concurrently made stage B snapshot an empty intermediate topic
          // and terminate with zero rows).
          insertFrames.foreach { insert =>
            val q = startInsert(insert, Trigger.AvailableNow())
            insertQueries ::= q
            q.awaitTermination()
          }
        }
      }

      // 9: validate output — the topic was recreated in step 5, so an
      // empty one reads as 0 rows; a failed read leaves `run`
      val (outputRows, validateMs) = timedMs {
        topics.readAll(spark, resources.outputTopic,
          schemaForTopic(resources.outputTopic)).count()
      }

      val status =
        if (cfg.expectedOutputRows.forall(outputRows >= _)) "SUCCESS" else "INCOMPLETE"
      val durationMs = (System.nanoTime() - t0) / 1000000L

      // 10: report
      val reportPath =
        if (cfg.generateReport)
          Some(Report.write(cfg.projectDir.resolve("reports"), executionId, status,
            durationMs, cfg, resources, schemas.keys.toSeq, produced, outputRows,
            metrics.snapshot,
            Seq("produce" -> produceMs, "stream" -> streamMs, "validate" -> validateMs)))
        else None

      RunResult(executionId, produced, outputRows, status, durationMs, resources,
        metrics.snapshot, reportPath, produceMs, streamMs, validateMs)
    } finally {
      // 11: deferred cleanup (reference runner.go:295-304)
      insertQueries.foreach(q => if (q.isActive) q.stop())
      tempViews.foreach(v => spark.catalog.dropTempView(v))
      metrics.unregister(spark)
    }
  }

}
