package graft.runner

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.streaming.FileTopics

/** Fallback progress monitors for when first-class query metrics are
  * unavailable or distrusted (reference:
  * internal/pipeline/alternative_monitor.go:43-194 — consumer-group lag,
  * output-topic byte growth with records ≈ size/100, jobs-running check).
  *
  * On the file transport the analogs are directory-level observations:
  * byte growth of the output topic, an estimated record count from bytes
  * (the reference's size/100 heuristic, kept verbatim), and lag as
  * produced-vs-consumed row counts. The size/100 figure was calibrated
  * for JSON/Kafka record bytes; file topics are compressed Parquet, so it
  * now under-counts them by roughly 4–9× (the `graft init` project at
  * 200 000 events: 26 bytes per input record, 11 per output record). Largely obsolete when the
  * [[MetricsCollector]] listener feed is available — these exist for the
  * same reason the reference kept them: a second opinion that does not
  * depend on the engine's own reporting.
  */
object AlternativeMonitor {

  final case class TopicGrowth(files: Int, bytes: Long, estimatedRecords: Long)

  /** Directory-level size observation; estimatedRecords = bytes/100
    * (reference alternative_monitor.go byte-growth heuristic). */
  def outputTopicGrowth(topics: FileTopics, topic: String): TopicGrowth = {
    val dir = Paths.get(topics.topicDir(topic))
    if (!Files.isDirectory(dir)) return TopicGrowth(0, 0L, 0L)
    // Files.walk must be closed — this runs inside polling loops, and a
    // leaked handle per poll accumulates until GC
    val walk = Files.walk(dir)
    val files =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_") &&
          !p.toString.contains("_spark_metadata"))
        .toSeq
      finally walk.close()
    val bytes = files.map(Files.size).sum
    TopicGrowth(files.size, bytes, bytes / 100)
  }

  /** Exact lag: rows produced to the input topic minus rows present in
    * the output topic (the consumer-group-lag analog; lag == 0 means the
    * pipeline has caught up — reference lag check). Row-preserving
    * pipelines only, like the reference's 1:1 validation flow. */
  def lag(spark: SparkSession, topics: FileTopics,
          inputTopic: String, outputTopic: String, payload: StructType): Long = {
    def rows(topic: String): Long =
      try topics.readAll(spark, topic, payload).count()
      catch { case _: Exception => 0L }
    math.max(0L, rows(inputTopic) - rows(outputTopic))
  }

  /** Poll until lag reaches zero or attempts run out (reference 15×3 s
    * loop; parameters overridable for tests). Returns true if caught up. */
  def waitForCaughtUp(spark: SparkSession, topics: FileTopics,
                      inputTopic: String, outputTopic: String, payload: StructType,
                      attempts: Int = 15, intervalMs: Long = 3000L): Boolean = {
    var i = 0
    while (i < attempts) {
      if (lag(spark, topics, inputTopic, outputTopic, payload) == 0L) return true
      Thread.sleep(intervalMs)
      i += 1
    }
    false
  }
}

/** Stack cleanup — the `pipegen clean` / deploy-teardown analog
  * (reference: cmd/deploy.go, flink.go:540-631 job cancellation + topic
  * deletion). In-process engine: stop active queries, then remove the
  * run's topics and checkpoints. */
object Clean {
  def stopQueries(spark: SparkSession): Int = {
    val active = spark.streams.active
    active.foreach(q => if (q.isActive) q.stop())
    active.length
  }

  def removeRunDir(runDir: Path): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p) // must be closed, not just drained
        val children = try s.iterator().asScala.toSeq finally s.close()
        children.foreach(rm)
      }
      Files.deleteIfExists(p)
    }
    if (Files.exists(runDir)) rm(runDir)
  }
}
