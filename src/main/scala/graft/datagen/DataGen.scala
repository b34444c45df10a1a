package graft.datagen

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.avro.AvroSchemas
import graft.streaming.Topics

/** Schema-driven synthetic data generator (reference:
  * internal/pipeline/producer.go:303-402) as distributed Column
  * expressions over `spark.range` — no driver-side row loop, so the same
  * generator that makes 100 test rows makes 10^11 rows on a cluster.
  *
  * Name-pool heuristics match the reference's `generateStringValue`
  * (id/email/event_type/url/status/category/country pools). One
  * deliberate divergence, documented: the reference draws from
  * `math/rand` (non-reproducible); we derive every value from
  * xxhash64(seed, field name, row id), so any row range regenerates
  * bit-identically on any executor — required for resumable produce and
  * for asserting expected counts downstream.
  */
object DataGen {

  private val eventPool = Seq("click", "view", "purchase", "signup", "login")
  private val pagePool = Seq("/home", "/product", "/checkout", "/profile", "/search")
  private val statusPool = Seq("active", "pending", "completed", "failed")
  private val categoryPool = Seq("electronics", "clothing", "books", "food", "sports")
  private val countryPool = Seq("US", "CA", "GB", "DE", "FR")

  /** n rows for an AVRO record schema, ids in [startId, startId+n). */
  def rows(spark: SparkSession, schema: AvroSchemas.AvroSchema, n: Long,
           startId: Long = 0L, seed: Long = 42L): DataFrame = {
    require(schema.schemaType == "record", "data generation needs a record schema")
    val base = spark.range(startId, startId + n).toDF("__id")
    val cols = schema.fields.map(f => fieldValue(f.name, f.typeNode, col("__id"), seed).as(f.name))
    base.select(cols: _*)
  }

  /** Deterministic uniform in [0, bound) derived from (seed, tag, id). */
  private def h(tag: String, id: Column, seed: Long, bound: Long): Column =
    pmod(xxhash64(lit(seed), lit(tag), id), lit(bound))

  private def pick(pool: Seq[String], tag: String, id: Column, seed: Long): Column =
    element_at(typedLit(pool), (h(tag, id, seed, pool.size) + 1).cast("int"))

  /** Per-field generator over the AVRO type term (reference
    * generateValueForField, producer.go:303-372). */
  private def fieldValue(name: String, t: JsonNode, id: Column, seed: Long): Column = t match {
    case null => concat(lit(s"$name-"), id)
    case n if n.isTextual => primitiveValue(name, n.asText(), id, seed)
    case n if n.isArray => // union: first non-null branch (producer.go:330-341)
      val it = n.elements()
      var out: Column = lit(null)
      var found = false
      while (it.hasNext && !found) {
        val b = it.next()
        if (!(b.isTextual && b.asText() == "null")) {
          out = fieldValue(name, b, id, seed); found = true
        }
      }
      out
    case n if n.isObject =>
      Option(n.get("logicalType")).filter(_.isTextual).map(_.asText()) match {
        case Some("date") =>
          date_add(lit("2026-01-01").cast("date"), h(name, id, seed, 365).cast("int"))
        case Some("timestamp-millis") | Some("timestamp-micros") =>
          timestamp_millis(lit(1767225600000L) + h(name, id, seed, 86400000L))
        case Some("time-millis") | Some("time-micros") => h(name, id, seed, 86400000L)
        case _ =>
          Option(n.get("type")).filter(_.isTextual).map(_.asText()) match {
            case Some("map") => // producer.go:345-350
              map(lit("key1"), lit("value1"), lit("key2"), concat(lit("value-"), id))
            case Some("array") => // producer.go:351-353
              array(lit("item1"), concat(lit("item-"), id))
            case Some("enum") =>
              val symbols = Option(n.get("symbols"))
                .map(s => s.elements())
                .map(it => Iterator.continually(it).takeWhile(_.hasNext).map(_.next().asText()).toSeq)
                .getOrElse(Seq.empty)
              if (symbols.isEmpty) lit("UNKNOWN") else pick(symbols, name, id, seed)
            case Some("record") => // proper nested record (reference degrades to a stub map)
              val fields = Option(n.get("fields")).map(_.elements())
                .map(it => Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq)
                .getOrElse(Seq.empty)
              struct(fields.map { f =>
                val fn = f.get("name").asText()
                fieldValue(fn, f.get("type"), id, seed).as(fn)
              }: _*)
            case Some(prim) => primitiveValue(name, prim, id, seed)
            case None => concat(lit("complex-value-"), id)
          }
      }
    case _ => concat(lit("default-value-"), id)
  }

  private def primitiveValue(name: String, typ: String, id: Column, seed: Long): Column = typ match {
    case "string"  => stringValue(name, id, seed)
    case "int"     => h(name, id, seed, 10000).cast("int")
    case "long"    => lit(1767225600000L) + id // reference: now-millis; here deterministic base + id
    case "float"   => (h(name, id, seed, 1000000L).cast("double") / 1000.0).cast("float")
    case "double"  => h(name, id, seed, 1000000L).cast("double") / 1000.0
    case "boolean" => h(name, id, seed, 2) === 1
    case "bytes"   => encode(concat(lit("data-"), id), "UTF-8")
    case _         => concat(lit("value-"), id)
  }

  /** Field-name pools (reference generateStringValue, producer.go:376-402). */
  private def stringValue(name: String, id: Column, seed: Long): Column = name match {
    case "id" | "event_id" | "user_id" | "session_id" => concat(lit(s"$name-"), id)
    case "name" | "username" | "user_name" => concat(lit("user-"), h(name, id, seed, 1000))
    case "email" => concat(lit("user"), h(name, id, seed, 1000), lit("@example.com"))
    case "event_type" | "type" => pick(eventPool, name, id, seed)
    case "url" | "page_url" => pick(pagePool, name, id, seed)
    case "status" => pick(statusPool, name, id, seed)
    case "category" => pick(categoryPool, name, id, seed)
    case "country" | "region" => pick(countryPool, name, id, seed)
    case other => concat(lit(s"$other-"), id)
  }
}

/** Rate-controlled producer: drives [[DataGen]] through a traffic-pattern
  * governor into a topic (reference: producer.go:85-235 ticker loop +
  * traffic_pattern.go piecewise rates). Instead of a wall-clock ticker,
  * each window's row budget is the exact integral of the rate over it
  * ([[TrafficPatterns.rowsBetween]]) — deterministic totals, no drift at
  * high rates (documented divergence, SURVEY.md §7.4 risk 5).
  *
  * A flat-out run (tests, backfills) is one bounded input: it writes the
  * whole integral over `[0, durationMs)` with one `topics.produce`, i.e.
  * one Spark job, the way an `AvailableNow` query drains a backfill in one
  * pass. Ticks exist only to pace a `realTime` run; budgets telescope, so
  * both write the same rows with the same contiguous ids. */
object RatedProducer {

  /** Produce synthetic rows for `durationMs` of virtual time. Returns the
    * total row count (= floor of the rate integral). `realTime=false`
    * writes it in one window; `realTime=true` writes one `tickMs` window
    * at a time and paces them on the wall clock like the reference. */
  def run(spark: SparkSession, topics: Topics, topic: String,
          schema: AvroSchemas.AvroSchema, patterns: TrafficPatterns,
          durationMs: Long, tickMs: Long = 1000L, seed: Long = 42L,
          realTime: Boolean = false): Long = {
    val step = if (realTime) tickMs else durationMs
    var produced = 0L
    var t = 0L
    while (t < durationMs) {
      val t1 = math.min(t + step, durationMs)
      val budget = patterns.rowsBetween(t, t1)
      if (budget > 0) {
        topics.produce(DataGen.rows(spark, schema, budget, startId = produced, seed = seed), topic)
        produced += budget
      }
      if (realTime) Thread.sleep(t1 - t)
      t = t1
    }
    produced
  }
}
