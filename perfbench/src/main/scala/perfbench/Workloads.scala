package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{PipelineHarness, SparkEntry, Storage, Tables}
import graft.avro.AvroSchemas
import graft.catalog.Layout
import graft.operators.{Curation, Dedup, Sampling, Similarity}
import graft.runner.GraftRunner
import graft.statements.Statements

/** One operation's outcome: what was checked, and the digest of its
  * output where the harness compares it against a recorded value. */
final case class Check(name: String, error: Option[String], digest: String = "",
                       seconds: Double = 0)

/** One closed-loop operation: its timed seconds and the checks made on
  * its output (each check is one attempted unit of work). */
final case class OpResult(seconds: Double, checks: Seq[Check])

/** Shared context of a run. */
final case class Ctx(spark: SparkSession, trace: Trace, dataDir: String,
                     workDir: Path, seed: Long, cores: Int, corrupt: Boolean)

/** A benchmark workload: fixtures built by `setup`, then `op` repeated in
  * a closed loop. `op(traced = true)` wraps its engine calls in spans and
  * returns per-layer metrics for that operation. */
trait Workload {
  /** Build the fixtures and indexes the operations read; repeatable. */
  def setup(): Unit
  /** Warm the JIT and the engine's caches before the timed loop. */
  def warmup(): Unit = op(traced = false)
  def op(traced: Boolean): (OpResult, Map[String, Double])
  /** Extra fields for the result file. */
  def extra: Seq[(String, Any)] = Nil
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "stream_backfill" => new StreamBackfill(ctx)
    case "sql_mix" => new SqlMix(ctx)
    case "curate_chain" => new CurateChain(ctx)
    case "dedup_batch" => new DedupBatch(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-insensitive digest of a frame: row count and the decimal sum of
    * per-row 64-bit hashes. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def attempt(name: String)(body: => Option[String]): Check =
    try Check(name, body)
    catch { case e: Exception => Check(name, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }

  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graftglue.Glue.releaseLocalCheckpoint(df)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }

  /** Engine metrics of one traced operation's root span. */
  def engineMetrics(t: Trace, root: Span, cores: Int): Map[String, Double] = {
    val c = t.counts(root)
    Map("engine.jobs" -> c.jobs, "engine.stages" -> c.stages,
      "engine.tasks" -> c.tasks.toDouble, "engine.task_cpu_s" -> c.taskCpuS,
      "engine.gc_s" -> c.gcS, "engine.shuffle_write_mb" -> c.shuffleWriteMb,
      "engine.shuffle_read_mb" -> c.shuffleReadMb, "engine.spill_mb" -> c.spillMb,
      "engine.result_mb" -> c.resultMb,
      "engine.idle_core_s" -> (root.wallS * cores - c.taskRunS))
  }

  /** The root span of the last traced operation. */
  def lastRoot(t: Trace): Span = t.spans.filter(s => s.name == "op" && s.parent < 0).last
}

import Workload._

/** `graft init`'s project run through `GraftRunner.run` in bounded mode:
  * a flat-out producer writes rate x duration events, one AvailableNow
  * INSERT-SELECT runs over the file topics, and the runner counts the
  * output. */
final class StreamBackfill(ctx: Ctx) extends Workload {
  import ctx._
  val rate = 20000
  val durationMs = 10000L
  val events: Long = rate * durationMs / 1000
  private val project = workDir.resolve("stream-project")
  private var expected = ""
  private var n = 0

  def setup(): Unit = {
    deleteTree(project)
    graft.generator.Scaffold.init(project, "perfbench")
    // the same SELECT the project's INSERT runs, in batch over the
    // generator's rows for this seed
    val insert = Statements.load(project.resolve("sql")).map(_.content)
      .find(_.toUpperCase.contains("INSERT INTO")).get
    val select = "(?is)INSERT\\s+INTO\\s+\\w+\\s+(SELECT.*)".r
      .findFirstMatchIn(insert).get.group(1)
    val input = AvroSchemas.loadDirectory(project.resolve("schemas"))("input")
    graft.datagen.DataGen.rows(spark, input, events, seed = seed)
      .createOrReplaceTempView("input_events")
    expected = digest(spark.sql(select))
    spark.catalog.dropTempView("input_events")
  }

  def op(traced: Boolean): (OpResult, Map[String, Double]) = {
    n += 1
    val runDir = workDir.resolve(s"stream-run-$n")
    val cfg = GraftRunner.Config(project, runDir, messageRate = rate,
      durationMs = durationMs, seed = seed)
    val layers = mutable.Map.empty[String, Double]
    if (traced) {
      val (_, s) = timed(trace.span("statements.load_validate") {
        Statements.load(project.resolve("sql")).foreach(st =>
          Statements.validate(spark, st.content))
      })
      layers("statements.load_validate_s") = s
    }
    val (res, seconds) = timed(trace.span("op") {
      trace.span("runner.run")(GraftRunner.run(spark, cfg))
    })
    val check = attempt("stream_backfill") {
      val out = graft.streaming.Topics.forSession(spark, runDir.toString)
        .readAll(spark, res.resources.outputTopic,
          AvroSchemas.loadDirectory(project.resolve("schemas"))("output").structType)
      val got = if (corrupt) digest(out.limit(1)) else digest(out)
      if (res.produced != events) Some(s"produced ${res.produced} != $events")
      else if (res.outputRows != events) Some(s"output ${res.outputRows} != $events")
      else if (got != expected) Some(s"output digest $got != batch digest $expected")
      else None
    }
    if (traced) {
      trace.drain()
      val root = lastRoot(trace)
      val run = trace.children(root).head
      layers ++= engineMetrics(trace, root, cores)
      // the runner produces, then runs the streaming query, then validates:
      // its jobs before the first micro-batch job are the producer's, those
      // after the last the validation's (job ids are in submission order)
      val jobs = trace.jobsOf(run).sortBy(_.id)
      val batchJobs = jobs.filter(_.query.nonEmpty)
      val produce = jobs.filter(j => batchJobs.headOption.forall(j.id < _.id))
      val validate = jobs.filter(j => batchJobs.lastOption.exists(j.id > _.id))
      def span(js: Seq[JobRec]): Double =
        if (js.isEmpty) 0.0 else (js.map(_.endMs).max - js.map(_.startMs).min) / 1e3
      layers("datagen.produce_jobs") = produce.size
      layers("datagen.produce_s") = span(produce)
      layers("runner.validate_s") = span(validate)
      layers("runner.report_s") =
        (run.endMs - (if (validate.isEmpty) run.endMs else validate.map(_.endMs).max)) / 1e3
      val queries = batchJobs.flatMap(_.query).toSet
      val ps = trace.progress.asScala.filter(p => queries(p.id.toString))
      def d(keys: String*): Double =
        ps.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / 1e3
      layers("streaming.batches") = ps.size
      layers("streaming.source_s") = d("latestOffset", "getBatch")
      layers("streaming.planning_s") = d("queryPlanning")
      layers("streaming.add_batch_s") = d("addBatch")
      layers("streaming.commit_s") = d("walCommit", "commitOffsets")
      val topics = runDir.resolve("topics")
      val mevents = events / 1e6
      layers("streaming.input_topic_mb_per_mevent") =
        treeBytes(topics.resolve(res.resources.inputTopic)) / 1048576.0 / mevents
      layers("streaming.output_topic_mb_per_mevent") =
        treeBytes(topics.resolve(res.resources.outputTopic)) / 1048576.0 / mevents
    }
    deleteTree(runDir)
    (OpResult(seconds, Seq(check)), layers.toMap)
  }
}

/** A fixed mix of DuckDB-oracle-gated queries over the sf tables; one pass
  * runs every query once, in an order drawn from the seed. */
final class SqlMix(ctx: Ctx) extends Workload {
  import ctx._
  /** One query per operator class the packs cover. */
  val mix: Seq[String] = Seq(
    "q03_tpch_q1_agg",     // filter + hash aggregate
    "q09_anti_join",       // join (anti)
    "q13_window_rank",     // ranking window
    "q20_tumble_window",   // event-time tumbling window
    "q36_from_json",       // JSON parsing
    "q27_cube",            // cube
    "q43_pivot")           // pivot
  private val fns = SparkEntry.queries
  private val refDigest = mutable.Map.empty[String, String]
  private val rng = new scala.util.Random(seed)
  private val outDir = workDir.resolve("sql-results")

  private def rowsDigest(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** The sf tables are read in place; there is nothing to build. */
  def setup(): Unit = ()

  /** Run every query once and keep its result: the in-run reference digest
    * and a parquet copy the harness compares with the DuckDB oracle. */
  override def warmup(): Unit = mix.foreach { q =>
    val df = fns(q)(spark, dataDir)
    val rows = df.collect()
    refDigest(q) = rowsDigest(rows)
    spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(outDir.resolve(q).toString)
  }

  def op(traced: Boolean): (OpResult, Map[String, Double]) = {
    val order = rng.shuffle(mix)
    var total = 0.0
    val lat = mutable.ArrayBuffer.empty[Double]
    var planS, execS = 0.0
    var exchanges, broadcasts, codegen = 0
    val checks = order.map { q =>
      var rows: Array[org.apache.spark.sql.Row] = null
      var df: DataFrame = null
      var qs = 0.0
      val check = attempt(q) {
        val (_, s) = timed(trace.span("op") {
          df = trace.span(s"queries.plan:$q") {
            val d = fns(q)(spark, dataDir)
            d.queryExecution.executedPlan
            d
          }
          rows = trace.span(s"queries.exec:$q")(df.collect())
        })
        qs = s
        total += s
        lat += s
        val got = rowsDigest(if (corrupt) rows.drop(1) else rows)
        if (got != refDigest(q)) Some(s"result digest $got != ${refDigest(q)}") else None
      }.copy(seconds = qs)
      if (traced && df != null) {
        val root = lastRoot(trace)
        val Seq(plan, exec) = trace.children(root)
        planS += plan.wallS
        execS += exec.wallS
        val nodes = Plans.nodes(df.queryExecution.executedPlan)
        exchanges += nodes.count(Plans.isShuffle)
        broadcasts += nodes.count(Plans.isBroadcast)
        codegen += nodes.count(Plans.isCodegen)
      }
      check
    }
    val layers = mutable.Map.empty[String, Double]
    if (traced) {
      trace.drain()
      // engine counts of the whole pass: sum over the pass's query roots
      val roots = trace.spans.filter(s => s.name == "op" && s.parent < 0).takeRight(order.size)
      val per = roots.map(r => engineMetrics(trace, r, cores))
      per.head.keys.foreach(k => layers(k) = per.map(_(k)).sum)
      layers("queries.plan_s") = planS
      layers("queries.exec_s") = execS
      val sorted = lat.sorted
      layers("queries.p50_s") = Stats.quantile(sorted.toSeq, 0.5)
      layers("queries.p90_s") = Stats.quantile(sorted.toSeq, 0.9)
      layers("plans.exchanges") = exchanges
      layers("plans.broadcast_exchanges") = broadcasts
      layers("plans.codegen_stages") = codegen
    }
    (OpResult(total, checks), layers.toMap)
  }

  override def extra: Seq[(String, Any)] = Seq(
    "oracle" -> mix.map(q => Map("name" -> q, "parquet" -> outDir.resolve(q).toString,
      "sql" -> SparkEntry.oracleSql(q))))
}

/** Physical-plan node counts, looking through adaptive query stages and
  * subqueries. */
object Plans {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedSubqueryExec => Seq(r)
    case _ => p +: (p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }
  def isShuffle(p: SparkPlan): Boolean = p.isInstanceOf[ShuffleExchangeLike]
  def isBroadcast(p: SparkPlan): Boolean = p.isInstanceOf[BroadcastExchangeLike]
  def isCodegen(p: SparkPlan): Boolean = p.isInstanceOf[WholeStageCodegenExec]
}

object Stats {
  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)
}

/** The replicated synthetic corpus shared by the two corpus workloads. */
object Corpus {
  val Replicas = 2
  /** A fifth of each replica (within-replica id % 5 = 0): the harness's
    * seeding residues (the history index's every 20th document, the eval
    * set's every 50th) all survive, and an operation stays within a few
    * seconds at local[3]. */
  def apply(ctx: Ctx): DataFrame = PipelineHarness.corpus(ctx.spark, ctx.dataDir, Replicas)
    .filter(col("doc_id") % 5 === 0)

  /** An error when `out`'s ids are not all in `in`. */
  def subsetError(out: DataFrame, in: DataFrame, what: String): Option[String] = {
    val stray = out.select(col("doc_id")).join(in.select(col("doc_id")), Seq("doc_id"), "left_anti").count()
    if (stray > 0) Some(s"$stray $what ids not in the input") else None
  }
}

/** `Curation.pipeline` (materialised) through `PipelineHarness.run`
  * against a standing MinHash index built during set-up. */
final class CurateChain(ctx: Ctx) extends Workload {
  import ctx._
  private val table = "perfbench_curate_idx"
  private lazy val corpus = Corpus(ctx)
  private lazy val corpusRows = corpus.count()

  def setup(): Unit = {
    Layout.dropMinhashIndex(spark, table)
    PipelineHarness.ensureIndex(spark, corpus, table)
  }

  /** None: the first pipeline run in the JVM is what a batch job pays,
    * and a warm-up run (10 s and more) would not fit the benchmark's time
    * budget. */
  override def warmup(): Unit = ()

  def op(traced: Boolean): (OpResult, Map[String, Double]) = {
    val (out, seconds) = timed(trace.span("op") {
      PipelineHarness.run(spark, corpus, table, materialize = true)
    })
    val layers = mutable.Map.empty[String, Double]
    if (traced) {
      trace.drain()
      val root = lastRoot(trace)
      layers ++= engineMetrics(trace, root, cores)
      layers("storage.persisted_mb") = trace.peakPersistedMb(root)
    }
    val d = if (corrupt) digest(out.limit(1)) else digest(out)
    val check = attempt("curate_chain")(Corpus.subsetError(out, corpus, "output"))
      .copy(digest = d)
    release(out)
    if (traced) layers ++= stages()
    (OpResult(seconds, Seq(check)), layers.toMap)
  }

  /** The chain's public stage functions timed one by one, each on the
    * previous stage's materialised output, in the pipeline's order. */
  private def stages(): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    val cols = corpus.columns.map(col).toIndexedSeq
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String, in: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
      val (out, s) = timed(trace.span(s"curate.$name") {
        Storage.materializeOnce(f(in))
      })
      held += out
      m(s"curate.${name}_s") = s
      m(s"curate.${name}_rows_in") = in.count().toDouble
      m(s"curate.${name}_rows_out") = out.count().toDouble
      out
    }
    trace.span("curate.stages") {
      val gated = stage("gate", corpus)(PipelineHarness.c4OnlyFilter)
      val lines = stage("lines", gated) { q =>
        val clean = Curation.removeBoilerplateLines(q, "doc_id", "text", 50)
        q.drop("text").join(clean.filter(col("n_kept") >= 1)
          .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
          .select(cols: _*)
      }
      val indexed = stage("index_dedup", lines)(Dedup.curateBatchAgainstIndex(_,
        spark, table, "doc_id", "text", 2, 32, 8, 8, 0.3, appendSurvivors = false))
      val intra = stage("intra_dedup", indexed) { d =>
        val pairs = Dedup.minHashNearDups(d, "doc_id", "text", 2, 32, 8, 0.3)
        d.join(pairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      }
      val decon = stage("decontam", intra) { d =>
        val eval = PipelineHarness.evalShingles(corpus).select(col("s")).distinct()
        val hit = d.select(col("doc_id"), explode(graft.functions.wordShingles(
            graft.functions.tokens(col("text")), 3)).as("s"))
          .join(broadcast(eval), "s").select(col("doc_id")).distinct()
        d.join(hit, Seq("doc_id"), "left_anti")
      }
      val mixed = stage("mix", decon)(Sampling.temperatureMix(_, "doc_id", "lang", 0.5, 1000L))
      stage("shard", mixed)(Sampling.shardShuffle(_, "doc_id", "ep0"))
      m("curate.keep_ratio") = m("curate.decontam_rows_out") / corpusRows
    }
    held.foreach(release)
    m.toMap
  }
}

/** Batch dedup of the replicated corpus (MinHash pairs, connected
  * components, one kept document per group), then IVF near-duplicate
  * pairs over the embeddings folded into a standing component map. */
final class DedupBatch(ctx: Ctx) extends Workload {
  import ctx._
  private lazy val corpus = Corpus(ctx)
  private lazy val emb = Tables(spark, dataDir, "embeddings")
  private val map = "perfbench_components"
  private val history = "perfbench_components_history"
  val threshold = 0.3
  val simThreshold = 0.3

  private def ivfPairs(df: DataFrame): DataFrame =
    Similarity.ivfNearDupPairs(df, "vec_id", "embedding", k = 8, probes = 3,
      lloydIters = 3, seed = 42, simThreshold = simThreshold)

  /** The history the standing map holds: the even-id vectors, each linked
    * to the smallest even id of its label. */
  def setup(): Unit = {
    Layout.dropTable(spark, history)
    val even = emb.filter(col("vec_id") % 2 === 0)
    even.join(even.groupBy(col("label")).agg(min(col("vec_id")).as("id_a")), "label")
      .filter(col("id_a") =!= col("vec_id"))
      .select(col("id_a"), col("vec_id").as("id_b"))
      .write.format("parquet").saveAsTable(history)
    resetMap()
  }

  /** None, as for [[CurateChain]]. */
  override def warmup(): Unit = ()

  private var folded = false

  /** The standing map as set-up built it: rebuilt, outside the timed
    * window, when an earlier operation folded into it, so every fold merges
    * the same batch into the same map. */
  private def resetMap(): Unit = {
    Layout.dropComponentsIndex(spark, map)
    Layout.componentsIndex(spark, spark.table(history), "id_a", "id_b",
      buckets = 4, tableName = map)
    folded = false
  }

  def op(traced: Boolean): (OpResult, Map[String, Double]) = {
    if (folded) resetMap()
    folded = true
    val ((pairs, kept, ivf, resolved), seconds) = timed(trace.span("op") {
      val pairs = trace.span("dedup.minhash")(Storage.materializeOnce(
        Dedup.minHashNearDups(corpus, "doc_id", "text", 2, 32, 8, threshold)))
      val kept = trace.span("dedup.corpus")(Storage.materializeOnce(
        Dedup.dedupCorpus(corpus, "doc_id", pairs)))
      val ivf = trace.span("similarity.ivf_pairs")(Storage.materializeOnce(ivfPairs(emb)))
      trace.span("catalog.components_fold")(Layout.componentsIndexAppend(spark, ivf,
        "id_a", "id_b", buckets = 4, tableName = map))
      val resolved = trace.span("catalog.components_resolve")(
        Storage.materializeOnce(Layout.componentsResolve(spark, map)))
      (pairs, kept, ivf, resolved)
    })
    // checks, outside the timed window
    val check = attempt("dedup_batch") {
      val lowPairs = pairs.filter(col("est_jaccard") < threshold).count()
      val lowSim = ivf.filter(col("sim") < simThreshold).count()
      if (lowPairs > 0) Some(s"$lowPairs minhash pairs below $threshold")
      else if (lowSim > 0) Some(s"$lowSim ivf pairs below $simThreshold")
      else Corpus.subsetError(kept, corpus, "kept")
    }
    val digests = Seq(if (corrupt) kept.limit(1) else kept, ivf, resolved).map(digest)
    val layers = mutable.Map.empty[String, Double]
    if (traced) {
      trace.drain()
      val root = lastRoot(trace)
      layers ++= engineMetrics(trace, root, cores)
      val byName = trace.children(root).map(c => c.name -> c).toMap
      layers("dedup.minhash_s") = byName("dedup.minhash").wallS
      layers("dedup.corpus_s") = byName("dedup.corpus").wallS
      layers("similarity.ivf_pairs_s") = byName("similarity.ivf_pairs").wallS
      layers("catalog.components_fold_s") = byName("catalog.components_fold").wallS
      layers("catalog.components_resolve_s") = byName("catalog.components_resolve").wallS
      layers ++= parts(pairs)
    }
    Seq(pairs, kept, ivf, resolved).foreach(release)
    (OpResult(seconds, Seq(check.copy(digest = digests.mkString("|")))), layers.toMap)
  }

  /** Calls the operation makes inside other calls, timed on their own after
    * it: the components of the MinHash pairs (inside dedupCorpus), the
    * centroid training (inside ivfNearDupPairs) and the candidate pairs
    * the MinHash verification filters. */
  private def parts(pairs: DataFrame): Map[String, Double] = {
    val (comps, componentsS) = timed(trace.span("dedup.components")(
      Dedup.connectedComponents(pairs, "id_a", "id_b")))
    release(comps)
    val (_, trainS) = timed(trace.span("similarity.ivf_train")(Similarity.trainIvfCentroids(emb,
      "vec_id", "embedding", k = 8, lloydIters = 3, seed = 42)))
    val candidates = trace.span("dedup.candidates") {
      Dedup.minHashCandidatePairs(Dedup.minHashSignatures(corpus, "doc_id", "text", 2, 32),
        8, 4).count()
    }
    trace.drain()
    val train = trace.spans.filter(_.name == "similarity.ivf_train").last
    val verified = pairs.count()
    Map("dedup.components_s" -> componentsS, "similarity.ivf_train_s" -> trainS,
      "similarity.train_result_mb" -> trace.counts(train).resultMb,
      "dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.pair_precision" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates))
  }
}
