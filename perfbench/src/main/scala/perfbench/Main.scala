package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** Runs one workload in this JVM and writes its raw measurements as JSON:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --cores C --data SF_DIR --work DIR --out FILE
  * }}}
  *
  * Set-up (session start, fixture and index builds, the workload's
  * warm-up) is timed apart from the closed loop that follows: one
  * operation at a time, at least one and for at least `--seconds`, with
  * the inter-operation hygiene (cache clear, GC, cleaner settle) outside
  * every timed window. With `--trace 1` the same sequence runs with every
  * timed operation traced; its end-to-end figures against an untraced
  * run's give the tracing overhead. The harness script turns the file into
  * the result line. */
object Main {

  /** Writes the result and span files; Scala maps, sequences and options
    * become JSON objects, arrays and nullable values. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = Paths.get(opts("work")).toAbsolutePath
    val corrupt = sys.env.get("PERFBENCH_CORRUPT").contains("1")
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = GraftSession.local("perfbench", cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = s"$workload-$seed-${java.util.UUID.randomUUID().toString.take(8)}"
    val trace = new Trace(spark, runId, traced)
    val ctx = Ctx(spark, trace, opts("data"), work, seed, cores, corrupt)
    val w = Workload(workload, ctx)

    def hygiene(): Unit = {
      // the cleaner's asynchronous teardown of the previous operation's
      // blocks and shuffles must finish outside the next timed window:
      // the first GC enqueues the references, the settle lets the cleaner
      // run, the second GC collects what it released
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(250)
      System.gc()
    }

    val (_, fixturesS) = Workload.timed(w.setup())
    val (_, warmupS) = Workload.timed(w.warmup())
    hygiene()
    val setupS = sessionS + fixturesS + warmupS

    val ops = mutable.ArrayBuffer.empty[OpResult]
    val layerRuns = mutable.ArrayBuffer.empty[Map[String, Double]]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (ops.isEmpty || elapsed < seconds) {
      val (r, layers) = trace.during(w.op(traced))
      ops += r
      layerRuns += layers
      hygiene()
    }
    if (traced) trace.write(work.resolveSibling("traces").resolve(s"$runId.jsonl"), cores)

    val layers = layerRuns.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(layerRuns.flatMap(_.get(k)).toSeq)
    }
    val out = ListMap(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "run_id" -> runId,
      "session_s" -> sessionS, "fixtures_s" -> fixturesS, "warmup_s" -> warmupS,
      "setup_s" -> setupS, "peak_rss_mb" -> peakRssMb(),
      "ops" -> ops.map(r => ListMap("s" -> r.seconds,
        "checks" -> r.checks.map(c => ListMap("name" -> c.name, "error" -> c.error,
          "digest" -> c.digest, "s" -> c.seconds)))),
      "layers" -> ListMap(layers.toSeq: _*)) ++ w.extra
    Files.writeString(Paths.get(opts("out")), json.writeValueAsString(out) + "\n")
    spark.stop()
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
