package graft.runner

import java.nio.file.{Files, Path}

/** HTML execution report (reference: internal/pipeline/runner.go:466-654 +
  * internal/templates/files/execution_report.html): run parameters,
  * producer/consumer stats, wall time per run phase, topics, schemas,
  * per-query streaming metrics.
  * Plain string template — the metrics come from the listener-fed
  * collector rather than REST polls. */
object Report {

  def write(reportsDir: Path, executionId: String, status: String, durationMs: Long,
            cfg: GraftRunner.Config, resources: Resources, schemaKeys: Seq[String],
            produced: Long, outputRows: Long,
            queryStats: Seq[MetricsCollector#QueryStats],
            phases: Seq[(String, Long)]): Path = {
    Files.createDirectories(reportsDir)
    val path = reportsDir.resolve(s"graft-execution-report-$executionId.html")
    Files.writeString(path, render(executionId, status, durationMs, cfg, resources,
      schemaKeys, produced, outputRows, queryStats, phases))
    path
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def render(executionId: String, status: String, durationMs: Long,
                     cfg: GraftRunner.Config, resources: Resources, schemaKeys: Seq[String],
                     produced: Long, outputRows: Long,
                     queryStats: Seq[MetricsCollector#QueryStats],
                     phases: Seq[(String, Long)]): String = {
    val statusColor = if (status == "SUCCESS") "#2e7d32" else "#c62828"
    val queryRows = queryStats.map { q =>
      s"""<tr><td>${esc(q.name)}</td><td>${q.totalInputRows}</td><td>${q.batches}</td>
         |<td>${f"${q.lastRowsPerSecond}%.1f"}</td><td>${q.lastBatchMs} ms</td>
         |<td>${if (q.terminated) "terminated" else "active"}</td>
         |<td>${esc(q.error.getOrElse(""))}${q.error.flatMap(ErrorSuggester.suggest).map(s => s"<br><i>${esc(s)}</i>").getOrElse("")}</td></tr>""".stripMargin
    }.mkString("\n")
    val phaseRows = phases.map { case (phase, ms) =>
      s"<tr><th>${esc(phase)}</th><td>$ms ms</td></tr>"
    }.mkString("\n")
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>graft execution report</title>
       |<style>
       |body { font-family: sans-serif; margin: 2em; color: #222; }
       |table { border-collapse: collapse; margin: 1em 0; }
       |td, th { border: 1px solid #ccc; padding: 6px 12px; text-align: left; }
       |th { background: #f5f5f5; }
       |.status { color: $statusColor; font-weight: bold; }
       |</style></head><body>
       |<h1>graft execution report</h1>
       |<p>Execution <code>${esc(executionId)}</code> —
       |<span class="status">${esc(status)}</span> in ${durationMs / 1000.0} s</p>
       |<h2>Parameters</h2>
       |<table>
       |<tr><th>message rate</th><td>${cfg.messageRate}/s</td></tr>
       |<tr><th>duration</th><td>${cfg.durationMs} ms</td></tr>
       |<tr><th>traffic pattern</th><td>${esc(if (cfg.trafficPattern.isEmpty) "(none)" else cfg.trafficPattern)}</td></tr>
       |<tr><th>mode</th><td>${if (cfg.continuous) "continuous" else "bounded (AvailableNow)"}</td></tr>
       |<tr><th>project</th><td>${esc(cfg.projectDir.toString)}</td></tr>
       |</table>
       |<h2>Producer / Consumer</h2>
       |<table>
       |<tr><th>messages produced</th><td>$produced</td></tr>
       |<tr><th>output rows</th><td>$outputRows</td></tr>
       |</table>
       |<h2>Timings</h2>
       |<table>
       |$phaseRows
       |</table>
       |<h2>Topics</h2>
       |<table>
       |<tr><th>input</th><td>${esc(resources.inputTopic)}</td></tr>
       |<tr><th>output</th><td>${esc(resources.outputTopic)}</td></tr>
       |<tr><th>all</th><td>${esc(resources.topics.mkString(", "))}</td></tr>
       |</table>
       |<h2>Schemas</h2>
       |<p>${esc(if (schemaKeys.isEmpty) "(none)" else schemaKeys.sorted.mkString(", "))}</p>
       |<h2>Streaming queries</h2>
       |<table>
       |<tr><th>query</th><th>input rows</th><th>batches</th><th>last rows/s</th>
       |<th>last batch</th><th>state</th><th>error</th></tr>
       |$queryRows
       |</table>
       |</body></html>""".stripMargin
  }
}
