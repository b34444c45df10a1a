package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `graft.Bench`'s timing loop and report: an entry that throws is
  * reported failed, not timed as a finished query, and an alias is timed
  * once, through its target. */
class BenchSpec extends SparkSpec {

  private val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "a_ok" -> ((s, _) => s.range(100).toDF("id")),
    "b_throws_building" -> ((_, _) => throw new IllegalStateException("no frame")),
    "c_throws_running" -> ((s, _) => s.range(1).selectExpr("raise_error('boom') AS x")))

  test("a query whose warm-up or rep throws is marked failed and left out of every total") {
    val timed = Bench.timeEntries(spark, "unused", reps = 2, entries)
    assert(timed.map(t => t.name -> t.failed) ==
      Seq("a_ok" -> false, "b_throws_building" -> true, "c_throws_running" -> true))
    assert(timed.head.times.size == 2 && timed.head.times == timed.head.times.sorted)
    assert(timed.tail.forall(_.times.isEmpty))

    val ok = timed.head.times.min
    val (full, summary) = Bench.report(timed, Nil, timed.take(1), reps = 2, only = None,
      out = "bench_out.json", sfDir = "sf")
    val json = new ObjectMapper()
    for (line <- Seq(full, summary)) {
      val node = json.readTree(line)
      assert(node.get("failed").toString == """["b_throws_building","c_throws_running"]""", line)
      assert(node.get("value").asDouble == ok)
      assert(node.get("total_with_contract_arms").asDouble == ok)
      assert(node.get("queries").size == 1 && node.get("queries").get("a_ok").asDouble == ok)
    }
    val node = json.readTree(full)
    assert(node.get("total_with_operators").asDouble == 2 * ok)
    assert(node.get("operators").size == 1 && node.get("operators").get("a_ok").asDouble == ok)
  }

  test("an alias is timed through its target once and reported under its own name") {
    var runs = Map.empty[String, Int]
    def counted(name: String): (SparkSession, String) => DataFrame = (s, _) => {
      runs += name -> (runs.getOrElse(name, 0) + 1); s.range(10).toDF("id")
    }
    val queries = Map("a" -> counted("a"), "a_alias" -> counted("a_alias"), "b" -> counted("b"))
    val timed = Bench.timeAliased(spark, "unused", reps = 2, Seq("b", "a_alias", "a"),
      queries, aliases = Map("a_alias" -> "a"))
    assert(timed.map(_.name) == Seq("a", "a_alias", "b"))
    assert(timed(1).times == timed(0).times && !timed(1).failed)
    // one warm-up plus two reps each; the alias's own entry never runs
    assert(runs == Map("a" -> 3, "b" -> 3))
    assert(Bench.timeAliased(spark, "unused", reps = 1, Seq("a_alias"),
      queries, aliases = Map("a_alias" -> "a")).map(_.name) == Seq("a_alias"))
  }
}
