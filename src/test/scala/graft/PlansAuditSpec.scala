package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

/** The plan audit: the committed PLANS.tsv must equal a fresh
  * [[Plans.digest]] of every audited section, so a plan change that was
  * not regenerated with `runMain graft.Plans` fails here.
  */
class PlansAuditSpec extends SparkSpec {

  /** Operator benches with no audit row. The composed curation chains
    * repeat every stage's subtree at each reference (their lazy trees
    * ran to 8k–1.85M formatted lines, and planning one runs a collect
    * over the unmaterialised chain); each stage has its own row and the
    * benchmark's curate_chain times the chain as it runs. */
  private val composedChains =
    Set("op_pipeline", "op_pipeline_full", "op_pipeline_pack")

  private def byName(rows: Seq[String]): ListMap[String, String] =
    ListMap(rows.map(r => r.takeWhile(_ != '\t') -> r): _*)

  /** Every way `fresh` differs from `committed`: changed rows as
    * committed vs fresh, then names missing from or extra in the
    * committed file. Empty when they agree. */
  private def differences(committed: Seq[String], fresh: Seq[String]): Seq[String] = {
    val (c, f) = (byName(committed), byName(fresh))
    c.keys.filter(f.contains).filter(n => c(n) != f(n)).toSeq
      .map(n => s"$n\n  committed: ${c(n)}\n  fresh:     ${f(n)}") ++
      (f.keySet -- c.keySet).toSeq.sorted.map(n => s"missing from ${Plans.File}: $n") ++
      (c.keySet -- f.keySet).toSeq.sorted.map(n => s"extra in ${Plans.File}: $n")
  }

  private lazy val committed: Seq[String] = {
    val path = Paths.get(Plans.File)
    assert(Files.exists(path), s"${Plans.File} is missing — run `runMain graft.Plans`")
    val lines = Files.readString(path).linesIterator.toSeq
    assert(lines.headOption.contains(Plans.Header), s"bad header: ${lines.headOption}")
    lines.tail
  }

  private def assertRows(required: Set[String]): Unit = {
    val missing = required -- byName(committed).keySet
    assert(missing.isEmpty, s"${Plans.File} is missing rows: ${missing.toSeq.sorted}")
  }

  // The two coverage cases keep the names they had when the audit was
  // PLANS.md, so their history stays continuous; both read PLANS.tsv.
  test("PLANS.md has a section for every SparkEntry query") {
    assertRows(SparkEntry.queries.keySet)
  }

  test("PLANS.md has a section for every op_* operator bench") {
    assert(composedChains.subsetOf(Bench.operatorBenches.keySet))
    assertRows(Bench.operatorBenches.keySet -- composedChains)
  }

  test("the comparison reports an edited row, a missing name and an extra name") {
    val edited = committed.head.split("\t", -1)
    edited(1) = (edited(1).toInt + 1).toString
    val altered = edited.mkString("\t") +: committed.tail
    val diff = differences(altered, committed)
    assert(diff.size == 1 && diff.head.startsWith(edited(0) + "\n"), diff)
    assert(diff.head.contains(s"committed: ${altered.head}") &&
      diff.head.contains(s"fresh:     ${committed.head}"), diff)
    assert(differences(committed.tail :+ "op_gone\t1\t0\t0\t-", committed) ==
      Seq(s"missing from ${Plans.File}: ${edited(0)}", s"extra in ${Plans.File}: op_gone"))
  }

  test("PLANS.tsv equals a fresh digest of every audited plan") {
    val diff = differences(committed, Plans.digests(spark))
    if (diff.nonEmpty) fail(s"${Plans.File} is stale — regenerate with " +
      s"`runMain graft.Plans`:\n${diff.mkString("\n")}")
  }
}
