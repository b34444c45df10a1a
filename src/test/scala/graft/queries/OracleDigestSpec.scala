package graft.queries

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The oracle text is frozen: `Verify` writes `SparkEntry.oracleSql` to
  * `oracle_sql.json`, and DuckDB checks every engine answer against it,
  * so an edit to one oracle string moves the correctness gate itself.
  * This pins the SHA-256 of the sorted (name, sql) pairs; a refactor of
  * the query packs (sharing a `val` between identical oracles, say) must
  * leave it unchanged. Spark-free: building the map runs no query. */
class OracleDigestSpec extends AnyFunSuite {

  /** SHA-256 over `name NUL sql NUL` for each pair, in name order. */
  private def digest(oracles: Map[String, String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    oracles.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(name.getBytes(StandardCharsets.UTF_8)); md.update(0: Byte)
      md.update(sql.getBytes(StandardCharsets.UTF_8)); md.update(0: Byte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private val Pinned =
    "adb6156cc578733289888db27cf0ba1e3e67485c19a7278483974b34416f470d"

  test("the oracle SQL digest is unchanged") {
    val oracles = SparkEntry.oracleSql
    assert(oracles.size == 125, s"oracle count moved: ${oracles.size}")
    assert(digest(oracles) == Pinned,
      "an oracle string changed; the correctness gate must not move silently")
  }
}
