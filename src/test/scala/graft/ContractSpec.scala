package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants: every query must carry an oracle (a
  * missing entry silently downgrades the driver's check to rows-only)
  * and names must stay driver-parseable.
  */
class ContractSpec extends AnyFunSuite {

  /** Queries with NO DuckDB oracle, each with a documented reason —
    * the driver records a rows-only check for these (allowed by the
    * contract for non-SQL-expressible ops). Keep this set minimal.
    *
    * EMPTY since round 15: q83_approx_profile (the last exemption —
    * sketch estimates are engine-specific, so raw hash equality can
    * never hold) now carries a BANDED oracle: the query emits the
    * exact value only when its sketch is inside the documented error
    * band, so the driver's hash comparison against DuckDB's exact
    * aggregation asserts the band.
    */
  private val oracleExempt = Set.empty[String]

  test("every query has an oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o -- oracleExempt).isEmpty,
      s"queries without oracle: ${q -- o -- oracleExempt}")
    assert((o -- q).isEmpty, s"oracles without query: ${o -- q}")
    assert((oracleExempt & o).isEmpty,
      "an exempted query gained an oracle — remove it from the exempt set")
  }

  test("query names are stable and numerically ordered consumers exist") {
    SparkEntry.queries.keySet.foreach { n =>
      assert(n.matches("q\\d{2,3}_[a-z0-9_]+"), s"bad query name: $n")
    }
    // NOTE: names are NOT lexicographically sortable once 3-digit ids
    // exist (q100 sorts between q10_ and q11_) — a consumer needing
    // numeric order must sort by this extracted id (no engine consumer
    // does: Verify/Bench run every query, order-independent)
    val ids = SparkEntry.queries.keySet.map(n =>
      n.drop(1).takeWhile(_.isDigit).toInt)
    assert(ids.size == SparkEntry.queries.size, "duplicate numeric query ids")
    assert(SparkEntry.queries.size == 193)
  }

  test("src/main builds a SparkSession in exactly one place: Run.scala") {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main/scala")
    val builders = java.nio.file.Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder()"))
      .map(p => main.relativize(p).toString).toSeq
    assert(builders == Seq("graft/Run.scala"))
  }

  test("oracle SQL contains no tab or CR characters that could break the JSON dump") {
    SparkEntry.oracleSql.foreach { case (n, sql) =>
      assert(!sql.contains("\t") && !sql.contains("\r"), s"$n has tab/CR")
    }
  }
}
