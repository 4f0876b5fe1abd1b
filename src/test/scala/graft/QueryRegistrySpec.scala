package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Queries.rows]] is the one declaration of every row: the gated maps
  * in [[SparkEntry]], the bench set and the parity subset are all views of
  * it, and every name filter goes through [[Queries.named]]. No session
  * is needed: the registry holds functions, not results. */
class QueryRegistrySpec extends AnyFunSuite {

  private val rows = Queries.rows
  private val benchOnly = Set("q_dedup_simhash", "q_knn_lsh", "q_knn_ivf",
    "q_knn_pq", "q_knn_ivfpq", "q_knn_ivfpq_serve", "q_semdedup")

  test("row names are distinct") {
    val dups = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    assert(dups.isEmpty)
  }

  test("196 rows: 189 gated, and the 7 without an oracle are the bench-only ops") {
    assert(rows.size === 196)
    assert(rows.count(_.oracle.isDefined) === 189)
    assert(rows.filter(_.oracle.isEmpty).map(_.name).toSet === benchOnly)
  }

  test("the 78 core rows are all gated") {
    val core = rows.filter(_.core)
    assert(core.size === 78)
    assert(core.forall(_.oracle.isDefined), core.filter(_.oracle.isEmpty).map(_.name))
    assert(Verify.select(Seq("--subset=core")).map(_.name) === core.map(_.name))
  }

  test("the driver maps are views of the registry") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === 189)
    assert(SparkEntry.benchQueries.keySet === rows.map(_.name).toSet)
    assert(Verify.select(Nil).map(_.name).toSet === SparkEntry.oracleSql.keySet)
  }

  test("every oracle string is non-empty (a null one means a val read before it was set)") {
    val bad = rows.collect { case r if r.oracle.exists(s => s == null || s.trim.isEmpty) => r.name }
    assert(bad.isEmpty)
  }

  test("an unknown row name fails and names the row") {
    assert(Queries.named(Seq("q_join", "q_project")).map(_.name) ===
      rows.map(_.name).filter(Set("q_join", "q_project")))
    val ex = intercept[IllegalArgumentException](
      Queries.named(Seq("q_join", "q_jion", "q_nope")))
    assert(ex.getMessage.contains("unknown row(s): q_jion, q_nope "), ex.getMessage)
    // Verify selects among the gated rows only: a bench-only row has no oracle
    val v = intercept[IllegalArgumentException](Verify.select(Seq("q_project,q_knn_lsh")))
    assert(v.getMessage.contains("q_knn_lsh"), v.getMessage)
    assert(Verify.select(Seq("q_project")).map(_.name) === Seq("q_project"))
  }
}
