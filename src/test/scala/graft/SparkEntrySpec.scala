package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract guards for the driver registry. */
class SparkEntrySpec extends AnyFunSuite {

  test("no query-name collisions across the registries") {
    // over SparkEntry.records, the one list both maps derive from, so a
    // newly added family file is guarded automatically
    val names = SparkEntry.records.map(_.name)
    val dups = names.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    assert(dups.isEmpty, s"duplicate query names (a later record shadows an earlier): $dups")
    assert(SparkEntry.queries.size === names.size)
  }

  test("names are well-formed") {
    assert(SparkEntry.queries.keySet.forall(_.matches("[a-z0-9_]+")))
  }

  test("oracle SQL contains no tabs (driver JSON escaping hazard)") {
    val withTabs = SparkEntry.oracleSql.filter(_._2.contains("\t")).keys
    assert(withTabs.isEmpty, s"tabs in: $withTabs")
  }

  test("each artifact name is declared by one record, and its oracle " +
    "reads it") {
    val declared = SparkEntry.records.flatMap(q => q.artifacts.map(_ -> q))
    val dups = declared.groupBy(_._1).collect { case (a, qs) if qs.size > 1 => a }
    assert(dups.isEmpty, s"two records would write one aux dir: $dups")
    for ((a, q) <- declared)
      assert(q.oracle.contains(s"/$a/"), s"${q.name} declares $a unread")
  }
}
