package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Q.{Gates, QFn}

/** The gate registry's contract, checked without data or a session:
  * every gate file keys its queries and oracles alike, no key is in two
  * files, and the merge refuses a file that breaks either rule.
  */
class GateRegistrySpec extends AnyFunSuite {

  private def file(qs: Seq[String], os: Seq[String]): Gates = new Gates {
    val queries: Map[String, QFn] = qs.map(_ -> ((_, _) => null): (String, QFn)).toMap
    val oracles: Map[String, String] = os.map(_ -> "SELECT 1").toMap
  }

  test("the registry holds 605 queries, each with one oracle") {
    assert(SparkEntry.queries.size == 605)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("no key is in two gate files") {
    val keys = SparkEntry.gates.flatMap(_.queries.keys)
    val twice = keys.groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
    assert(twice.isEmpty, twice.toSeq.sorted.mkString(", "))
    assert(keys.size == 605)
  }

  test("each gate file keys its queries and oracles alike") {
    for (g <- SparkEntry.gates)
      assert(g.queries.keySet == g.oracles.keySet, g.getClass.getName)
  }

  // A shared fragment read before its object has set it (a forward or
  // cyclic reference between gate objects) interpolates as "null".
  test("no oracle holds an unset fragment") {
    val unset = SparkEntry.oracleSql.collect {
      case (k, sql) if raw"\bnull\b".r.findFirstIn(sql).isDefined => k }
    assert(unset.isEmpty, unset.toSeq.sorted.mkString(", "))
  }

  test("the merge throws on a key in two files and on an orphan oracle") {
    val a = file(Seq("q1_a", "q2_b"), Seq("q1_a", "q2_b"))
    val (qs, os) = Gates.merge(Seq(a, file(Seq("q3_c"), Seq("q3_c"))))
    assert(qs.keySet == Set("q1_a", "q2_b", "q3_c") && os.keySet == qs.keySet)
    val dup = intercept[IllegalArgumentException](
      Gates.merge(Seq(a, file(Seq("q2_b"), Seq("q2_b")))))
    assert(dup.getMessage.contains("q2_b"))
    val orphan = intercept[IllegalArgumentException](
      Gates.merge(Seq(a, file(Seq("q3_c"), Seq("q3_c", "q4_d")))))
    assert(orphan.getMessage.contains("q4_d"))
    val missing = intercept[IllegalArgumentException](
      Gates.merge(Seq(file(Seq("q3_c", "q5_e"), Seq("q3_c")))))
    assert(missing.getMessage.contains("q5_e"))
  }
}
