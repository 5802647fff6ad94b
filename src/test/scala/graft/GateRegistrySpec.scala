package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Q.{Gate, Gates}

/** The gate registry's contract, checked without data or a session:
  * every gate name occurs once, and the merge refuses a name that occurs
  * twice, in one file or in two.
  */
class GateRegistrySpec extends AnyFunSuite {

  private def file(names: String*): Gates = new Gates {
    val gates: Seq[Gate] = names.map(Gate(_, (_, _) => null, "SELECT 1"))
  }

  test("the registry holds 605 queries, each with one oracle") {
    assert(SparkEntry.queries.size == 605)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("no key is in two gate files") {
    val keys = SparkEntry.gateFiles.flatMap(_.gates.map(_.name))
    val twice = keys.groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
    assert(twice.isEmpty, twice.toSeq.sorted.mkString(", "))
    assert(keys.size == 605)
  }

  // A shared fragment read before its object has set it (a forward or
  // cyclic reference between gate objects) interpolates as "null".
  test("no oracle holds an unset fragment") {
    val unset = SparkEntry.oracleSql.collect {
      case (k, sql) if raw"\bnull\b".r.findFirstIn(sql).isDefined => k }
    assert(unset.isEmpty, unset.toSeq.sorted.mkString(", "))
  }

  test("the merge throws on a name twice, in one file or in two") {
    val a = file("q1_a", "q2_b")
    val (qs, os) = Gates.merge(Seq(a, file("q3_c")))
    assert(qs.keySet == Set("q1_a", "q2_b", "q3_c") && os.keySet == qs.keySet)
    val dup = intercept[IllegalArgumentException](
      Gates.merge(Seq(a, file("q2_b"))))
    assert(dup.getMessage.contains("q2_b"))
    val same = intercept[IllegalArgumentException](
      Gates.merge(Seq(file("q3_c", "q3_c"))))
    assert(same.getMessage.contains("q3_c"))
  }
}
