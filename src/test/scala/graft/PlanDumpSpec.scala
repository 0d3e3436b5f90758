package graft

import org.scalatest.funsuite.AnyFunSuite

/** `PlanDump.canonical` as a pure string function: two formatted plans
  * that differ only in what varies between runs come out equal; a
  * changed literal still shows. */
class PlanDumpSpec extends AnyFunSuite {

  private def plan(ids: Int, planId: Int, rdd: Int, line: Int, hash: String) =
    s"""== Physical Plan ==
       |* Project (2)
       |+- * Scan ExistingRDD (1)
       |
       |(1) Scan ExistingRDD [codegen id : 1]
       |Output [2]: [id#${ids + 1}L, v#${ids + 2}]
       |Arguments: [id#${ids + 1}L, v#${ids + 2}], MapPartitionsRDD[$rdd] at localCheckpoint at Graph.scala:$line, ExistingRDD
       |
       |(2) Project [codegen id : 1]
       |Output [2]: [id#${ids + 1}L, (v#${ids + 2} * 2) AS w#${ids + 7}]
       |Arguments: graft.operators.Graph$$$$$$Lambda/0x00007f${hash}@${hash}, Obj@$hash, [plan_id=$planId]
       |""".stripMargin

  test("ids, plan ids, RDD ids, call-site lines and hashes are blanked") {
    val a = PlanDump.canonical(plan(10, 4818, 245, 577, "5e3f1a2b"))
    val b = PlanDump.canonical(plan(900, 340, 12, 913, "00c0ffee"))
    assert(a === b)
    assert(a.contains("id#1L, v#2]") && a.contains("AS w#3]"))
    assert(!a.contains("4818") && !a.contains("577") && !a.contains("5e3f"))
  }

  test("a changed literal still shows") {
    val a = PlanDump.canonical(plan(10, 1, 1, 1, "abcd1234"))
    val b = PlanDump.canonical(plan(10, 1, 1, 1, "abcd1234").replace("* 2)", "* 3)"))
    assert(a !== b)
  }

  test("content-hashed array literals keep their hash") {
    val lit = "lookup(org.apache.spark.sql.catalyst.expressions.UnsafeArrayData@f1dd012b)"
    assert(PlanDump.canonical(lit) === lit)
  }

  // A distinct-aggregate rewrite: the group columns before gid, and the
  // gid of each group, in the order one run's hash map happened to give;
  // downstream lists carry the same run, some as aliased expressions.
  private val distinctAB =
    """(2) Expand [codegen id : 1]
      |Input [2]: [a#11, b#12L]
      |Arguments: [[null, null, 0, b#12L], [a#11, null, 1, null], [null, b#12L, 2, null]], [a#21, b#22L, gid#20, b#23L]
      |
      |(3) HashAggregate [codegen id : 1]
      |Input [4]: [a#21, b#22L, gid#20, b#23L]
      |Keys [3]: [a#21, knownfloatingpointnormalized(b#22L) AS b#22L, gid#20]
      |
      |(4) Sort
      |Arguments: [a#21 ASC NULLS FIRST, b#22L ASC NULLS FIRST, gid#20 ASC NULLS FIRST], false, 0
      |
      |(5) Exchange
      |Arguments: hashpartitioning(a#21, b#22L, gid#20, 4), ENSURE_REQUIREMENTS, [plan_id=7]
      |
      |(6) HashAggregate
      |Functions [3]: [count(a#21) FILTER (WHERE (gid#20 = 1)), count(b#22L) FILTER (WHERE (gid#20 = 2)), first(sum(b#23L)#30L, true) FILTER (WHERE (gid#20 = 0))]
      |""".stripMargin

  private val distinctBA =
    """(2) Expand [codegen id : 1]
      |Input [2]: [a#41, b#42L]
      |Arguments: [[null, null, 0, b#42L], [b#42L, null, 1, null], [null, a#41, 2, null]], [b#52L, a#51, gid#50, b#53L]
      |
      |(3) HashAggregate [codegen id : 1]
      |Input [4]: [b#52L, a#51, gid#50, b#53L]
      |Keys [3]: [knownfloatingpointnormalized(b#52L) AS b#52L, a#51, gid#50]
      |
      |(4) Sort
      |Arguments: [b#52L ASC NULLS FIRST, a#51 ASC NULLS FIRST, gid#50 ASC NULLS FIRST], false, 0
      |
      |(5) Exchange
      |Arguments: hashpartitioning(b#52L, a#51, gid#50, 4), ENSURE_REQUIREMENTS, [plan_id=9]
      |
      |(6) HashAggregate
      |Functions [3]: [count(a#51) FILTER (WHERE (gid#50 = 2)), count(b#52L) FILTER (WHERE (gid#50 = 1)), first(sum(b#53L)#60L, true) FILTER (WHERE (gid#50 = 0))]
      |""".stripMargin

  test("a distinct-aggregate Expand comes out in one order") {
    val a = PlanDump.canonical(distinctAB)
    assert(a === PlanDump.canonical(distinctBA))
    assert(a.contains("[[null, null, 0, b#2L], [a#1, null, 1, null], [null, b#2L, 2, null]]"))
    assert(a.contains("count(a#3) FILTER (WHERE (gid#5 = 1)), count(b#4L) FILTER (WHERE (gid#5 = 2))"))
  }

  test("a changed group column of an Expand still shows") {
    assert(PlanDump.canonical(distinctAB) !==
      PlanDump.canonical(distinctBA.replace("count(a#51)", "count(b#52L)")))
  }
}
