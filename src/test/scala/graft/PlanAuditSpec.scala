package graft

import org.scalatest.funsuite.AnyFunSuite

class PlanAuditSpec extends AnyFunSuite {
  test("plan shape counts operator-name occurrences and non-blank lines") {
    val plan =
      """== Physical Plan ==
        |AdaptiveSparkPlan (4)
        |+- BroadcastHashJoin Inner BuildRight (3)
        |   :- Scan parquet  (1)
        |   +- BroadcastExchange (2)
        |
        |(2) BroadcastExchange
        |
        |""".stripMargin
    assert(PlanAudit.shapeJson("q1", plan) ==
      """{"q":"q1","Exchange":2,"SortMergeJoin":0,"BroadcastHashJoin":1,"lines":6}""")
  }
}
