package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
/** Dev tool: plan shape as counts. Prints one JSON line per named query:
  * the occurrences of `Exchange`, `SortMergeJoin` and `BroadcastHashJoin`
  * in the formatted physical plan text (operator tree and details
  * sections; `ReusedExchange` and `BroadcastExchange` count as `Exchange`)
  * and the plan's non-blank line count. Iterative queries checkpoint
  * eagerly, so their per-round lineage is not in the final plan; their
  * budgets are ScaleBudgetSpec's job. */
object PlanAudit {
  private val Operators = Seq("Exchange", "SortMergeJoin", "BroadcastHashJoin")

  def shapeJson(name: String, plan: String): String = {
    val counts = Operators.map(op => s""""$op":${op.r.findAllMatchIn(plan).size}""")
    val lines = plan.linesIterator.count(_.trim.nonEmpty)
    (s""""q":"$name"""" +: counts :+ s""""lines":$lines""").mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkEntry.configure(SparkSession.builder()
      .master("local[4]").config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args.drop(1)) {
      val qe = SparkEntry.queries(name)(spark, dir).queryExecution
      println(shapeJson(name, qe.explainString(ExplainMode.fromString("formatted"))))
    }
    spark.stop()
  }
}
