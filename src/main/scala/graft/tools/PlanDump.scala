package graft.tools

import graft.SparkEntry

/** Dev tool: print the formatted physical plan of selected queries
  * (all queries if no names given) for shuffle/pushdown audits.
  *
  * Usage: dev/run.sh graft.tools.PlanDump <sfDir> [name ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n=============== $n ===============")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      } catch { case e: Throwable => println(s"[plan] $n failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
