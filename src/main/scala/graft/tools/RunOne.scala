package graft.tools

import graft.SparkEntry

/** Dev tool: execute a single named query and dump it to
  * /tmp/one_<name> parquet. Usage: dev/run.sh graft.tools.RunOne <name> [sfDir]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = graft.LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.coalesce(1).write.mode("overwrite").parquet(s"/tmp/one_$name")
    println(s"rows=${spark.read.parquet(s"/tmp/one_$name").count()} " +
      f"sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    spark.stop()
  }
}
