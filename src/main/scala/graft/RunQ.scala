package graft

/** Dev tool: run ONE named SparkEntry query and print its rows + oracle
  * SQL — per-query iteration without a full Verify dump.
  * Usage: runMain graft.RunQ <name> [sfDir] [showN]
  */
object RunQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val n = if (args.length > 2) args(2).toInt else 50
    val spark = DevSession("8")
    val df = SparkEntry.queries(name)(spark, d)
    df.show(n, truncate = false)
    println(s"rows = ${df.count()}")
    SparkEntry.oracleSql.get(name).foreach(sql => println(s"-- oracle:\n$sql"))
    spark.stop()
  }
}
