package graft

/** Dev tool: print the formatted physical plan (and optionally run) one
  * query from SparkEntry, for .explain audits.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val run = args.contains("--run")
    val spark = DevSession("8")
    // any k=v arg becomes a session conf (e.g. spark.graft.dupspans.hash=md5)
    args.filter(_.contains('=')).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    }
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (run) {
      val t0 = System.nanoTime()
      println(s"rows=${df.count()} in ${(System.nanoTime() - t0) / 1e9}s")
    }
    spark.stop()
  }
}
