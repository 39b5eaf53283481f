package graft

import org.apache.spark.sql.SparkSession

/** The one session the repo's mains (Bench, Verify, Explain, RunQ,
  * ScaleSmoke) run on: `local[cores]` with as many shuffle partitions,
  * UTC, no UI, [[GraftExtensions]], a per-run streaming checkpoint under
  * `java.io.tmpdir`, and WARN logging.
  */
object DevSession {
  def apply(cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.streaming.checkpointLocation",
        sys.props("java.io.tmpdir") + "/graft-ckpt-" + java.util.UUID.randomUUID())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
