package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = DevSession(cpus)
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    // dev loop: SPARK_GRAFT_ONLY=q36_json,tx_span_scrub dumps a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    val picked = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.filter { case (k, _) => ks(k) })
    picked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // storage must stay flat across the 105-query JVM (see Bench)
      try org.apache.spark.sql.graftbridge.CheckpointLifecycle
        .sweepPersistentRDDs(spark)
      catch { case _: Throwable => () }
    }
    // a throwing query must NOT silently vanish from the correctness gate
    // (its output dir would simply be absent from the compare) — fail the
    // whole dump loudly instead
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED queries: ${failed.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
