package graft

import org.apache.spark.sql.SparkSession

/** The one reader for graft's `spark.graft.*` session confs and `graft.*`
  * JVM system properties. An unset key reads as its default; a set value
  * that does not parse or falls out of range throws naming the key, so a
  * typo (`8k`, `abc`) never silently runs as the default.
  */
private[graft] object GraftConf {
  def int(s: SparkSession, key: String, default: Int, min: Int = 1): Int =
    checked(key, s.conf.getOption(key), default, min, Int.MaxValue).toInt

  /** A JVM system property (`-Dgraft.manifest.target=2048`). */
  def sysProp(key: String, default: Long, min: Long,
      max: Long = Int.MaxValue): Long =
    checked(key, sys.props.get(key), default, min, max)

  private def checked(key: String, value: Option[String], default: Long,
      min: Long, max: Long): Long =
    value.fold(default)(v =>
      v.toLongOption.filter(n => n >= min && n <= max).getOrElse(
        throw new IllegalArgumentException(
          s"$key=$v — expected an integer >= $min" +
            (if (max < Long.MaxValue) s" and <= $max" else ""))))
}
