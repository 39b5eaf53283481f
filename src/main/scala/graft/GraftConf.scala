package graft

import org.apache.spark.sql.SparkSession

/** The one reader for graft's `spark.graft.*` session confs. An unset key
  * reads as its default; a set value that does not parse or falls below
  * `min` throws naming the key, so a typo (`8k`, `abc`) never silently
  * runs as the default.
  */
private[graft] object GraftConf {
  def int(s: SparkSession, key: String, default: Int, min: Int = 1): Int =
    s.conf.getOption(key).fold(default)(v =>
      v.toIntOption.filter(_ >= min).getOrElse(
        throw new IllegalArgumentException(
          s"$key=$v — expected an integer >= $min")))
}
