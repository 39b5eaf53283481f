package graft.versioned

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._

/** Single-pass write statistics of graft's one data-file writer
  * ([[LayoutWriter]]) — no post-write stats SCAN. Re-reading every
  * freshly written file to aggregate min/max/nulls/NDV would be, at
  * 100 TB, a second full pass over everything ingested. Iceberg's writers
  * collect the same stats as they go; the layout writer does too:
  *
  *  - min / max / null counts / row counts decode from the PARQUET
  *    FOOTERS of the just-written files (executor-side, page-hot, a few
  *    KB per file) — the parquet writer already computed them;
  *  - NDV (CBO input, no footer equivalent) comes from an inline
  *    per-file HLL sketch fed by the same codegen'd xxhash64 projection
  *    the row passes through anyway — CPU-only, no second I/O pass.
  *
  * Anything the footer cannot prove is OMITTED, never guessed: missing
  * or non-exact stats → no min/max entry → every reader of FileEntry
  * stats treats absence as "keep the file" (and the metadata-aggregate
  * path falls back to scanning). Float/double stats are additionally
  * dropped when a bound is NaN or ±0.0 — the IEEE corner where parquet's
  * ordering and the engine's comparator could disagree.
  */
object FooterStats {

  /** Fixed 2^12-register hyperloglog for write-time per-file NDV.
    * ±1.6% at large cardinalities, linear-counting-corrected (near
    * exact) at small ones — NDV is advisory CBO input, so a sketch that
    * differs from approx_count_distinct's estimate is fine; bands are
    * what matters.
    */
  final class Hll extends Serializable {
    private val p = 12
    private val m = 1 << p
    private val regs = new Array[Byte](m)

    def add(hash: Long): Unit = {
      val idx = (hash >>> (64 - p)).toInt
      val rank = (java.lang.Long.numberOfLeadingZeros((hash << p) | (1L << (p - 1))) + 1).toByte
      if (rank > regs(idx)) regs(idx) = rank
    }

    def estimate: Long = {
      val alpha = 0.7213 / (1 + 1.079 / m)
      var invSum = 0.0
      var zeros = 0
      var i = 0
      while (i < m) {
        invSum += 1.0 / (1L << (regs(i) & 0xff))
        if (regs(i) == 0) zeros += 1
        i += 1
      }
      var e = alpha * m.toDouble * m.toDouble / invSum
      if (e <= 2.5 * m && zeros > 0) e = m * math.log(m.toDouble / zeros)
      math.round(e)
    }
  }

  /** One written file's executor-collected statistics. min/max carry
    * EXTERNAL JVM values (String / primitive / java.math.BigDecimal) so
    * the message serializes plainly; the driver re-types them through
    * `Literal.create` and renders with the SAME Catalyst string cast the
    * scan-based stats pass used — identical stat strings by
    * construction.
    */
  final case class WrittenFile(
      path: String,
      rows: Long,
      bytes: Long,
      mins: Map[String, Any],
      maxs: Map[String, Any],
      nulls: Map[String, Long],
      ndv: Map[String, Long])

  /** Decode one footer. `physSchema` supplies the engine types; columns
    * whose parquet statistics are missing/empty in ANY row group are
    * omitted entirely (conservative).
    */
  def read(path: org.apache.hadoop.fs.Path, conf: Configuration,
      physSchema: StructType, ndv: Map[String, Long]): WrittenFile = {
    val inFile = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(inFile)
    try {
      import scala.jdk.CollectionConverters._
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val bytes = inFile.getLength
      val mins = scala.collection.mutable.Map.empty[String, Any]
      val maxs = scala.collection.mutable.Map.empty[String, Any]
      val nulls = scala.collection.mutable.Map.empty[String, Long]
      // per-column Try: a stat shape this decode does not understand
      // (e.g. an unexpected physical encoding) must degrade to "no
      // stats for that column" — absence means keep-the-file — never a
      // task failure or a partial min-without-max entry. Leaves cover
      // top-level primitives AND struct-nested primitives (dotted
      // parquet paths) — nested-field predicates prune files too.
      TableOps.statLeafColumns(physSchema).foreach { case (path, dt) =>
        val f = StructField(path, dt)
        scala.util.Try {
        val chunks = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == f.name))
        val stats = chunks.map(_.getStatistics)
        val statsOk = chunks.nonEmpty && chunks.size == blocks.size &&
          stats.forall(s => s != null && !s.isEmpty)
        if (statsOk) {
          if (stats.forall(_.isNumNullsSet))
            nulls(f.name) = stats.map(_.getNumNulls).sum
          val withVals = stats.filter(_.hasNonNullValue)
          // a group without a min/max must be ENTIRELY null for the
          // file-level bounds to stay valid
          def allNull(i: Int): Boolean = stats(i).isNumNullsSet &&
            stats(i).getNumNulls == chunks(i).getValueCount
          // all-null column: valid null count, no min/max
          if (withVals.nonEmpty &&
              stats.indices.forall(i => stats(i).hasNonNullValue || allNull(i))) {
            val lo = withVals.map(s => decode(s.genericGetMin, f.dataType))
              .reduceLeft((a, b) => pick(a, b, f.dataType, takeMin = true))
            val hi = withVals.map(s => decode(s.genericGetMax, f.dataType))
              .reduceLeft((a, b) => pick(a, b, f.dataType, takeMin = false))
            if (boundUsable(lo, f.dataType) && boundUsable(hi, f.dataType)) {
              mins(f.name) = lo
              maxs(f.name) = hi
            }
          }
        }
      } }
      WrittenFile(path.toString, rows, bytes, mins.toMap, maxs.toMap, nulls.toMap,
        ndv)
    } finally reader.close()
  }

  /** Parquet generic stat value -> plain external JVM value for the
    * engine type. Unsupported shapes throw into the per-column Try
    * above — the column simply records no stats (conservative), never
    * a wrong value.
    */
  private def decode(v: Any, dt: DataType): Any = dt match {
    case BooleanType => v.asInstanceOf[java.lang.Boolean].booleanValue()
    case ByteType => v.asInstanceOf[Number].byteValue()
    case ShortType => v.asInstanceOf[Number].shortValue()
    case IntegerType | DateType => v.asInstanceOf[Number].intValue()
    case LongType | TimestampType | TimestampNTZType =>
      v.asInstanceOf[Number].longValue()
    case FloatType => v.asInstanceOf[Number].floatValue()
    case DoubleType => v.asInstanceOf[Number].doubleValue()
    case StringType =>
      new String(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
        java.nio.charset.StandardCharsets.UTF_8)
    case d: DecimalType => v match {
      case n: java.lang.Integer =>
        java.math.BigDecimal.valueOf(n.longValue(), d.scale)
      case n: java.lang.Long =>
        java.math.BigDecimal.valueOf(n.longValue(), d.scale)
      case b: org.apache.parquet.io.api.Binary =>
        new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.scale)
      case other => throw new IllegalStateException(
        s"unexpected parquet decimal stat ${other.getClass}")
    }
    case other => throw new IllegalStateException(
      s"no footer decode for ${other.simpleString}")
  }

  /** External-value comparison for min/max folding across row groups —
    * matches the engine's pruning comparator semantics per type.
    */
  private def pick(a: Any, b: Any, dt: DataType, takeMin: Boolean): Any = {
    val c = dt match {
      // UTF-8 BINARY order (what parquet per-group stats and Spark's
      // UTF8String comparison use) — java.lang.String.compareTo is
      // UTF-16 code-unit order, which disagrees beyond the BMP and
      // could fold a bound that does not bound the file
      case StringType => org.apache.spark.unsafe.types.UTF8String
        .fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String
          .fromString(b.asInstanceOf[String]))
      case FloatType => java.lang.Float.compare(
        a.asInstanceOf[Float], b.asInstanceOf[Float])
      case DoubleType => java.lang.Double.compare(
        a.asInstanceOf[Double], b.asInstanceOf[Double])
      case _: DecimalType => a.asInstanceOf[java.math.BigDecimal]
        .compareTo(b.asInstanceOf[java.math.BigDecimal])
      case BooleanType => java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case _ => java.lang.Long.compare(
        a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue())
    }
    if ((c <= 0) == takeMin) a else b
  }

  /** The IEEE corner where stat ordering is undefined: a NaN bound is
    * unusable (parquet-mr normally omits stats when NaN was seen, and
    * normalizes zero bounds to min=-0.0 / max=+0.0, which the engine's
    * Double.compare-based pruning already treats conservatively — so
    * zeros need no special-casing here).
    */
  private def boundUsable(v: Any, dt: DataType): Boolean = dt match {
    case FloatType => !v.asInstanceOf[Float].isNaN
    case DoubleType => !v.asInstanceOf[Double].isNaN
    case _ => true
  }

  /** Render an external stat value to the engine's stat STRING with the
    * same Catalyst cast the scan-based stats pass applied
    * (`min(col).cast("string")`, session tz UTC) — identical strings by
    * construction.
    */
  def render(v: Any, dt: DataType): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    Cast(Literal.create(v, dt), StringType, Some("UTC")).eval(null).toString
  }
}
