package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, BoundReference, EqualNullSafe, Expression, Literal, Not, Predicate, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.versioned.{FilterJson, Json}

/** Read path for merge-on-read DELETE tombstones.
  *
  * Clean files (no applicable tombstone) keep the fully vectorized
  * parquet read. Dirty files are read row-based with the tombstone
  * keep-predicate evaluated INSIDE the reader — guaranteed filtering,
  * unlike parquet filter pushdown which is best-effort row-group
  * pruning. Because a tombstone predicate may reference columns the
  * query pruned away, dirty groups read an EXPANDED schema
  * (readSchema ∪ predicate columns) and project back to the query's
  * schema after the predicate passes — the same "deletes cost you some
  * vectorization until compaction" trade Iceberg's MoR readers make.
  */
object TombstoneReadBridge {

  /** A Scan over `clean` files (plain columnar read) plus `dirty`
    * groups of `(files, tombstone filter JSONs)` (row-based filtered
    * read). All schemas/filters are in PHYSICAL column names.
    */
  def scan(
      spark: SparkSession,
      clean: Seq[FileStatus],
      dirty: Seq[(Seq[FileStatus], Seq[String])],
      dataSchema: StructType,
      readSchema: StructType,
      pushed: Array[Filter]): Scan = {
    val refs: Set[String] = dirty.flatMap(_._2).toSet[String]
      .flatMap(js => FilterJson.fromJson(Json.readAny(js).asInstanceOf[Map[String, Any]]).references)
    val expanded = StructType(readSchema.fields ++
      dataSchema.fields.filter(f => refs.contains(f.name) &&
        !readSchema.fieldNames.contains(f.name)))
    // the anon Scan's readSchema() member shadows the parameter inside
    // the class body — capture it or self-recurse
    val querySchema = readSchema
    new Scan {
      override def readSchema(): StructType = querySchema
      override def description(): String =
        s"GraftTombstoneScan (${clean.size} clean files, ${dirty.map(_._1.size).sum} dirty)"
      override def columnarSupportMode(): Scan.ColumnarSupportMode =
        Scan.ColumnarSupportMode.PARTITION_DEFINED
      override def toBatch: Batch = {
        val cleanBatch =
          if (clean.isEmpty) None
          else Some(ParquetReadBridge.scan(
            spark, clean, dataSchema, querySchema, pushed).toBatch)
        val dirtyBatches = dirty.map { case (files, filters) =>
          (ParquetReadBridge.scan(
            spark, files, dataSchema, expanded, pushed).toBatch, filters)
        }
        val cleanParts = cleanBatch.toSeq.flatMap(_.planInputPartitions())
        val dirtyParts = dirtyBatches.flatMap { case (b, filters) =>
          b.planInputPartitions().map(p =>
            TombstonePartition(p, filters): InputPartition)
        }
        new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            (cleanParts ++ dirtyParts).toArray
          override def createReaderFactory(): PartitionReaderFactory = {
            // reader-factory config is identical across the dirty groups
            // (same schemas, filters, hadoop conf) — one factory serves all
            val cleanF = cleanBatch.map(_.createReaderFactory())
            val dirtyF = dirtyBatches.headOption.map(_._1.createReaderFactory())
            new TombstoneReaderFactory(cleanF, dirtyF, querySchema, expanded)
          }
        }
      }
    }
  }

  /** v1 filter (physical names, external JVM values from
    * [[FilterJson.fromJson]]) -> bound Catalyst predicate over `schema`.
    */
  private[graftbridge] def toCatalyst(f: Filter, schema: StructType): Expression = {
    import org.apache.spark.sql.catalyst.{expressions => E}
    // a dotted attr that is not itself a top-level column is a
    // NESTED-LEAF reference ("s.a" from DELETE WHERE s.a = …): bind the
    // head column, then chain GetStructField per segment
    def chain(name: String): (Expression, DataType) =
      schema.getFieldIndex(name) match {
        case Some(i) =>
          (BoundReference(i, schema.fields(i).dataType,
            schema.fields(i).nullable), schema.fields(i).dataType)
        case None =>
          val parts = name.split('.')
          val i = schema.fieldIndex(parts.head)
          var expr: Expression = BoundReference(i,
            schema.fields(i).dataType, schema.fields(i).nullable)
          var dt = schema.fields(i).dataType
          parts.tail.foreach { seg =>
            val st = dt.asInstanceOf[StructType]
            val j = st.fieldIndex(seg)
            expr = E.GetStructField(expr, j, Some(seg))
            dt = st.fields(j).dataType
          }
          (expr, dt)
      }
    def ref(name: String): Expression = chain(name)._1
    def lit(name: String, v: Any): Expression = {
      val dt = chain(name)._2
      Literal(internal(v, dt), dt)
    }
    f match {
      case sources.EqualTo(a, v) => E.EqualTo(ref(a), lit(a, v))
      case sources.GreaterThan(a, v) => E.GreaterThan(ref(a), lit(a, v))
      case sources.GreaterThanOrEqual(a, v) => E.GreaterThanOrEqual(ref(a), lit(a, v))
      case sources.LessThan(a, v) => E.LessThan(ref(a), lit(a, v))
      case sources.LessThanOrEqual(a, v) => E.LessThanOrEqual(ref(a), lit(a, v))
      case sources.In(a, vs) => E.In(ref(a), vs.toIndexedSeq.map(lit(a, _)))
      case sources.IsNull(a) => E.IsNull(ref(a))
      case sources.IsNotNull(a) => E.IsNotNull(ref(a))
      case sources.StringStartsWith(a, v) =>
        E.StartsWith(ref(a), Literal(UTF8String.fromString(v), StringType))
      case sources.StringEndsWith(a, v) =>
        E.EndsWith(ref(a), Literal(UTF8String.fromString(v), StringType))
      case sources.StringContains(a, v) =>
        E.Contains(ref(a), Literal(UTF8String.fromString(v), StringType))
      case sources.Not(c) => E.Not(toCatalyst(c, schema))
      case sources.And(l, r) => E.And(toCatalyst(l, schema), toCatalyst(r, schema))
      case sources.Or(l, r) => E.Or(toCatalyst(l, schema), toCatalyst(r, schema))
      case other =>
        throw new IllegalStateException(s"unevaluable tombstone filter: $other")
    }
  }

  /** External JVM literal -> Catalyst internal value of `dt` (decoded
    * values are the widest of their family; narrow to the column).
    */
  private def internal(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (n: Number, ByteType) => n.byteValue()
    case (n: Number, ShortType) => n.shortValue()
    case (n: Number, IntegerType) => n.intValue()
    case (n: Number, LongType) => n.longValue()
    case (n: Number, FloatType) => n.floatValue()
    case (n: Number, DoubleType) => n.doubleValue()
    case (s: String, StringType) => UTF8String.fromString(s)
    case (b: java.lang.Boolean, BooleanType) => b
    case (d: java.sql.Date, DateType) => d.toLocalDate.toEpochDay.toInt
    case (t: java.sql.Timestamp, TimestampType | TimestampNTZType) =>
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case (other, t) => throw new IllegalStateException(
      s"tombstone literal $other not convertible to ${t.simpleString}")
  }

  /** Keep-predicate: a row survives when NO tombstone predicate is
    * definitely true (null = unmatched = kept — SQL DELETE semantics).
    */
  /** Test hook: the scan path's keep predicate, for cross-checking
    * against the DataFrame dialect (Tombstones.keepColumn) in specs.
    */
  def keepExpressionForTest(filterJsons: Seq[String],
      schema: StructType): Expression = keepExpression(filterJsons, schema)

  private[graftbridge] def keepExpression(filterJsons: Seq[String],
      schema: StructType): Expression =
    filterJsons.map[Expression] { js =>
      val f = FilterJson.fromJson(Json.readAny(js).asInstanceOf[Map[String, Any]])
      Not(EqualNullSafe(toCatalyst(f, schema), Literal(true, BooleanType)))
    }.reduce(And(_, _))
}

/** A dirty-group split: the wrapped parquet partition plus the
  * serialized tombstone predicates its rows must be checked against.
  */
final case class TombstonePartition(inner: InputPartition, filters: Seq[String])
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Dispatches clean partitions to the columnar parquet factory and
  * dirty ones to a row-based filtered reader.
  */
final class TombstoneReaderFactory(
    cleanF: Option[PartitionReaderFactory],
    dirtyF: Option[PartitionReaderFactory],
    readSchema: StructType,
    expanded: StructType) extends PartitionReaderFactory {

  // Spark refuses to mix row and columnar partitions inside one scan
  // (DataSourceV2ScanExecBase.supportsColumnar) — while ANY tombstone
  // is live the whole scan reads row-based; compaction restores the
  // vectorized path
  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    throw new UnsupportedOperationException("tombstoned scans are row-based")

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case TombstonePartition(inner, filters) =>
        val raw = dirtyF.get.createReader(inner)
        val keep = Predicate.create(
          TombstoneReadBridge.keepExpression(filters, expanded))
        keep.initialize(0)
        val project: InternalRow => InternalRow =
          if (expanded.length == readSchema.length) identity
          else {
            val proj = UnsafeProjection.create(
              readSchema.fields.map { f =>
                val i = expanded.fieldIndex(f.name)
                BoundReference(i, expanded.fields(i).dataType,
                  expanded.fields(i).nullable): Expression
              }.toIndexedSeq)
            row => proj(row)
          }
        new PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (raw.next()) {
              val r = raw.get()
              if (keep.eval(r)) { cur = project(r); return true }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = raw.close()
        }
      case other => cleanF.get.createReader(other)
    }
}
