package graft.versioned

import java.nio.file.Path
import java.util.Base64

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file bloom filters for point-lookup file pruning.
  *
  * Min/max stats only prune when data is CLUSTERED by the filter column;
  * an equality lookup on a high-cardinality, unsorted column (`WHERE
  * user_id = 123` on a time-partitioned 100 TB table) matches every
  * file's [min, max] and scans everything. A per-file bloom filter over
  * the column's xxhash64 values answers "provably absent" per file and
  * turns that scan into a handful of files — the role Iceberg fills
  * with parquet bloom filters + puffin sidecars.
  *
  * Design:
  *  - Opt-in via table property `graft.bloom.columns = c1,c2` (logical
  *    names; resolved to physical at write). `graft.bloom.items` sizes
  *    the filter (expected distinct items per file, default 100k,
  *    16 bits/item ⇒ ~0.5% false-positive rate at capacity).
  *  - Built in the one stats scan a bloom table's write runs
  *    ([[TableOps.statsForFiles]]: one `BloomFilterAggregate(xxhash64(col))`
  *    per column, grouped by file, beside min/max/nulls/NDV).
  *  - Stored as SIDECAR files (`<datafile>.bloom`, JSON col→base64),
  *    NOT in the snapshot: at 10k files × 200 KB a bloom-in-manifest
  *    design would bloat every snapshot read to gigabytes; sidecars
  *    load lazily, only for files that survived partition + min/max
  *    pruning under an equality filter, and cache on the driver.
  *    `FileEntry.bloomCols` advertises which sidecars exist, so
  *    planning never probes the filesystem for absent ones.
  *  - Pruning is sound for POSITIVE equality contexts only (EqualTo /
  *    In / EqualNullSafe, composed through And/Or). Everything else —
  *    negations, ranges, null checks — reports "may match".
  */
object Blooms {

  /** Table property: comma-separated logical column names. */
  val ColumnsProp = "graft.bloom.columns"
  /** Table property: expected distinct items per file (filter sizing). */
  val ItemsProp = "graft.bloom.items"
  val DefaultItems = 100000L

  /** Bloom-eligible types: exact-equality atoms with a stable xxhash64.
    * (Float/double equality pruning is a footgun — 0.0 vs -0.0 hash
    * differently but compare equal — so they are excluded.)
    */
  def eligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         DateType | BooleanType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** PHYSICAL names of the table's bloom columns present in `physSchema`. */
  def physCols(snap: Snapshot, physSchema: StructType): Seq[String] =
    physColsFromProps(snap.properties, physSchema, snap.physicalName)

  /** Same, from raw table properties — the CTAS path, where no snapshot
    * exists yet (logical = physical names there).
    */
  def physColsFromProps(props: Map[String, String], physSchema: StructType,
      physicalName: String => String = identity): Seq[String] =
    props.get(ColumnsProp).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      .map(physicalName)
      .filter(p => physSchema.fields.exists(f =>
        f.name == p && eligible(f.dataType)))

  def items(snap: Snapshot): Long = itemsFromProps(snap.properties)

  def itemsFromProps(props: Map[String, String]): Long =
    props.get(ItemsProp).flatMap(_.toLongOption)
      .filter(_ > 0).getOrElse(DefaultItems)

  /** Hash input type: integrals NORMALIZE to LONG before xxhash64 —
    * xxhash64 hashes int (4-byte path) and long (8-byte path)
    * differently, so without this, metadata-only int→long widening
    * would silently invalidate every existing bloom and equality probes
    * on widened columns would wrongly prune live rows (the same
    * width-normalization rule the bucket transform applies).
    */
  private def hashType(dt: DataType): DataType = dt match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case other => other
  }

  /** Aggregate column building one serialized bloom over
    * `xxhash64(physCol)` (null inputs are skipped by the aggregate —
    * bloom pruning never answers null-semantics questions anyway).
    */
  def aggColumn(physCol: String, dt: DataType, expectedItems: Long): Column = {
    val src = Bridge.expression(org.apache.spark.sql.functions.col(physCol))
    val child = new XxHash64(Seq(
      if (hashType(dt) == dt) src else Cast(src, hashType(dt), Some("UTC"))))
    Bridge.column(new BloomFilterAggregate(child,
      Literal(expectedItems), Literal(expectedItems * 16L))
      .toAggregateExpression())
  }

  /** xxhash64 of a v1-filter literal AS the column's normalized hash
    * type — bit-identical to what the write side hashed. None = the
    * literal cannot be represented exactly in that type (then bloom
    * pruning must not answer; e.g. a fractional literal probed against
    * an integral column).
    */
  def literalHash(v: Any, dt: DataType): Option[Long] =
    scala.util.Try {
      val target = hashType(dt)
      val raw = Literal.create(v)
      val typed: Expression =
        if (raw.dataType == target) raw
        else {
          val c = Cast(raw, target, Some("UTC"))
          val back = Cast(Literal.create(c.eval(null), target), raw.dataType,
            Some("UTC"))
          // round-trip check: a lossy cast (5.7 → 5) must NOT prune
          if (back.eval(null) != raw.value) return None
          Literal.create(c.eval(null), target)
        }
      if (typed.eval(null) == null) return None
      new XxHash64(Seq(typed)).eval(null).asInstanceOf[Long]
    }.toOption

  // ---- sidecar IO ------------------------------------------------------

  def sidecar(dataFileRel: String): String = dataFileRel + ".bloom"

  def write(data: DestIO, dataFileRel: String,
      blooms: Map[String, Array[Byte]]): Unit =
    // overwrite-allowed: the sidecar is keyed by its immutable data file,
    // so a re-write (stats rebuild) carries identical content
    data.writeString(sidecar(dataFileRel), Json.write(
      blooms.map { case (c, b) => c -> Base64.getEncoder.encodeToString(b) }))

  /** Driver-side LRU of parsed sidecars (sidecars are immutable — named
    * after immutable data files — so cache entries never invalidate).
    */
  private val cacheMax = 4096
  private val cache =
    new java.util.LinkedHashMap[String, Map[String, BloomFilter]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, BloomFilter]]): Boolean =
        size() > cacheMax
    }

  /** Parsed blooms of a file, or empty when the sidecar is missing /
    * unreadable (pruning degrades to "keep the file" — a lost sidecar
    * can cost speed, never rows).
    */
  def load(data: DestIO, f: FileEntry): Map[String, BloomFilter] = {
    val p = data.hadoopLocation(sidecar(f.path))
    cache.synchronized { Option(cache.get(p)) } match {
      case Some(m) => m
      case None =>
        val m = scala.util.Try {
          Json.readAny(new String(data.readBytes(sidecar(f.path)), "UTF-8"))
            .asInstanceOf[Map[String, Any]]
            .map { case (c, b64) =>
              c -> BloomFilter.readFrom(
                Base64.getDecoder.decode(b64.asInstanceOf[String]))
            }
        }.getOrElse(Map.empty[String, BloomFilter])
        cache.synchronized { cache.put(p, m) }
        m
    }
  }

  // ---- pruning ---------------------------------------------------------

  /** Can `f` hold a row matching `physFilter`? Sound in positive
    * polarity only: EqualTo/In/EqualNullSafe answer from the bloom,
    * And/Or compose, anything else (ranges, Not, null checks) is "maybe".
    * `blooms` is by-name so the sidecar is read only when an equality
    * atom actually probes it.
    */
  def mayMatch(physSchema: StructType, physFilter: sources.Filter,
      blooms: () => Map[String, BloomFilter]): Boolean = {
    def probe(c: String, v: Any): Boolean = {
      if (v == null) return true
      val dt = physSchema.fields.find(_.name == c).map(_.dataType)
        .getOrElse(return true)
      blooms().get(c) match {
        case None => true
        case Some(b) =>
          literalHash(v, dt).forall(b.mightContainLong)
      }
    }
    physFilter match {
      case sources.EqualTo(c, v) => probe(c, v)
      case sources.EqualNullSafe(c, v) => probe(c, v)
      case sources.In(c, vs) => vs.isEmpty || vs.exists(v => probe(c, v))
      case sources.And(l, r) =>
        mayMatch(physSchema, l, blooms) && mayMatch(physSchema, r, blooms)
      case sources.Or(l, r) =>
        mayMatch(physSchema, l, blooms) || mayMatch(physSchema, r, blooms)
      case _ => true
    }
  }

  /** Drop files whose blooms prove no row matches `filters` (logical
    * names; translated physically here). Applied AFTER partition +
    * min/max pruning, so sidecar loads touch only surviving candidates.
    */
  def prune(data: DestIO, snap: Snapshot, schema: StructType,
      filters: Seq[sources.Filter], files: Seq[FileEntry]): Seq[FileEntry] = {
    if (filters.isEmpty) return files
    val m = snap.nameMapping
    val physSchema = TableOps.toPhysical(schema, m)
    val phys = filters.map(TableOps.renameFilter(_, m))
    // fast path: no equality atom over a bloom-advertised column
    val bloomed = files.exists(_.bloomColsList.nonEmpty)
    if (!bloomed) return files
    files.filter { f =>
      val advertised = f.bloomColsList.toSet
      if (advertised.isEmpty) true
      else {
        lazy val loaded = load(data, f)
        phys.forall(pf => mayMatch(physSchema, pf, () => loaded))
      }
    }
  }
}
