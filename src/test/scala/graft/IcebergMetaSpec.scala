package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

import graft.versioned.{DestIO, GraftRepo, IcebergExport, IcebergImport,
  IcebergMeta, NioDestIO}

/** The one Iceberg metadata codec ([[IcebergMeta]]): exporter output and
  * the frozen golden fixtures survive parse → render → parse unchanged
  * (and exporter output re-renders byte for byte), foreign parts no
  * reader uses parse leniently, a renamed partition source exports with
  * its column's id, and export expiry —
  * which walks its kept versions through the shared manifest decoder —
  * never deletes a live file after a failed read and handles v3
  * deletion-vector exports.
  */
class IcebergMetaSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.g", classOf[graft.catalog.GraftCatalog].getName)
    .config("spark.sql.catalog.g.root",
      Files.createTempDirectory("graft-ice-meta").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sql(q: String) = spark.sql(q)

  private def repoOf(ns: String): GraftRepo = GraftRepo.open(
    Paths.get(spark.conf.get("spark.sql.catalog.g.root"), ns))

  private def metaFile(dest: Path): Path =
    Paths.get(IcebergImport.resolveMetadataLoc(dest.toString))

  /** parse(render(m)) == m for the model `m` of `file`. */
  private def roundTrips(file: Path): IcebergMeta.Table = {
    val m = IcebergMeta.parse(Files.readString(file))
    IcebergMeta.parse(IcebergMeta.render(m)) shouldBe m
    m
  }

  private def table(ns: String, props: String = "",
      partitioned: Boolean = false): String = {
    sql(s"CREATE NAMESPACE g.$ns")
    sql(s"CREATE NAMESPACE g.$ns.main.db")
    sql(s"CREATE TABLE g.$ns.main.db.t (id INT, cat STRING, v DOUBLE)" +
      (if (partitioned) " PARTITIONED BY (cat)" else "") +
      (if (props.isEmpty) "" else s" TBLPROPERTIES ($props)"))
    insert(ns, 0, 20)
    s"g.$ns.main.db.t"
  }

  private def insert(ns: String, from: Int, until: Int): Unit =
    sql(s"INSERT INTO g.$ns.main.db.t SELECT CAST(id AS INT), " +
      "CASE id % 3 WHEN 0 THEN 'x' WHEN 1 THEN 'y' ELSE 'z' END, " +
      s"CAST(id AS DOUBLE) FROM range($from, $until)")

  private def export(ns: String, args: String = ""): Path = {
    val dest = Files.createTempDirectory(s"ice-meta-$ns")
    sql(s"CALL g.system.iceberg_export('$ns', 'main', 'db.t', '$dest'$args)")
    dest
  }

  private val mor = "'graft.delete.mode'='merge-on-read'"

  test("exporter output round-trips through the codec: parse(render(m)) " +
    "== m and the file re-renders byte for byte (v1, v2 with deletes, v3 " +
    "with deletion vectors, partitioned, 5-snapshot history with tags)") {
    table("rtv1")
    val v1 = export("rtv1")

    val t2 = table("rtv2", mor)
    sql(s"DELETE FROM $t2 WHERE id >= 17") // positional
    sql(s"DELETE FROM $t2 WHERE id = 3") // equality
    val v2 = export("rtv2")

    val t3 = table("rtv3", mor, partitioned = true)
    sql(s"DELETE FROM $t3 WHERE id >= 17")
    val v3 = export("rtv3", ", format_version => 3")

    table("rtp", partitioned = true)
    val part = export("rtp")

    table("rth")
    val repo = repoOf("rth")
    (1 to 4).foreach { i =>
      insert("rth", i * 20, i * 20 + 5)
      if (i % 2 == 0) repo.createTag(s"tag$i", "main")
    }
    val hist = export("rth", ", 5")

    val models = Seq(v1, v2, v3, part, hist).map { d =>
      val f = metaFile(d)
      val m = roundTrips(f)
      IcebergMeta.render(m) shouldBe Files.readString(f)
      m
    }
    models.map(_.formatVersion) shouldBe Seq(1, 2, 3, 1, 1)
    models(1).snapshots.head.operation shouldBe Some("overwrite")
    models(2).nextRowId should not be empty
    models(3).specs.head.fields.map(_.transform) shouldBe Seq("identity")
    models(4).snapshots.size shouldBe 5
    models(4).snapshotLog.map(_._2) shouldBe models(4).snapshots.map(_.id)
    models(4).refs.keys.toSeq shouldBe Seq("main", "tag2", "tag4")
    models(4).refs.values.tail.map(_.kind).toSet shouldBe Set("tag")
  }

  test("the golden fixtures' metadata round-trips through the codec") {
    Seq("iceberg-golden", "iceberg-golden-v3").foreach { fixture =>
      val f = Paths.get(s"src/test/resources/$fixture/export/metadata/" +
        "v1.metadata.json")
      assume(Files.isRegularFile(f), s"fixture missing at $f")
      val m = roundTrips(f)
      m.currentSnapshotId should not be empty
      m.snapshot(m.currentSnapshotId.get).manifestList should endWith(".avro")
    }
  }

  test("a partitioned table whose partition source was renamed exports " +
    "with the source's column id and imports its rows") {
    sql("CREATE NAMESPACE g.rename")
    sql("CREATE NAMESPACE g.rename.main.db")
    sql("CREATE TABLE g.rename.main.db.t (id INT, region STRING) " +
      "PARTITIONED BY (region)")
    sql("INSERT INTO g.rename.main.db.t VALUES (1, 'a'), (3, NULL)")
    sql("ALTER TABLE g.rename.main.db.t RENAME COLUMN region TO zone")
    sql("INSERT INTO g.rename.main.db.t VALUES (2, 'b')")
    val dest = export("rename")
    val m = roundTrips(metaFile(dest))
    val spec = m.specs.find(_.id == m.defaultSpecId).get
    spec.fields.map(f => (f.transform, f.sourceId, f.fieldId)) shouldBe
      Seq(("identity", Some(2), 1000))
    m.currentSchema.fields.get(1).get("id").asInt() shouldBe 2
    IcebergImport.plan(metaFile(dest)).dataFiles.map(_.partition.size)
      .toSet shouldBe Set(1)
    IcebergImport.read(spark, dest).orderBy("id").collect().toSeq
      .map(r => (r.getInt(0), Option(r.getString(1)))) shouldBe
      Seq((1, Some("a")), (2, Some("b")), (3, None))
  }

  test("parse tolerates parts no reader uses: a v1 document whose older " +
    "snapshot lists inline manifests and whose spec names source-ids " +
    "still plans its current snapshot") {
    table("lenient", partitioned = true)
    insert("lenient", 20, 25)
    val dest = export("lenient", ", 2")
    val f = metaFile(dest)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = mapper.readTree(Files.readString(f))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    doc.get("format-version").asInt() shouldBe 1
    val older = doc.get("snapshots").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    older.remove("manifest-list")
    older.putArray("manifests").add("metadata/inline-manifest.avro")
    older.remove("summary")
    Seq(doc.get("partition-spec").get(0),
      doc.get("partition-specs").get(0).get("fields").get(0)).foreach { pf =>
      val o = pf.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      o.putArray("source-ids").add(o.remove("source-id").asInt())
    }
    Files.writeString(f, mapper.writeValueAsString(doc))

    val m = IcebergMeta.parse(Files.readString(f))
    m.snapshots.head.manifestListAt shouldBe None
    m.specs.head.fields.map(_.sourceId) shouldBe Seq(None)
    val e = intercept[IllegalArgumentException](
      IcebergImport.plan(f, Some(m.snapshots.head.id)))
    e.getMessage should include("carries no manifest-list")
    IcebergImport.plan(f).dataFiles should not be empty
    IcebergImport.read(spark, dest).count() shouldBe 25
  }

  /** A dest that delegates to `inner` but fails the first read of
    * `failOnce` with an IOException (a transient store error). */
  private final class FlakyDest(inner: DestIO, failOnce: String)
      extends DestIO {
    var failed = false
    def uriOf(rel: String): String = inner.uriOf(rel)
    def relOf(uri: String): Option[String] = inner.relOf(uri)
    def displayPath(rel: String): String = inner.displayPath(rel)
    def mkdirs(rel: String): Unit = inner.mkdirs(rel)
    def isFile(rel: String): Boolean = inner.isFile(rel)
    def isDirectory(rel: String): Boolean = inner.isDirectory(rel)
    def readString(rel: String): String = inner.readString(rel)
    def readBytes(rel: String): Array[Byte] = {
      if (rel == failOnce && !failed) {
        failed = true
        throw new java.io.IOException(s"transient read failure: $rel")
      }
      inner.readBytes(rel)
    }
    def writeString(rel: String, content: String): Unit =
      inner.writeString(rel, content)
    def writeAtomic(rel: String, bytes: Array[Byte]): Unit =
      inner.writeAtomic(rel, bytes)
    def uploadAtomic(local: Path, rel: String): Unit =
      inner.uploadAtomic(local, rel)
    def listNames(rel: String): Seq[String] = inner.listNames(rel)
    def walkFiles(rel: String): Seq[String] = inner.walkFiles(rel)
    def walkDirs(rel: String): Seq[String] = inner.walkDirs(rel)
    def size(rel: String): Long = inner.size(rel)
    def mtimeMs(rel: String): Long = inner.mtimeMs(rel)
    def delete(rel: String): Boolean = inner.delete(rel)
    def hadoopLocation(rel: String): String = inner.hadoopLocation(rel)
  }

  private def filesUnder(dest: Path): Set[String] =
    scala.util.Using.resource(Files.walk(dest))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(dest.relativize(_).toString).toSet)

  test("expireDest deletes nothing when a kept version's manifest list " +
    "fails to read, and the export still imports") {
    val t = table("expflaky", mor)
    val dest = export("expflaky", ", sync => true")
    insert("expflaky", 20, 30)
    sql(s"DELETE FROM $t WHERE id >= 28")
    IcebergImport.resolveMetadataLoc(dest.toString) should endWith(
      "v3.metadata.json")
    val inner = new NioDestIO(dest)
    val kept = IcebergMeta.parse(Files.readString(metaFile(dest)))
    val keptList = inner.relOf(kept.snapshots.head.manifestList).get
    val before = filesUnder(dest)
    val flaky = new FlakyDest(inner, keptList)
    intercept[java.io.IOException](
      IcebergExport.expireDest(flaky, 1, 0L))
    flaky.failed shouldBe true
    filesUnder(dest) shouldBe before
    IcebergImport.read(spark, dest).count() shouldBe 28
  }

  test("expire over a v3 export keeps the Puffin file the kept version " +
    "references and deletes the superseded one") {
    val t = table("expv3", mor)
    val dest = export("expv3", ", sync => true, format_version => 3")
    sql(s"DELETE FROM $t WHERE id >= 18")
    sql(s"DELETE FROM $t WHERE id < 2")
    def puffins(): Set[String] = filesUnder(dest).filter(_.endsWith(".puffin"))
    val all = puffins()
    all.size shouldBe 2
    val kept = IcebergImport.plan(metaFile(dest))
    val keptPuffins = kept.deleteFiles.filter(_.format == "PUFFIN")
      .map(d => dest.relativize(Paths.get(d.path)).toString).toSet
    keptPuffins.size shouldBe 1
    sql(s"CALL g.system.iceberg_export_expire('$dest', 1, " +
      "older_than_ms => 0)")
    puffins() shouldBe keptPuffins
    IcebergImport.read(spark, dest).orderBy("id").collect().toSeq shouldBe
      sql(s"SELECT * FROM $t ORDER BY id").collect().toSeq
  }
}
