package graft.versioned

import org.apache.avro.Schema
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import IcebergImport.{Bound, Field}

/** Unit contract of [[IcebergImport.bind]], the one column binding of
  * foreign Iceberg files, over avro-, parquet- and ORC-shaped footers:
  * field-id-first, with the spec's name-mapping fallback restricted to
  * ID-LESS file columns. The killer case: an external table dropped
  * column `x` and re-added a new `x` (fresh field id — ids are never
  * reused). Old files carry a column NAMED `x` stamped with the RETIRED
  * id; the new id misses, and Iceberg semantics require NULLS for the
  * re-added column — binding the dead column's bytes by name would
  * resurrect deleted data.
  */
class AvroBinderSpec extends AnyFunSuite with Matchers {

  private def schema(json: String) = new Schema.Parser().parse(json)

  private def avro(json: String) =
    IcebergImport.avroFields(schema(json.stripMargin.replaceAll("\n", "")))

  private def table(cols: (String, Int)*) =
    cols.map { case (n, id) => Field(n, Some(id)) }

  /** The physical name each schema column binds to (None: absent). */
  private def names(b: Seq[Option[Bound]]) = b.map(_.map(_.name))

  test("id-bound fields bind by id; the name fallback fires ONLY for " +
    "id-less writer fields — a retired-id name match reads as absent " +
    "(null), not as the dead column's bytes") {
    val writer = avro(
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":["null","int"],"default":null,"field-id":1},
        |{"name":"x","type":["null","string"],"default":null,"field-id":2},
        |{"name":"y","type":["null","string"],"default":null}]}""")
    // table schema: id keeps id 1; x was dropped and re-added as id 7;
    // y never had an id in this file (late-added column — name mapping)
    names(IcebergImport.bind(table("id" -> 1, "x" -> 7, "y" -> 9),
      writer, "w")) shouldBe Seq(Some("id"), None, Some("y"))
  }

  test("renamed column still binds by id (the rename case the id-first " +
    "rule exists for)") {
    val writer = avro(
      """{"type":"record","name":"r","fields":[
        |{"name":"old_name","type":["null","int"],"default":null,"field-id":3}]}""")
    names(IcebergImport.bind(table("new_name" -> 3), writer, "w")) shouldBe
      Seq(Some("old_name"))
  }

  test("fully id-less writer schema binds every column by name") {
    val writer = avro(
      """{"type":"record","name":"r","fields":[
        |{"name":"a","type":"int"},{"name":"b","type":"string"}]}""")
    names(IcebergImport.bind(table("a" -> 1, "b" -> 2, "c" -> 3),
      writer, "w")) shouldBe Seq(Some("a"), Some("b"), None)
  }

  private def parquet(message: String) = IcebergImport.parquetFields(
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(message))

  private def orc(spec: String, ids: (String, Int)*) = {
    val t = org.apache.orc.TypeDescription.fromString(spec)
    ids.foreach { case (n, id) =>
      t.findSubtype(n).setAttribute("iceberg.id", id.toString) }
    IcebergImport.orcFields(t)
  }

  test("a retired id reads absent in parquet- and ORC-shaped footers; an " +
    "id-less column binds by name") {
    val p = parquet("""message m { optional int32 id = 1;
      |optional binary x (STRING) = 2; optional binary y (STRING); }"""
      .stripMargin)
    val o = orc("struct<id:int,x:string,y:string>", "id" -> 1, "x" -> 2)
    p shouldBe o
    Seq(p, o).foreach { file =>
      names(IcebergImport.bind(table("id" -> 1, "x" -> 7, "y" -> 9),
        file, "f")) shouldBe Seq(Some("id"), None, Some("y"))
    }
  }

  test("an id-less column binds by name ignoring case, the exact name " +
    "first (Spark's default resolver)") {
    names(IcebergImport.bind(table("id" -> 1, "v" -> 2), parquet(
      "message m { optional int32 ID; optional binary V (STRING); }"),
      "f")) shouldBe Seq(Some("ID"), Some("V"))
    names(IcebergImport.bind(table("v" -> 2), parquet(
      "message m { optional int32 V; optional int32 v; }"), "f")) shouldBe
      Seq(Some("v"))
  }

  test("a partially stamped footer binds its stamped columns by id only " +
    "and its id-less columns by name") {
    // `a` stamped 1 (renamed to `z` since); `b` id-less; `c` stamped 5,
    // which the schema's `c` (id 3) must not take by name
    val file = parquet("""message m { optional int32 a = 1;
      |optional int32 b; optional int32 c = 5; }""".stripMargin)
    names(IcebergImport.bind(table("z" -> 1, "b" -> 2, "c" -> 3), file,
      "f")) shouldBe Seq(Some("a"), Some("b"), None)
  }

  test("a field renamed inside a struct binds by id; a struct field the " +
    "file lacks is absent") {
    val schema = Seq(Field("s", Some(1), Seq(Field("a", Some(2)),
      Field("b", Some(3)), Field("new", Some(7)))))
    val expected = Seq(Some(Bound("s", Seq(Some(Bound("old_a", Nil)),
      Some(Bound("b", Nil)), None))))
    IcebergImport.bind(schema, parquet("""message m {
      |optional group s = 1 { optional int32 old_a = 2; optional int32 b = 3; }
      |}""".stripMargin), "f") shouldBe expected
    IcebergImport.bind(schema, orc("struct<s:struct<old_a:int,b:int>>",
      "s" -> 1, "s.old_a" -> 2, "s.b" -> 3), "f") shouldBe expected
  }

  test("two schema columns bound to one physical name (as Spark's " +
    "case-insensitive readers see it) refuse") {
    val file = parquet("""message m { optional int32 X = 1;
      |optional int32 x = 2; }""".stripMargin)
    val err = intercept[UnsupportedOperationException](
      IcebergImport.bind(table("a" -> 1, "b" -> 2), file, "f.parquet"))
    err.getMessage should include ("f.parquet")
  }
}
