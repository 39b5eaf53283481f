package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.versioned.GraftRepo

/** Synthetic lineitem/orders at sf0.1 shape, generated per order key from
  * the seed so executors and the model produce identical rows. */
object LineitemGen {
  val Orders = 15000L
  val Files = 32

  val liSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", LongType),
    StructField("l_extendedprice", DecimalType(12, 2)),
    StructField("l_shipdate", DateType), StructField("l_comment", StringType)))
  val liDdl = "l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, " +
    "l_suppkey BIGINT, l_quantity BIGINT, l_extendedprice DECIMAL(12,2), " +
    "l_shipdate DATE, l_comment STRING"
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderdate", DateType)))
  val ordersDdl = "o_orderkey BIGINT, o_custkey BIGINT, " +
    "o_totalprice DECIMAL(12,2), o_orderdate DATE"

  /** Row checksum, written identically in SQL and in the model. */
  val chkSql = "l_orderkey * 31 + l_linenumber * 17 + l_partkey * 7 + l_suppkey * 3 + l_quantity"
  private val words = Array("carefully", "final", "deposits", "quickly",
    "ironic", "requests", "regular", "accounts", "furiously", "pending",
    "express", "packages", "blithely", "special", "theodolites", "even")

  def lineitem(ok: Long, seed: Long): Seq[Row] = {
    val r = new java.util.SplittableRandom(Env.mix(seed, ok))
    val lines = 1 + r.nextInt(7)
    (1 to lines).map { ln =>
      val part = 1L + r.nextInt(20000)
      val qty = 1L + r.nextInt(50)
      val price = java.math.BigDecimal.valueOf(qty * (90000 + part % 10000), 2)
      val ship = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(8036L + r.nextInt(2500)))
      val comment = Seq.fill(2 + r.nextInt(4))(words(r.nextInt(words.length))).mkString(" ")
      Row(ok, ln, part, 1L + r.nextInt(1000), qty, price, ship, comment)
    }
  }

  def order(ok: Long, seed: Long): Row = {
    val r = new java.util.SplittableRandom(Env.mix(seed ^ 0x5DEECE66DL, ok))
    Row(ok, 1L + r.nextInt(15000),
      java.math.BigDecimal.valueOf(100000L + r.nextInt(50000000), 2),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(8036L + r.nextInt(2400))))
  }

  def chk(r: Row): Long =
    r.getLong(0) * 31 + r.getInt(1) * 17L + r.getLong(2) * 7 + r.getLong(3) * 3 + r.getLong(4)

  def sqlValues(rows: Seq[Row]): String = rows.map { r =>
    s"(${r.getLong(0)}, ${r.getInt(1)}, ${r.getLong(2)}, ${r.getLong(3)}, " +
      s"${r.getLong(4)}, ${r.getDecimal(5)}, DATE '${r.getDate(6)}', '${r.getString(7)}')"
  }.mkString(", ")
}

/** The reference's branch → DML → commit → merge cycle on a 600k-row
  * lineitem (32 range-clustered files), one client. Three flows in four
  * delete a key on the branch while main appends to `orders` (a 3-way
  * table merge); the fourth inserts into `li` on both sides (the
  * row-level append-union merge). */
final class RefFlow(env: Env) extends Workload {
  import LineitemGen._

  val clients = 1
  val tracedOps = 4
  val warmupOps = 2
  val warmSetups = 2

  private var cat = ""
  private var root: Path = _
  private var repo: GraftRepo = _
  // model: order key -> (rows, checksum) of main's li; orders row count
  private val model = mutable.LongMap.empty[(Int, Long)]
  private var ordersRows = 0L
  private var nextKey = 0L
  private var liFiles = 0

  def repoRoot: Path = root.resolve("r")

  def setup(dir: Path, rep: Int): Unit = {
    cat = s"g$rep"
    root = dir.resolve("warehouse")
    env.registerCatalog(cat, root)
    env.sql(s"CREATE NAMESPACE $cat.r")
    env.sql(s"CREATE NAMESPACE $cat.r.main.db")
    env.sql(s"CREATE TABLE $cat.r.main.db.li ($liDdl)")
    env.sql(s"CREATE TABLE $cat.r.main.db.orders ($ordersDdl)")
    val seed = env.seed
    val sc = env.spark.sparkContext
    env.spark.createDataFrame(
      sc.range(1L, Orders + 1, 1L, 8).flatMap(ok => lineitem(ok, seed)), liSchema)
      .repartitionByRange(Files, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .writeTo(s"$cat.r.main.db.li").append()
    env.spark.createDataFrame(
      sc.range(1L, Orders + 1, 1L, 8).map(ok => order(ok, seed)), ordersSchema)
      .writeTo(s"$cat.r.main.db.orders").append()
    repo = GraftRepo.open(repoRoot, env.io)
    liFiles = repo.snapshot(repo.headCommit("main").tables("db/li")).files.size
    require(liFiles >= Files, s"li was written as $liFiles files, expected >= $Files")
    model.clear()
    var ok = 1L
    while (ok <= Orders) {
      val rs = lineitem(ok, seed)
      model(ok) = (rs.size, rs.map(chk).sum)
      ok += 1
    }
    ordersRows = Orders
    nextKey = 10000000L
  }

  private def totals: (Long, Long) =
    model.valuesIterator.foldLeft((0L, 0L)) { case ((n, s), (c, k)) => (n + c, s + k) }

  private def countChk(table: String): (Long, Long) = {
    val r = env.rows(s"SELECT count(*), coalesce(sum($chkSql), 0) FROM $table").head
    (r.getLong(0), r.getLong(1))
  }

  def op(client: Int, n: Int): () => Option[String] = {
    val rng = env.rng(1000L + n)
    val union = n % 4 == 3
    val b = s"b$n"
    val main = s"$cat.r.main.db"
    val br = s"$cat.r.$b.db"
    val spans = env.spans
    spans.time("branch")(env.sql(s"CREATE NAMESPACE $cat.r.$b"))
    // a live key of main's li to delete on the branch
    val del =
      if (union) None
      else Some(Iterator.continually(1L + rng.nextInt(Orders.toInt))
        .find(model.contains).get)
    del.foreach(k => spans.time("delete")(env.sql(s"DELETE FROM $br.li WHERE l_orderkey = $k")))
    val newKey = nextKey; nextKey += 1
    val newRows = lineitem(newKey, env.seed + n)
    spans.time("insert")(env.sql(s"INSERT INTO $br.li VALUES ${sqlValues(newRows)}"))
    val probe = (del.toSeq :+ newKey).mkString(", ")
    val read = spans.time("read")(env.rows(
      s"SELECT l_orderkey, count(*), sum($chkSql) FROM $br.li " +
        s"WHERE l_orderkey IN ($probe) GROUP BY l_orderkey"))
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // main moves too: an orders append, or (union flows) an li append
    val mainKey = nextKey; nextKey += 1
    val mainRows = lineitem(mainKey, env.seed + n + 7919)
    spans.time("main_insert") {
      if (union) env.sql(s"INSERT INTO $main.li VALUES ${sqlValues(mainRows)}")
      else {
        val o = order(mainKey, env.seed)
        env.sql(s"INSERT INTO $main.orders VALUES (${o.getLong(0)}, " +
          s"${o.getLong(1)}, ${o.getDecimal(2)}, DATE '${o.getDate(3)}')")
      }
    }
    val preMerge = repo.head("main")._2
    spans.time("merge")(repo.merge(b, "main"))
    val travel = spans.time("time_travel")(env.rows(
      s"SELECT count(*) FROM $main.li VERSION AS OF '$preMerge'").head.getLong(0))
    val (mainLi, branchLi, mainOrders) = spans.time("equality") {
      (countChk(s"$main.li"), countChk(s"$br.li"),
        env.rows(s"SELECT count(*) FROM $main.orders").head.getLong(0))
    }
    spans.time("drop")(env.sql(s"DROP NAMESPACE $cat.r.$b CASCADE"))

    () => {
      val errs = mutable.ArrayBuffer.empty[String]
      val (before, _) = totals
      val newStat = (newRows.size.toLong, newRows.map(chk).sum)
      if (read.get(newKey) != Some(newStat))
        errs += s"branch read of inserted key $newKey: ${read.get(newKey)} != $newStat"
      del.foreach(k => if (read.contains(k)) errs += s"deleted key $k still on branch")
      // pre-merge main: the model before this op plus main's own append
      val expectTravel = before + (if (union) mainRows.size else 0)
      if (travel != expectTravel) errs += s"time travel count $travel != $expectTravel"
      del.foreach(model.remove)
      model(newKey) = (newRows.size, newRows.map(chk).sum)
      val branchModel = totals
      if (union) model(mainKey) = (mainRows.size, mainRows.map(chk).sum)
      else ordersRows += 1
      val mainModel = totals
      if (mainLi != mainModel) errs += s"main li $mainLi != model $mainModel"
      if (branchLi != branchModel) errs += s"branch li $branchLi != model $branchModel"
      if (!union && mainLi != branchLi) errs += s"main li $mainLi != branch li $branchLi"
      if (mainOrders != ordersRows) errs += s"main orders $mainOrders != model $ordersRows"
      errs.headOption.map(_ => errs.mkString("; "))
    }
  }

  def finalCheck(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val li = countChk(s"$cat.r.main.db.li")
    if (li != totals) errs += s"final main li $li != model $totals"
    val branches = repo.branches
    if (branches != Seq("main")) errs += s"branches left behind: ${branches.mkString(",")}"
    errs.toSeq
  }

  def describe: Map[String, Any] = Map(
    "clients" -> clients, "li_rows" -> totals._1, "li_files" -> liFiles,
    "orders_rows" -> ordersRows,
    "flows" -> "3 of 4: delete+insert on branch, orders append on main (3-way table merge); 1 of 4: li insert on both sides (append-union merge)")

  def layerMetrics(spans: Map[String, (Long, Int)]): Map[String, Double] = {
    def m(s: String) = Workload.meanMs(spans, s)
    Map("repo.merge_ms" -> m("merge"),
      "catalog.branch_ms" -> m("branch"), "catalog.delete_ms" -> m("delete"),
      "catalog.insert_ms" -> m("insert"), "catalog.read_ms" -> m("read"),
      "catalog.drop_ms" -> m("drop"))
  }
}
