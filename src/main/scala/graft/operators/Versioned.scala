package graft.operators

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables => T}
import graft.versioned.{GraftRepo, TableOps}

/** Versioned-catalog operators (SURVEY.md §2.1), driver-facing: each query
  * builds a throwaway graft repo from the testdata `nation` table, runs the
  * git-like flow the reference's tests exercise (branch → DML → merge /
  * diff / time-travel; tests/test_iceberg.py:9-57), and returns the
  * resulting rows — which are SQL-expressible against the original parquet,
  * so every one of these is DuckDB-oracle-checked.
  */
object Versioned {

  /** Fresh repo + registered catalog per invocation (unique name, so the
    * session's catalog cache can never serve a stale root).
    */
  private def freshCatalog(s: SparkSession): (String, java.nio.file.Path) = {
    val cat = "gvc" + UUID.randomUUID().toString.replace("-", "").take(10)
    val root = GateScratch.register(Files.createTempDirectory(s"graft-$cat"))
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    (cat, root)
  }

  /** repo `r` with db.nation loaded from `d` on main, dev branched off.
    *
    * The shared base fixture is built ONCE per (JVM, data dir) with
    * Spark jobs, then every invocation byte-copies the template to a
    * fresh root (metadata JSONs + a few KB of parquet; FileEntry paths
    * are repo-root-RELATIVE, so a copied repo is self-contained).
    * Queries mutate only their own copy — isolation is unchanged — but
    * the 20 vc_* queries stop paying a CREATE TABLE + write job each
    * just to arrive at the same starting state (~0.3 s of fixed
    * per-query bench cost each).
    */
  private val templates =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    scala.util.Using.resource(Files.walk(from))(_.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    })

  private def setup(s: SparkSession, d: String): (String, GraftRepo) = {
    val tpl = templates.computeIfAbsent(d, _ => {
      val (cat, root) = freshCatalog(s)
      val nation = T.nation(s, d)
      s.sql(s"CREATE NAMESPACE $cat.r")
      s.sql(s"CREATE NAMESPACE $cat.r.main.db")
      s.sql(s"CREATE TABLE $cat.r.main.db.nation (${nation.schema.toDDL})")
      nation.writeTo(s"$cat.r.main.db.nation").append()
      s.sql(s"CREATE NAMESPACE $cat.r.dev") // zero-copy branch from main
      root
    })
    val (cat, root) = freshCatalog(s)
    copyTree(tpl, root)
    (cat, GraftRepo.open(root.resolve("r")))
  }

  /** Create + insert on main, branch dev, read through the DEV branch via
    * SQL — zero-copy equality with the source table.
    */
  private def readBranch(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"SELECT * FROM $cat.r.dev.db.nation ORDER BY n_nationkey")
  }

  /** DELETE on dev (stats-pruned CoW), then row-level diff main↔dev. */
  private def diffRows(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    s.sql(s"DELETE FROM $cat.r.dev.db.nation WHERE n_nationkey > 19")
    TableOps.diffRows(s, repo, "main", "dev", "db/nation")
      .select(col("n_nationkey"), col("n_name"), col("side"))
      .orderBy(col("n_nationkey"))
  }

  /** DELETE on main, then read the pre-delete commit via VERSION AS OF. */
  private def timeTravel(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val preDelete = repo.headCommit("main").id
    s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey <= 9")
    s.sql(
      s"SELECT * FROM $cat.r.main.db.nation VERSION AS OF '$preDelete' " +
        "ORDER BY n_nationkey")
  }

  /** DELETE + INSERT on dev, 3-way merge into main, read main — mirrors
    * test_multiple_changes_and_merge.
    */
  private def mergeRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    s.sql(s"DELETE FROM $cat.r.dev.db.nation WHERE n_nationkey IN (3, 7)")
    s.sql(s"INSERT INTO $cat.r.dev.db.nation " +
      s"SELECT n_nationkey + 100, n_name, n_regionkey " +
      s"FROM $cat.r.dev.db.nation WHERE n_nationkey < 2")
    repo.merge("dev", "main")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey FROM $cat.r.main.db.nation " +
      "ORDER BY n_nationkey")
  }

  /** Literal SQL UPDATE on the dev branch (modulo predicate: the
    * metadata path can't translate it, so this exercises the full
    * group-based copy-on-write row-level rewrite), then read dev.
    */
  private def updateRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"UPDATE $cat.r.dev.db.nation " +
      "SET n_name = concat(n_name, '_X'), n_regionkey = n_regionkey + 10 " +
      "WHERE n_nationkey % 2 = 0")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey FROM $cat.r.dev.db.nation " +
      "ORDER BY n_nationkey")
  }

  /** Literal SQL MERGE INTO on the dev branch: matched keys update,
    * unmatched keys insert (both clauses exercised), then read dev.
    */
  private def mergeInto(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(
      s"""MERGE INTO $cat.r.dev.db.nation t
         |USING (
         |  SELECT n_nationkey, concat(n_name, '_M') AS n_name, n_regionkey
         |  FROM $cat.r.main.db.nation WHERE n_nationkey < 5
         |  UNION ALL
         |  SELECT n_nationkey + 1000, n_name, n_regionkey
         |  FROM $cat.r.main.db.nation WHERE n_nationkey < 3
         |) s
         |ON t.n_nationkey = s.n_nationkey
         |WHEN MATCHED THEN UPDATE SET n_name = s.n_name
         |WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
         |  VALUES (s.n_nationkey, s.n_name, s.n_regionkey)""".stripMargin)
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey FROM $cat.r.dev.db.nation " +
      "ORDER BY n_nationkey")
  }

  /** CDC change feed: CoW DELETE + INSERT on main, then the NET row
    * changes between the pre-DML commit and head. The CoW delete
    * rewrites a whole file, but only the two deleted rows surface as
    * changes — the rewrite's 23 surviving rows appear on both sides of
    * the file diff and cancel (TableOps.changesBetween's exceptAll).
    */
  private def changesRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val pre = repo.headCommit("main").id
    s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey IN (3, 7)")
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 1000, n_name, n_regionkey " +
      s"FROM $cat.r.dev.db.nation WHERE n_nationkey < 2")
    TableOps.changesBetween(s, repo, pre, "main", "db/nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col("_change_type"))
      .orderBy(col("_change_type"), col("n_nationkey"))
  }

  /** Multi-table ATOMIC append: nation and region rows land in ONE
    * commit; the read joins both tables from that single published
    * state (no partial cross-table visibility ever existed).
    */
  private def txnRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val region = T.region(s, d)
    s.sql(s"CREATE TABLE $cat.r.main.db.region (${region.schema.toDDL})")
    region.writeTo(s"$cat.r.main.db.region").append()
    val pre = s.sql(s"SELECT count(*) FROM $cat.r.main.db.nation.history").head().getLong(0)
    TableOps.atomicAppend(s, repo, "main", Seq(
      "db/nation" -> s.sql(
        s"SELECT n_nationkey + 500 AS n_nationkey, n_name, n_regionkey " +
          s"FROM $cat.r.main.db.nation WHERE n_nationkey < 3"),
      "db/region" -> s.sql(
        s"SELECT r_regionkey + 500 AS r_regionkey, r_name " +
          s"FROM $cat.r.main.db.region WHERE r_regionkey < 2")))
    val post = s.sql(s"SELECT count(*) FROM $cat.r.main.db.nation.history").head().getLong(0)
    require(post == pre + 1, s"expected ONE commit, got ${post - pre}")
    s.sql(
      s"""SELECT n.n_nationkey, n.n_name, r.r_regionkey, r.r_name
         |FROM $cat.r.main.db.nation n JOIN $cat.r.main.db.region r
         |  ON n.n_regionkey = r.r_regionkey
         |ORDER BY n.n_nationkey, r.r_regionkey""".stripMargin)
  }

  /** Row-level append-union merge: BOTH branches append to nation, the
    * merge unions both sides' new files instead of conflicting.
    */
  private def mergeUnionRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 200, n_name, n_regionkey " +
      s"FROM $cat.r.dev.db.nation WHERE n_nationkey < 2")
    s.sql(s"INSERT INTO $cat.r.dev.db.nation " +
      s"SELECT n_nationkey + 300, n_name, n_regionkey " +
      s"FROM $cat.r.dev.db.nation WHERE n_nationkey < 3")
    repo.merge("dev", "main")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Cherry-pick: dev makes TWO append commits; main diverges with its
    * own append; picking only the SECOND dev commit replays that one
    * delta onto main — the first dev commit must NOT come along, and
    * main's own rows survive (the delta applies onto a head that is
    * sideways of the pick's parent).
    */
  private def cherryRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    s.sql(s"INSERT INTO $cat.r.dev.db.nation " +
      s"SELECT n_nationkey + 200, n_name, n_regionkey " +
      s"FROM $cat.r.dev.db.nation WHERE n_nationkey < 2")
    s.sql(s"INSERT INTO $cat.r.dev.db.nation " +
      s"SELECT n_nationkey + 300, n_name, n_regionkey " +
      s"FROM $cat.r.dev.db.nation WHERE n_nationkey < 3")
    val pick = repo.headCommit("dev").id
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 400, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation WHERE n_nationkey < 2")
    repo.cherryPick("main", pick)
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Zero-copy table clone (CALL g.system.clone_table): the clone's
    * table entry points at the source's snapshot — O(1) metadata
    * commit, no data movement. Then mutate BOTH sides (delete on the
    * source, append on the clone) and read both: full isolation in
    * either direction is what the oracle checks.
    */
  private def cloneRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"CALL $cat.system.clone_table('r', 'main', 'db.nation', 'db.nation_c')")
    s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey >= 10")
    s.sql(s"INSERT INTO $cat.r.main.db.nation_c " +
      s"SELECT n_nationkey + 600, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation_c WHERE n_nationkey < 2")
    s.sql(
      s"""SELECT side, n_nationkey, n_name, n_regionkey FROM (
         |  SELECT 'clone' AS side, * FROM $cat.r.main.db.nation_c
         |  UNION ALL
         |  SELECT 'src' AS side, * FROM $cat.r.main.db.nation
         |) ORDER BY side, n_nationkey""".stripMargin)
  }

  /** Nested-type lifecycle (struct/array/map columns): pack nation into
    * a nested schema, branch, DELETE keyed on a NESTED field (CoW
    * rewrite — sources.Filter can't carry `info.region`, so the
    * group-based path fires), INSERT on dev, 3-way merge, read main
    * flattened back to scalars. Proves nested columns survive every
    * versioned hop with full fidelity (driver gate forbids array
    * outputs, hence the flatten).
    */
  private def nestedRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    s.sql(s"CREATE TABLE $cat.r.main.db.nn (" +
      "n_nationkey INT, info STRUCT<name: STRING, region: INT>, " +
      "tags ARRAY<STRING>, props MAP<STRING, INT>)")
    s.sql(s"INSERT INTO $cat.r.main.db.nn " +
      "SELECT n_nationkey, named_struct('name', n_name, 'region', n_regionkey), " +
      "array('t', n_name), map('r', n_regionkey) " +
      s"FROM $cat.r.main.db.nation")
    s.sql(s"CREATE NAMESPACE $cat.r.nest") // branch after nn exists
    s.sql(s"DELETE FROM $cat.r.nest.db.nn WHERE info.region = 2")
    s.sql(s"INSERT INTO $cat.r.nest.db.nn " +
      "SELECT n_nationkey + 100, named_struct('name', n_name, 'region', n_regionkey), " +
      "array('t', n_name), map('r', n_regionkey) " +
      s"FROM $cat.r.main.db.nation WHERE n_nationkey < 2")
    repo.merge("nest", "main")
    // nested-field ALTER (r8) inside the gated flow: ADD a struct
    // member (nulls over every pre-existing file), RENAME another
    // (physical name stays; old files keep reading), then land a row
    // that carries the new member
    s.sql(s"ALTER TABLE $cat.r.main.db.nn ADD COLUMN info.iso STRING")
    s.sql(s"ALTER TABLE $cat.r.main.db.nn RENAME COLUMN info.region TO reg")
    s.sql(s"INSERT INTO $cat.r.main.db.nn VALUES (500, " +
      "named_struct('name', 'zz', 'reg', 9, 'iso', 'ZZ'), " +
      "array('t'), map('r', 9))")
    s.sql(s"""SELECT n_nationkey, info.name AS name, info.reg AS region,
         |       size(tags) AS n_tags, props['r'] AS r_val,
         |       info.iso AS iso
         |FROM $cat.r.main.db.nn ORDER BY n_nationkey""".stripMargin)
  }

  /** Materialized view with INCREMENTAL refresh: full-compute at
    * create, append rows, refresh — the refresh reads only the appended
    * delta files (never rescans the source), combines with affected MV
    * rows, and lands rows + watermark in one commit.
    */
  private def mvRead(s: SparkSession, d: String): DataFrame = {
    import graft.versioned.MaterializedView
    val (cat, repo) = setup(s, d)
    MaterializedView.create(s, repo, "main", "db/nation", "db/nation_mv",
      Seq("n_regionkey"),
      Seq(("count", "n_nationkey", "n_nations"),
        ("sum", "n_nationkey", "key_sum"),
        ("max", "n_name", "last_name")))
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 1000, n_name, n_regionkey " +
      s"FROM $cat.r.dev.db.nation WHERE n_nationkey < 2")
    val mode = MaterializedView.refresh(s, repo, "main", "db/nation_mv")
    require(mode == "incremental", s"expected incremental refresh, got $mode")
    s.sql(s"SELECT n_regionkey, n_nations, key_sum, last_name " +
      s"FROM $cat.r.main.db.nation_mv ORDER BY n_regionkey")
  }

  /** Versioned VIEW read: a view defined with a RELATIVE table
    * reference on main is read through the dev branch after a dev-side
    * DELETE — the view follows the reader's branch (branch segment of
    * the stored resolution context rebound at load), so it sees dev's
    * table state while main's stays intact.
    */
  private def viewRead(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
    val (cat, repo) = setup(s, d)
    val vcat = graft.catalog.GraftViews.viewCatalog(s, cat)
    val viewSql = "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey <= 2"
    val schema = s.sql(
      s"SELECT n_nationkey, n_name FROM $cat.r.main.db.nation LIMIT 0").schema
    vcat.createView(new ViewInfo(
      Identifier.of(Array("r", "main", "db"), "top"), viewSql, cat,
      Array("r", "main", "db"), schema,
      Array("n_nationkey", "n_name"), Array.empty, Array.empty,
      java.util.Map.of()))
    repo.merge("main", "dev") // fast-forward: dev picks up the view commit
    s.sql(s"DELETE FROM $cat.r.dev.db.nation WHERE n_nationkey >= 20")
    // plain SQL over the view (GraftViewResolution analyzer rule): the
    // dev-branch read must see dev's DELETE through the rebound context
    s.sql(s"SELECT * FROM $cat.r.dev.db.top ORDER BY n_nationkey")
  }

  /** Fragmented ingest (one commit per region) followed by sort-clustered
    * compaction (OPTIMIZE), then a full read — rows must be exactly the
    * source table regardless of layout.
    */
  private def compactRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    // fragment: several more small commits on top of setup's initial load
    s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey >= 0") // empty it
    (0 to 4).foreach(rk =>
      s.sql(s"INSERT INTO $cat.r.main.db.nation " +
        s"SELECT n_nationkey, n_name, n_regionkey FROM $cat.r.dev.db.nation " +
        s"WHERE n_regionkey = $rk"))
    graft.versioned.TableOps.compact(s, repo, "main", "db/nation",
      sortBy = Seq("n_nationkey"))
    s.sql(s"SELECT * FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Storage-partitioned join: customer and orders land in graft tables
    * bucketed 8 ways on the SAME join key, the session opts into DSv2
    * v2-bucketing, and the fact-fact join runs with no hash exchange on
    * either side (SpjSpec asserts the plan; this query gates the rows).
    * At 100 TB this is the difference between shuffling two full tables
    * and zipping co-located buckets.
    */
  private def spjJoin(s: SparkSession, d: String): DataFrame = {
    // the two bucketed fact tables are a per-JVM template like setup()'s
    // nation fixture (r8): the bench row measures the STORAGE-PARTITIONED
    // JOIN, not two 8-bucket partitioned CTAS runs re-done per query
    val tpl = templates.computeIfAbsent("spj:" + d, _ => {
      val (cat0, root0) = freshCatalog(s)
      s.sql(s"CREATE NAMESPACE $cat0.r")
      s.sql(s"CREATE NAMESPACE $cat0.r.main.db")
      val customer = T.customer(s, d)
      val orders = T.orders(s, d)
      s.sql(s"CREATE TABLE $cat0.r.main.db.customer (${customer.schema.toDDL}) " +
        "PARTITIONED BY (bucket(8, c_custkey))")
      customer.writeTo(s"$cat0.r.main.db.customer").append()
      s.sql(s"CREATE TABLE $cat0.r.main.db.orders (${orders.schema.toDDL}) " +
        "PARTITIONED BY (bucket(8, o_custkey))")
      orders.writeTo(s"$cat0.r.main.db.orders").append()
      root0
    })
    val (cat, root) = freshCatalog(s)
    copyTree(tpl, root)
    // session-level opt-in, same conf Spark's own SPJ machinery keys on;
    // only graft tables with provable identity/bucket layouts react. The
    // opt-in is scoped to THIS query: the join is materialized eagerly
    // (localCheckpoint) inside the enabled window, then the conf is
    // restored so later queries in the shared driver session keep their
    // normal split-per-file read parallelism.
    val confs = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    val prior = confs.map(k => k -> s.conf.getOption(k))
    confs.foreach(s.conf.set(_, "true"))
    try {
      s.sql(
        s"""SELECT c.c_custkey, c.c_name, count(*) AS n_orders,
           |       min(o.o_orderkey) AS first_order
           |FROM $cat.r.main.db.customer c
           |JOIN $cat.r.main.db.orders o ON c.c_custkey = o.o_custkey
           |GROUP BY c.c_custkey, c.c_name
           |ORDER BY c.c_custkey""".stripMargin).localCheckpoint(true)
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Merge-on-read DELETE flow: orders lands in a MoR-mode graft table,
    * a predicate DELETE commits as an O(1) tombstone (zero files
    * rewritten), a later INSERT adds rows the earlier tombstone must NOT
    * touch (even where they match its predicate), and the aggregate read
    * back proves the tombstoned scan + later-file exemption end-to-end
    * against the DuckDB oracle (which replays the same delete+insert
    * relationally).
    */
  private def morRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = freshCatalog(s)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    val orders = T.orders(s, d)
    s.sql(s"CREATE TABLE $cat.r.main.db.orders (${orders.schema.toDDL}) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    orders.writeTo(s"$cat.r.main.db.orders").append()
    s.sql(s"DELETE FROM $cat.r.main.db.orders " +
      "WHERE o_orderstatus = 'F' AND o_totalprice < 100000.0")
    // rows inserted AFTER the tombstone survive it, matching or not
    s.sql(s"INSERT INTO $cat.r.main.db.orders VALUES " +
      "(9000001, 1, 'F', 42.0, TIMESTAMP'2024-01-01 00:00:00', 'graft-test')," +
      "(9000002, 2, 'O', 43.0, TIMESTAMP'2024-01-02 00:00:00', 'graft-test')")
    s.sql(
      s"""SELECT o_orderstatus,
         |       count(*) AS n,
         |       cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |       min(o_orderkey) AS first_key
         |FROM $cat.r.main.db.orders
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin)
  }

  /** Iceberg interop end-to-end: orders lands in a merge-on-read graft
    * table, a range DELETE and an equality DELETE commit O(1)
    * tombstones, a later INSERT adds rows (one matching BOTH
    * tombstones) that must survive, `CALL iceberg_export` writes
    * spec-v2 metadata with BOTH delete-file kinds — positional
    * (positions re-derived per applicable file) for the range
    * predicate, an O(1) equality delete file (no data scanned) for the
    * equality one — and the INDEPENDENT
    * [[graft.versioned.IcebergImport]] reader — which shares only the
    * spec constants with the writer — reads the export back. The
    * aggregate must match DuckDB replaying the same deletes+insert
    * relationally, which hash-proves the whole v2 export/import
    * surface: both delete-file contents, strict/at-or-older sequence
    * rules, manifest file lists, and the anti-join applications.
    */
  private def icebergRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = freshCatalog(s)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    val orders = T.orders(s, d)
    s.sql(s"CREATE TABLE $cat.r.main.db.orders (${orders.schema.toDDL}) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    orders.writeTo(s"$cat.r.main.db.orders").append()
    // range predicate → POSITIONAL delete files (per-file re-evaluation)
    s.sql(s"DELETE FROM $cat.r.main.db.orders " +
      "WHERE o_orderstatus = 'O' AND o_totalprice > 200000.0")
    // equality predicate → O(1) EQUALITY delete file (no data scanned)
    s.sql(s"DELETE FROM $cat.r.main.db.orders WHERE o_custkey = 7")
    // rows inserted AFTER the tombstones survive them, matching or not
    s.sql(s"INSERT INTO $cat.r.main.db.orders VALUES " +
      "(9100001, 7, 'O', 900001.0, TIMESTAMP'2024-02-01 00:00:00', 'graft-ice')," +
      "(9100002, 2, 'F', 900002.0, TIMESTAMP'2024-02-02 00:00:00', 'graft-ice')")
    // dest as a file:// URI: the export AND the import both run through
    // the Hadoop-FS dest seam (DestIO/HadoopDestIO — the s3a:// path),
    // so the gate hash-proves that route too, not just local nio
    val dest = GateScratch.register(Files.createTempDirectory("graft-ice-export"))
      .toUri.toString.stripSuffix("/")
    val metaPath = s.sql(s"CALL $cat.system.iceberg_export('r', 'main', " +
      s"'db.orders', '$dest')").collect().head.getString(0)
    graft.versioned.IcebergImport.read(s, metaPath, None)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("total"),
        min(col("o_orderkey")).as("first_key"))
      .orderBy("o_orderstatus")
  }

  /** External-Iceberg CDC streaming end-to-end ([[graft.catalog
    * .IcebergCdcMicroBatchStream]] over a live sync-mode export dest —
    * the produce → sync → CDC-consume loop): nation exports with
    * sync=>true, a `cdc=true` stream follows the dest; a MoR delete
    * syncs and streams as retractions, an update as delete+insert, an
    * append as inserts. The oracle replays the change script
    * declaratively — hash-proving
    * [[graft.versioned.IcebergImport.changesBetweenVersions]]'s
    * version-diff semantics, not just its specs.
    */
  private def iceCdcRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup2(s, d)
    val dest = GateScratch.register(Files.createTempDirectory("graft-ice-cdc"))
    s.sql(s"CALL $cat.system.iceberg_export('r', 'main', 'db.nation', " +
      s"'$dest', sync => true)")
    val name = "vic" + UUID.randomUUID().toString.replace("-", "").take(10)
    val q = s.readStream.format("iceberg-changes")
      .option("cdc", "true").load(dest.toString)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey >= 20")
      q.processAllAvailable()
      s.sql(s"UPDATE $cat.r.main.db.nation " +
        "SET n_name = concat(n_name, '?') WHERE n_nationkey = 1")
      s.sql(s"INSERT INTO $cat.r.main.db.nation VALUES (3000, 'CDCLAND', 1)")
      q.processAllAvailable()
    } finally q.stop()
    s.table(name)
      .orderBy(col("n_nationkey"), col("_change_type"), col("n_name"))
  }

  /** [[setup]] variant whose nation table is MERGE-ON-READ — the CDC
    * fixtures exercise tombstone retractions through sync emissions.
    */
  private def setup2(s: SparkSession, d: String): (String, GraftRepo) = {
    val (cat, root) = freshCatalog(s)
    val nation = T.nation(s, d)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    s.sql(s"CREATE TABLE $cat.r.main.db.nation (${nation.schema.toDDL}) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    nation.writeTo(s"$cat.r.main.db.nation").append()
    (cat, GraftRepo.open(root.resolve("r")))
  }

  /** The native DSv2 micro-batch source end-to-end ([[graft.catalog
    * .GraftMicroBatchStream]]): nation lands across two commits, the
    * stream replays them from snapshot-metadata offsets (no directory
    * listing, one file per trigger), a third commit lands mid-stream and
    * is picked up live, and the aggregate over everything streamed must
    * equal the batch answer.
    */
  private def streamRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 1000, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation WHERE n_nationkey < 5")
    val name = "vcs" + UUID.randomUUID().toString.replace("-", "").take(10)
    val q = s.readStream.option("maxFilesPerTrigger", "1")
      .table(s"$cat.r.main.db.nation")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      s.sql(s"INSERT INTO $cat.r.main.db.nation VALUES (2000, 'STREAMLAND', 0)")
      q.processAllAvailable()
    } finally q.stop()
    s.table(name)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
        max(col("n_nationkey")).as("last_key"))
      .orderBy(col("n_regionkey"))
  }

  /** Streaming CDC of the table's own commit log (`graft-changes`
    * source — the retraction-aware twin of [[streamRead]]'s raw-append
    * stream): initial full load as inserts, then per-commit NET
    * changes — a CoW delete (retractions), an update (delete + insert
    * of the modified row only), an append — accumulated by a memory
    * sink. The oracle replays the same change script declaratively.
    */
  private def cdcRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val name = "vcc" + UUID.randomUUID().toString.replace("-", "").take(10)
    val q = s.readStream.format("graft-changes")
      .option("table", "db.nation").load(repo.root.toString)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey >= 20")
      q.processAllAvailable()
      s.sql(s"UPDATE $cat.r.main.db.nation " +
        "SET n_name = concat(n_name, '?') WHERE n_nationkey = 1")
      s.sql(s"INSERT INTO $cat.r.main.db.nation VALUES (3000, 'CDCLAND', 1)")
      q.processAllAvailable()
    } finally q.stop()
    s.table(name)
      .orderBy(col("n_nationkey"), col("_change_type"), col("n_name"))
  }

  /** CDC REPLICATION apply ([[graft.versioned.TableOps.applyCdc]]): the
    * [[cdcRead]] change script replays on a source table while a
    * `graft-changes` stream mirrors it into a SECOND repo via one
    * atomic keyed MERGE per micro-batch — per key a net-change batch
    * collapses to the winning row (insert beats the paired delete of an
    * update). The gate returns the MIRROR's final state; the oracle
    * computes the same state declaratively, so a replication drift of
    * even one row hash-fails.
    */
  private def cdcApply(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    s.sql(s"CREATE NAMESPACE $cat.mir")
    s.sql(s"CREATE NAMESPACE $cat.mir.main.db")
    s.sql(s"CREATE TABLE $cat.mir.main.db.nation " +
      s"(n_nationkey INT, n_name STRING, n_regionkey INT)")
    val q = s.readStream.format("graft-changes")
      .option("table", "db.nation").load(repo.root.toString)
      .writeStream
      .foreachBatch(TableOps.applyCdc(
        s"$cat.mir.main.db.nation", Seq("n_nationkey")))
      .start()
    try {
      q.processAllAvailable()
      s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey >= 20")
      q.processAllAvailable()
      s.sql(s"UPDATE $cat.r.main.db.nation " +
        "SET n_name = concat(n_name, '?') WHERE n_nationkey = 1")
      s.sql(s"INSERT INTO $cat.r.main.db.nation VALUES (3000, 'CDCLAND', 1)")
      q.processAllAvailable()
    } finally q.stop()
    s.table(s"$cat.mir.main.db.nation").orderBy(col("n_nationkey"))
  }

  /** Every vc_rest_* gate runs with bearer auth ON: the server starts
    * requiring this token and every gate request carries it, so the
    * whole served REST surface is proven to work AUTHENTICATED (the
    * reject side — missing/wrong token → 401 — is spec-gated in
    * IcebergRestServerSpec). The flagship read gate ([[restRead]])
    * additionally authenticates via the OAuth2 client_credentials
    * exchange — a MINTED bearer, not this static one — so both bearer
    * kinds are driver-gate-proven.
    */
  private val GateRestToken = "graft-gate-bearer"

  /** A request builder with the gate bearer header attached — the
    * drop-in for `HttpRequest.newBuilder` every gate request uses.
    */
  private def restReq(uri: java.net.URI): java.net.http.HttpRequest.Builder =
    java.net.http.HttpRequest.newBuilder(uri)
      .header("Authorization", s"Bearer $GateRestToken")

  /** Embedded Iceberg REST catalog ([[graft.versioned.IcebergRestServer]]):
    * the repo serves the public REST protocol on an ephemeral port, a
    * plain JDK HTTP client walks config → loadTable exactly as an
    * external engine's REST client would, and the served
    * `metadata-location` is read back through the INDEPENDENT
    * `iceberg_import` reader — the full path a foreign engine takes to
    * a graft table, minus only its own jar.
    */
  private def restRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey % 5 = 2")
    repo.createTag("v_gate", "main") // served as a read-only tag ref below
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-gate")), Some(s),
      token = Some(GateRestToken),
      credential = Some("gate-client:gate-secret"))
    val view = "rest" + UUID.randomUUID().toString.replace("-", "").take(10)
    try {
      val ns = java.net.URLEncoder.encode("main\u001Fdb", "UTF-8")
      // this flagship read gate authenticates the OAUTH way: exchange
      // the client credential for a minted bearer and load with THAT —
      // the other rest gates keep the static token, so BOTH bearer
      // kinds are proven under the driver gate, not just the spec
      val http = java.net.http.HttpClient.newHttpClient()
      val mintResp = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"${srv.uri}/v1/oauth/tokens"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            "grant_type=client_credentials" +
              "&client_id=gate-client&client_secret=gate-secret"))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(mintResp.statusCode() == 200,
        s"oauth mint failed: ${mintResp.body()}")
      val minted = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(mintResp.body()).get("access_token").asText()
      val resp = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
          .header("Authorization", s"Bearer $minted")
          .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200, s"loadTable failed: ${resp.body()}")
      val body = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(resp.body())
      // the graft tag rides the served refs map (engines can
      // `VERSION AS OF 'v_gate'` by name, no namespace hop)
      val refs = body.get("metadata").get("refs")
      require(refs.has("v_gate") &&
        refs.get("v_gate").get("type").asText() == "tag" &&
        refs.get("v_gate").get("snapshot-id").asLong() ==
          refs.get("main").get("snapshot-id").asLong(),
        s"tag ref not served: $refs")
      val loc = body.get("metadata-location").asText()
      s.sql(s"CALL $cat.system.iceberg_import('$loc', '$view')")
    } finally srv.close()
    s.table(view)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** The REST WRITE path end-to-end, driven exactly as an external
    * engine's REST client drives it: `POST tables` creates the table
    * from a posted Iceberg schema, then TWO spec commits
    * (`assert-table-uuid` + `assert-ref-snapshot-id` requirements,
    * `add-snapshot`/`set-snapshot-ref` updates) each post a freshly
    * staged manifest list; the server registers the staged data files
    * ZERO-COPY (they live in the repo data plane) with footer-derived
    * stats, committing on the graft branch. Staging is emulated with
    * graft's own exporter (real Iceberg manifests; commit 2 stages on a
    * zero-copy clone so its list is the spec-required superset of the
    * served base). The gate then reads the RESULTING GRAFT TABLE via
    * plain SQL against the DuckDB oracle.
    */
  private def restCommit(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-wgate")), Some(s),
      writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ns = java.net.URLEncoder.encode("maindb", "UTF-8")
      def post(path: String, body: String)
          : com.fasterxml.jackson.databind.JsonNode = {
        val resp = http.send(restReq(
          java.net.URI.create(s"${srv.uri}$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200,
          s"$path -> ${resp.statusCode()}: ${resp.body()}")
        mapper.readTree(resp.body())
      }
      val created = post(s"/v1/namespaces/$ns/tables",
        """{"name":"wnation","schema":{"type":"struct","schema-id":0,
          |"fields":[
          |{"id":1,"name":"n_nationkey","required":false,"type":"int"},
          |{"id":2,"name":"n_name","required":false,"type":"string"},
          |{"id":3,"name":"n_regionkey","required":false,"type":"int"}]}}"""
          .stripMargin.replaceAll("\n", ""))
      // stage table -> export -> post its manifest list as a REST commit
      def appendViaRest(stageKey: String, snapId: Long,
          base: com.fasterxml.jackson.databind.JsonNode)
          : com.fasterxml.jackson.databind.JsonNode = {
        val dest = GateScratch.register(Files.createTempDirectory(s"graft-rest-stage"))
        val metaP = graft.versioned.IcebergExport.export(repo, "main",
          s"db/$stageKey", dest, Some(s), 1, 1, 0)
        val stageMeta = mapper.readTree(java.nio.file.Files.readString(metaP))
        val cur = stageMeta.get("current-snapshot-id").asLong()
        val listLoc = {
          val it = stageMeta.get("snapshots").elements()
          var loc = ""
          while (it.hasNext) {
            val n = it.next()
            if (n.get("snapshot-id").asLong() == cur)
              loc = n.get("manifest-list").asText()
          }
          loc
        }
        val refSnap = base.get("refs").get("main").get("snapshot-id").asLong()
        post(s"/v1/namespaces/$ns/tables/wnation",
          s"""{"requirements":[
             |{"type":"assert-table-uuid",
             |"uuid":"${base.get("table-uuid").asText()}"},
             |{"type":"assert-ref-snapshot-id","ref":"main",
             |"snapshot-id":$refSnap}],
             |"updates":[
             |{"action":"add-snapshot","snapshot":{"snapshot-id":$snapId,
             |"timestamp-ms":1700000000000,"schema-id":0,
             |"manifest-list":"$listLoc",
             |"summary":{"operation":"append"}}},
             |{"action":"set-snapshot-ref","ref-name":"main",
             |"snapshot-id":$snapId,"type":"branch"}]}""".stripMargin
            .replaceAll("\n", "")).get("metadata")
      }
      s.sql(s"CREATE TABLE $cat.r.main.db.stage1 AS " +
        s"SELECT * FROM $cat.r.main.db.nation WHERE n_nationkey < 15")
      val m1 = appendViaRest("stage1", 9001L, created.get("metadata"))
      // commit 2 stages on a zero-copy clone of the committed table, so
      // its posted list = base files ∪ new files (the append contract)
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.wnation', 'db.stage2')")
      s.sql(s"INSERT INTO $cat.r.main.db.stage2 " +
        s"SELECT * FROM $cat.r.main.db.nation WHERE n_nationkey >= 20")
      appendViaRest("stage2", 9002L, m1)
    } finally srv.close()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.wnation ORDER BY n_nationkey")
  }

  /** The REST write path's copy-on-write REWRITE, driven as an external
    * engine drives it: the served table has two data files, the engine
    * runs a CoW DELETE (emulated with graft itself on a zero-copy
    * clone — real rewritten parquet in the data plane, real Iceberg
    * manifests from the exporter) and posts the resulting state as an
    * `overwrite` commit: one kept base file + one rewritten file, one
    * dropped. The server lands it as a single graft rewrite commit
    * ([[graft.versioned.TableOps.commitRewrite]]) with the dropped file
    * leaving the live set and the rewritten file registered zero-copy.
    * The gate reads the RESULTING graft table via plain SQL against the
    * DuckDB oracle.
    */
  private def restRewrite(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    // a second data file, so the rewrite keeps one file and replaces one
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 100, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation")
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-owgate")), Some(s),
      writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ns = java.net.URLEncoder.encode("maindb", "UTF-8")
      val get = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
        .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(get.statusCode() == 200, s"loadTable failed: ${get.body()}")
      val meta0 = mapper.readTree(get.body()).get("metadata")
      // the engine's CoW DELETE, staged on a zero-copy clone: kept files
      // keep their base locations, only the dirty file is rewritten
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.ow_stage')")
      s.sql(s"DELETE FROM $cat.r.main.db.ow_stage WHERE n_nationkey >= 110")
      val dest = GateScratch.register(Files.createTempDirectory("graft-rest-owstage"))
      val metaP = graft.versioned.IcebergExport.export(repo, "main",
        "db/ow_stage", dest, Some(s), 1, 1, 0)
      val stageMeta = mapper.readTree(java.nio.file.Files.readString(metaP))
      val cur = stageMeta.get("current-snapshot-id").asLong()
      val listLoc = {
        val it = stageMeta.get("snapshots").elements()
        var loc = ""
        while (it.hasNext) {
          val n = it.next()
          if (n.get("snapshot-id").asLong() == cur)
            loc = n.get("manifest-list").asText()
        }
        loc
      }
      val refSnap = meta0.get("refs").get("main").get("snapshot-id").asLong()
      val resp = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          s"""{"requirements":[
             |{"type":"assert-table-uuid",
             |"uuid":"${meta0.get("table-uuid").asText()}"},
             |{"type":"assert-ref-snapshot-id","ref":"main",
             |"snapshot-id":$refSnap}],
             |"updates":[
             |{"action":"add-snapshot","snapshot":{"snapshot-id":9301,
             |"timestamp-ms":1700000000000,"schema-id":0,
             |"manifest-list":"$listLoc",
             |"summary":{"operation":"overwrite"}}},
             |{"action":"set-snapshot-ref","ref-name":"main",
             |"snapshot-id":9301,"type":"branch"}]}""".stripMargin
            .replaceAll("\n", ""))).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"overwrite commit failed: ${resp.statusCode()} ${resp.body()}")
    } finally srv.close()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** REST operation=replace (r14): an external engine's OWN maintenance
    * — Spark's rewrite_data_files / Flink compaction — posts its
    * compaction back through the catalog it attached to. The reference
    * accepts any metadata swap (LakeFSTableOperations.java:115–147);
    * graft validates row preservation the way TableOps.compact's
    * conflict check does and lands it as a structural-compaction commit.
    * The gate stages the rewrite on a zero-copy clone (compact the
    * clone natively → its output already lives in the repo data plane →
    * the posted files register zero-copy), posts `operation=replace`,
    * then REQUIREs the compact marker and that CDC across the replace
    * nets to ZERO — a row-preserving rewrite is not a change. The final
    * table read is hash-checked against the oracle: byte-identical rows
    * through a full physical rewrite.
    */
  private def restReplace(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    // a second batch → two files, so the compaction has work to do
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 200, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation WHERE n_nationkey < 10")
    repo.createTag("prereplace", "main")
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-repgate")), Some(s),
      writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ns = java.net.URLEncoder.encode("maindb", "UTF-8")
      val get = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
        .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(get.statusCode() == 200, s"loadTable failed: ${get.body()}")
      val meta0 = mapper.readTree(get.body()).get("metadata")
      // the engine's rewrite, staged on a zero-copy clone: compact the
      // clone natively — its output files live in the repo data plane
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.rep_stage')")
      TableOps.compact(s, repo, "main", "db/rep_stage")
      val listLoc = exportListLoc(repo, s, "db/rep_stage")
      val refSnap = meta0.get("refs").get("main").get("snapshot-id").asLong()
      val resp = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          s"""{"requirements":[
             |{"type":"assert-table-uuid",
             |"uuid":"${meta0.get("table-uuid").asText()}"},
             |{"type":"assert-ref-snapshot-id","ref":"main",
             |"snapshot-id":$refSnap}],
             |"updates":[
             |{"action":"add-snapshot","snapshot":{"snapshot-id":9401,
             |"timestamp-ms":1700000000000,"schema-id":0,
             |"manifest-list":"$listLoc",
             |"summary":{"operation":"replace"}}},
             |{"action":"set-snapshot-ref","ref-name":"main",
             |"snapshot-id":9401,"type":"branch"}]}""".stripMargin
            .replaceAll("\n", ""))).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"replace commit failed: ${resp.statusCode()} ${resp.body()}")
      require(repo.headCommit("main").markerOpt
        .contains(graft.versioned.Commit.CompactMarker),
        "REST replace must land as a structural-compaction commit")
      require(TableOps.changesBetween(s, repo,
        "prereplace", "main", "db/nation").isEmpty,
        "CDC across a row-preserving replace must net to zero")
    } finally srv.close()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Engine ROLLBACK over REST (r14): Spark's `rollback_to_snapshot`
    * posts a bare set-snapshot-ref to a PRIOR snapshot id — no
    * add-snapshot. The server inverts the export's stable snapshot
    * naming over the graft history walk and swaps the table pointer
    * back ZERO-COPY (content-addressed snapshots never moved). The gate
    * deletes rows natively, rolls back through the REST door, REQUIREs
    * the served current-snapshot-id returned to the pre-delete id, and
    * hash-checks the restored table against the oracle.
    */
  private def restRollback(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-rbgate")), Some(s),
      maxSnapshots = 5, writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ns = java.net.URLEncoder.encode("maindb", "UTF-8")
      def load(): com.fasterxml.jackson.databind.JsonNode = {
        val r = http.send(restReq(
          java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
          .GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(r.statusCode() == 200, s"loadTable failed: ${r.body()}")
        mapper.readTree(r.body()).get("metadata")
      }
      val s1 = load().get("current-snapshot-id").asLong()
      s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey >= 10")
      val meta1 = load()
      require(meta1.get("current-snapshot-id").asLong() != s1,
        "the delete must have advanced the served snapshot")
      val refSnap = meta1.get("refs").get("main").get("snapshot-id").asLong()
      val resp = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          s"""{"requirements":[
             |{"type":"assert-table-uuid",
             |"uuid":"${meta1.get("table-uuid").asText()}"},
             |{"type":"assert-ref-snapshot-id","ref":"main",
             |"snapshot-id":$refSnap}],
             |"updates":[
             |{"action":"set-snapshot-ref","ref-name":"main",
             |"snapshot-id":$s1,"type":"branch"}]}""".stripMargin
            .replaceAll("\n", ""))).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"rollback commit failed: ${resp.statusCode()} ${resp.body()}")
      require(load().get("current-snapshot-id").asLong() == s1,
        "the served snapshot must be back at the pre-delete id")
      // the REVERT path (r15b): a schema evolution then a CoW delete
      // advance the table; rolling back to the REMEMBERED pre-evolution
      // id cannot be a pointer swap (Iceberg rollback keeps the schema
      // current), so the server lands a FILE-SET REVERT — the deleted
      // rows come back, the added column stays (reading NULL)
      s.sql(s"ALTER TABLE $cat.r.main.db.nation ADD COLUMN n_tmp INT")
      s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey >= 15")
      val meta2 = load()
      require(meta2.get("current-snapshot-id").asLong() != s1,
        "the delete must have advanced the served snapshot")
      val refSnap2 = meta2.get("refs").get("main").get("snapshot-id").asLong()
      val resp2 = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          s"""{"requirements":[
             |{"type":"assert-table-uuid",
             |"uuid":"${meta2.get("table-uuid").asText()}"},
             |{"type":"assert-ref-snapshot-id","ref":"main",
             |"snapshot-id":$refSnap2}],
             |"updates":[
             |{"action":"set-snapshot-ref","ref-name":"main",
             |"snapshot-id":$s1,"type":"branch"}]}""".stripMargin
            .replaceAll("\n", ""))).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp2.statusCode() == 200,
        s"revert rollback failed: ${resp2.statusCode()} ${resp2.body()}")
      // the reverted state serves under a FRESH id (documented
      // divergence: a graft snapshot is new content, Iceberg proper
      // would re-serve the remembered id)
      require(load().get("current-snapshot-id").asLong() != s1,
        "the revert must serve a fresh snapshot id")
    } finally srv.close()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey, n_tmp " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Shared REST-gate plumbing: export a staged graft table and return
    * its current snapshot's manifest-list location — what an external
    * engine's commit posts.
    */
  private def exportListLoc(repo: GraftRepo, s: SparkSession,
      key: String,
      destOverride: Option[java.nio.file.Path] = None): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dest = destOverride.getOrElse(
      GateScratch.register(Files.createTempDirectory("graft-rest-stage")))
    val metaP = graft.versioned.IcebergExport.export(repo, "main",
      key, dest, Some(s), 1, 1, 0)
    val stageMeta = mapper.readTree(java.nio.file.Files.readString(metaP))
    val cur = stageMeta.get("current-snapshot-id").asLong()
    val it = stageMeta.get("snapshots").elements()
    var loc = ""
    while (it.hasNext) {
      val n = it.next()
      if (n.get("snapshot-id").asLong() == cur)
        loc = n.get("manifest-list").asText()
    }
    loc
  }

  /** Schema evolution driven ENTIRELY over REST (r12): an external
    * engine posts one add-schema/set-current-schema commit that adds
    * `n_flag BIGINT`, renames `n_name` → `n_label` and widens
    * `n_regionkey` to BIGINT (the server diffs by FIELD ID and lowers
    * onto graft's metadata-only evolution — [[graft.versioned
    * .SchemaEvolution]]), then appends a file WRITTEN UNDER THE NEW
    * SCHEMA through the same protocol. The gate reads the final table
    * via plain SQL: pre-evolution files answer under the renamed /
    * widened read schema with nulls for the added column, the appended
    * file carries real values — the whole evolution contract through
    * the REST door, hash-checked against the DuckDB oracle.
    */
  private def restEvolve(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-evgate")), Some(s),
      writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ns = java.net.URLEncoder.encode("main\u001Fdb", "UTF-8")
      def post(body: String): Unit = {
        val resp = http.send(restReq(
          java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200,
          s"commit -> ${resp.statusCode()}: ${resp.body()}")
      }
      def load(): com.fasterxml.jackson.databind.JsonNode = {
        val r = http.send(restReq(
          java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
          .GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(r.statusCode() == 200, s"loadTable failed: ${r.body()}")
        mapper.readTree(r.body()).get("metadata")
      }
      val meta0 = load()
      // the engine's ALTER: same field ids, one renamed, one widened,
      // one appended — exactly what iceberg-core's UpdateSchema posts
      val s1 = meta0.get("schemas").elements().next()
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      s1.put("schema-id", 1)
      val fit = s1.withArray("fields").elements()
      while (fit.hasNext) {
        val f = fit.next()
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        if (f.get("name").asText() == "n_name") f.put("name", "n_label")
        if (f.get("name").asText() == "n_regionkey") f.put("type", "long")
      }
      val nf = mapper.createObjectNode()
      nf.put("id", meta0.get("last-column-id").asInt() + 1)
      nf.put("name", "n_flag"); nf.put("required", false)
      nf.put("type", "long")
      s1.withArray("fields").add(nf)
      post(s"""{"requirements":[
         |{"type":"assert-table-uuid",
         |"uuid":"${meta0.get("table-uuid").asText()}"},
         |{"type":"assert-current-schema-id",
         |"current-schema-id":${meta0.get("current-schema-id").asInt()}}],
         |"updates":[
         |{"action":"add-schema","schema":${mapper.writeValueAsString(s1)}},
         |{"action":"set-current-schema","schema-id":-1}]}""".stripMargin
        .replaceAll("\n", ""))
      // the engine's first write under the new schema: staged on a
      // zero-copy clone (posted list = base files ∪ new file)
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.ev_stage')")
      s.sql(s"INSERT INTO $cat.r.main.db.ev_stage " +
        s"SELECT n_nationkey + 400, n_label, n_regionkey, " +
        s"CAST(n_nationkey * 2 AS BIGINT) " +
        s"FROM $cat.r.main.db.nation WHERE n_nationkey < 5")
      val listLoc = exportListLoc(repo, s, "db/ev_stage")
      val meta1 = load()
      val refSnap = meta1.get("refs").get("main").get("snapshot-id").asLong()
      post(s"""{"requirements":[
         |{"type":"assert-table-uuid",
         |"uuid":"${meta1.get("table-uuid").asText()}"},
         |{"type":"assert-ref-snapshot-id","ref":"main",
         |"snapshot-id":$refSnap}],
         |"updates":[
         |{"action":"add-snapshot","snapshot":{"snapshot-id":9401,
         |"timestamp-ms":1700000000000,"schema-id":0,
         |"manifest-list":"$listLoc",
         |"summary":{"operation":"append"}}},
         |{"action":"set-snapshot-ref","ref-name":"main",
         |"snapshot-id":9401,"type":"branch"}]}""".stripMargin
        .replaceAll("\n", ""))
    } finally srv.close()
    s.sql(s"SELECT n_nationkey, n_label, n_regionkey, n_flag " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** The spec's staged CREATE (transactional CTAS) over REST (r12):
    * `stage-create: true` answers snapshot-less metadata and commits
    * NOTHING; the engine writes its CTAS output (staged here on a graft
    * table whose files live in the repo data plane — the zero-copy
    * path a compliant writer takes via write.data.path) and publishes
    * with an `assert-create` commit that lands schema + spec + props +
    * first snapshot as ONE graft commit. The gate reads the resulting
    * table via SQL against the DuckDB oracle.
    */
  private def restCtas(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-ctasgate")), Some(s),
      writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ns = java.net.URLEncoder.encode("main\u001Fdb", "UTF-8")
      def post(path: String, body: String)
          : com.fasterxml.jackson.databind.JsonNode = {
        val resp = http.send(restReq(
          java.net.URI.create(s"${srv.uri}$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200,
          s"$path -> ${resp.statusCode()}: ${resp.body()}")
        mapper.readTree(resp.body())
      }
      val staged = post(s"/v1/namespaces/$ns/tables",
        """{"name":"ctas","stage-create":true,"schema":{"type":"struct",
          |"schema-id":0,"fields":[
          |{"id":1,"name":"n_nationkey","required":false,"type":"int"},
          |{"id":2,"name":"n_name","required":false,"type":"string"},
          |{"id":3,"name":"n_regionkey","required":false,"type":"int"}]}}"""
          .stripMargin.replaceAll("\n", ""))
      require(!staged.has("metadata-location"),
        "staged create must not claim a committed metadata-location")
      val sm = staged.get("metadata")
      // the engine's CTAS output, staged zero-copy in the data plane
      s.sql(s"CREATE TABLE $cat.r.main.db.ctas_stage AS " +
        s"SELECT n_nationkey, n_name, n_regionkey " +
        s"FROM $cat.r.main.db.nation WHERE n_regionkey <= 2")
      val listLoc = exportListLoc(repo, s, "db/ctas_stage")
      post(s"/v1/namespaces/$ns/tables/ctas",
        s"""{"requirements":[{"type":"assert-create"}],"updates":[
           |{"action":"assign-uuid","uuid":"${sm.get("table-uuid").asText()}"},
           |{"action":"upgrade-format-version","format-version":2},
           |{"action":"add-schema","schema":${mapper.writeValueAsString(
               sm.get("schemas").elements().next())}},
           |{"action":"set-current-schema","schema-id":-1},
           |{"action":"add-partition-spec","spec":{"spec-id":0,"fields":[]}},
           |{"action":"set-default-spec","spec-id":-1},
           |{"action":"set-properties","updates":{"source":"rest-ctas"}},
           |{"action":"add-snapshot","snapshot":{"snapshot-id":9501,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"$listLoc",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":9501,"type":"branch"}]}""".stripMargin
          .replaceAll("\n", ""))
    } finally srv.close()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.ctas ORDER BY n_nationkey")
  }

  /** Equality-delete commits over REST (r12) — the full round trip:
    * a MoR upsert is staged with graft itself on a zero-copy clone
    * (merge-on-read DELETE of two keys + an insert), the clone EXPORTS
    * its tombstone as real Iceberg equality delete files (§2.1b.3),
    * and the exported manifest list is posted back to the ORIGINAL
    * table as an `overwrite` commit — which the server lowers onto a
    * fresh graft tombstone (the inverse mapping), with the same-commit
    * data file exempt at the new sequence. Deleted keys disappear from
    * the base rows, the upserted row survives; the gate reads the
    * final table via SQL against the DuckDB oracle.
    */
  private def restMor(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-morgate")), Some(s),
      writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ns = java.net.URLEncoder.encode("main\u001Fdb", "UTF-8")
      val get = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
        .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(get.statusCode() == 200, s"loadTable failed: ${get.body()}")
      val meta0 = mapper.readTree(get.body()).get("metadata")
      // the engine's MoR upsert, staged on a zero-copy clone: delete
      // keys 1 and 21, re-insert key 1 — the tombstone exports as a
      // real equality delete file, the insert as a data file
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.mor_stage')")
      s.sql(s"ALTER TABLE $cat.r.main.db.mor_stage " +
        "SET TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
      s.sql(s"DELETE FROM $cat.r.main.db.mor_stage " +
        "WHERE n_nationkey IN (1, 21)")
      s.sql(s"INSERT INTO $cat.r.main.db.mor_stage VALUES " +
        "(1, 'UPSERTED', 0)")
      // a real MoR engine stages its delete files under the served
      // write.data.path (inside the repo data plane) — export there so
      // the equality delete file sits exactly where Flink would put it
      val stage = java.nio.file.Paths.get(java.net.URI.create(
        meta0.get("properties").get("write.data.path").asText() + "/"))
      Files.createDirectories(stage)
      val listLoc = exportListLoc(repo, s, "db/mor_stage", Some(stage))
      val refSnap = meta0.get("refs").get("main").get("snapshot-id").asLong()
      val resp = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          s"""{"requirements":[
             |{"type":"assert-table-uuid",
             |"uuid":"${meta0.get("table-uuid").asText()}"},
             |{"type":"assert-ref-snapshot-id","ref":"main",
             |"snapshot-id":$refSnap}],
             |"updates":[
             |{"action":"add-snapshot","snapshot":{"snapshot-id":9601,
             |"timestamp-ms":1700000000000,"schema-id":0,
             |"manifest-list":"$listLoc",
             |"summary":{"operation":"overwrite"}}},
             |{"action":"set-snapshot-ref","ref-name":"main",
             |"snapshot-id":9601,"type":"branch"}]}""".stripMargin
            .replaceAll("\n", ""))).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"equality-delete commit failed: ${resp.statusCode()} ${resp.body()}")
    } finally srv.close()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey, n_name")
  }

  /** Positional-delete commit over REST (r13): the default Spark MoR
    * DELETE/UPDATE write shape — and the last engine commit the server
    * used to refuse. A zero-copy clone takes a RANGE-predicate
    * merge-on-read DELETE (not equality-expressible, so the exporter
    * emits REAL v2 positional delete parquet files — the same bytes an
    * external MoR engine posts), and the engine-shaped snapshot commits
    * against the base table: the server lowers the posted positions
    * onto a server-side CoW rewrite of exactly the dirty files
    * (IcebergRestServer.materializePosDeletes → readPlan sub-plan →
    * one member commit). The gate reads the final table natively; DuckDB
    * replays the predicate.
    */
  private def restPosDel(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-pdgate")), Some(s),
      writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ns = java.net.URLEncoder.encode("maindb", "UTF-8")
      val get = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
        .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(get.statusCode() == 200, s"loadTable failed: ${get.body()}")
      val meta0 = mapper.readTree(get.body()).get("metadata")
      // the engine's MoR DELETE, staged on a zero-copy clone: a range
      // predicate is NOT equality-expressible, so the export writes
      // positional delete files naming (file, pos) of the dead rows
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.posdel_stage')")
      s.sql(s"ALTER TABLE $cat.r.main.db.posdel_stage " +
        "SET TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
      s.sql(s"DELETE FROM $cat.r.main.db.posdel_stage " +
        "WHERE n_name > 'NATION_2'")
      val stage = java.nio.file.Paths.get(java.net.URI.create(
        meta0.get("properties").get("write.data.path").asText() + "/"))
      Files.createDirectories(stage)
      val listLoc = exportListLoc(repo, s, "db/posdel_stage", Some(stage))
      val refSnap = meta0.get("refs").get("main").get("snapshot-id").asLong()
      val resp = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/nation"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          s"""{"requirements":[
             |{"type":"assert-table-uuid",
             |"uuid":"${meta0.get("table-uuid").asText()}"},
             |{"type":"assert-ref-snapshot-id","ref":"main",
             |"snapshot-id":$refSnap}],
             |"updates":[
             |{"action":"add-snapshot","snapshot":{"snapshot-id":9701,
             |"timestamp-ms":1700000000000,"schema-id":0,
             |"manifest-list":"$listLoc",
             |"summary":{"operation":"delete"}}},
             |{"action":"set-snapshot-ref","ref-name":"main",
             |"snapshot-id":9701,"type":"branch"}]}""".stripMargin
            .replaceAll("\n", ""))).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"positional-delete commit failed: ${resp.statusCode()} ${resp.body()}")
      // proof it landed as CoW, not a tombstone: no MoR state remains
      val snap = repo.snapshot(repo.resolve("main").tables("db/nation"))
      require(graft.versioned.Tombstones.of(snap).isEmpty,
        "positional-delete commit left a tombstone — expected CoW")
    } finally srv.close()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** SHOW TABLES per branch (r13 gate for the spec-only op): catalog
    * listings are BRANCH-SCOPED state — a CTAS on main and a CTAS on
    * dev are each visible only on their own ref. The gate unions both
    * branches' SHOW TABLES output into one hashed result; DuckDB's
    * oracle is the literal expected listing.
    */
  private def showTablesGate(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"CREATE TABLE $cat.r.main.db.extra AS " +
      s"SELECT * FROM $cat.r.main.db.nation WHERE n_nationkey < 3")
    s.sql(s"CREATE TABLE $cat.r.dev.db.devonly AS " +
      s"SELECT * FROM $cat.r.dev.db.nation WHERE n_nationkey < 2")
    val main = s.sql(s"SHOW TABLES IN $cat.r.main.db")
      .select(lit("main").as("ref"), col("tableName").as("table_name"))
    val dev = s.sql(s"SHOW TABLES IN $cat.r.dev.db")
      .select(lit("dev").as("ref"), col("tableName").as("table_name"))
    main.unionAll(dev).orderBy(col("ref"), col("table_name"))
  }

  /** CALL procedures driving a whole branch lifecycle (r13 gate for the
    * spec-only op): create_branch → row-level change on the branch →
    * merge → create_tag → destructive change on main → rollback to the
    * tag. The final state hash-proves each step: rows < 20 exist ONLY
    * if the merge landed AND the later delete was rolled back (a failed
    * rollback would leave < 15; a failed merge would leave all 25).
    */
  private def proceduresGate(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    def one(sql: String): Unit =
      require(s.sql(sql).collect().nonEmpty, s"no result from: $sql")
    one(s"CALL $cat.system.create_branch('r', 'feat', 'main')")
    s.sql(s"DELETE FROM $cat.r.feat.db.nation WHERE n_nationkey >= 20")
    one(s"CALL $cat.system.merge('r', 'feat', 'main')")
    one(s"CALL $cat.system.create_tag('r', 'merged', 'main')")
    s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey >= 15")
    one(s"CALL $cat.system.rollback('r', 'main', 'merged')")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Multi-table TRANSACTION over REST (r13): the spec's
    * CommitTransactionRequest lands fact + dim appends in ONE graft
    * commit (IcebergRestServer.commitTransaction — the REST analog of
    * TableOps.atomicAppend, the repo-level atomicity per-table Iceberg
    * catalogs cannot give). Two engine-shaped appends (staged on
    * zero-copy clones, exported, manifest lists posted) hit db.nation
    * and db.dim in one POST; the gate unions both tables' final rows
    * into one hashed result, and requires the branch advanced by
    * EXACTLY ONE commit.
    */
  private def restTxn(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-txngate")), Some(s),
      writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ns = java.net.URLEncoder.encode("main\u001Fdb", "UTF-8")
      // the second table of the transaction: a zero-copy clone of nation
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.dim')")
      def loadMeta(t: String): com.fasterxml.jackson.databind.JsonNode = {
        val get = http.send(restReq(
          java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/$t"))
          .GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(get.statusCode() == 200, s"loadTable $t: ${get.body()}")
        mapper.readTree(get.body()).get("metadata")
      }
      // engine staging: clone, add the new row, export, grab the list
      def stagedList(stageKey: String, insert: String): String = {
        s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
          s"'db.nation', 'db.$stageKey')")
        s.sql(s"INSERT INTO $cat.r.main.db.$stageKey VALUES $insert")
        exportListLoc(repo, s, s"db/$stageKey")
      }
      val listA = stagedList("txn_a_stage", "(900, 'TXA', 0)")
      val listB = stagedList("txn_b_stage", "(901, 'TXB', 1)")
      // the third member (r14→r15): a schema evolution COMBINED with
      // an append in ONE member — the engine checkpoint that widens a
      // table and writes its first rows under the new schema while
      // siblings append. Staged on a clone evolved the same way, so
      // the posted file is genuinely written under the widened schema.
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.wide')")
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.wide_stage')")
      s.sql(s"ALTER TABLE $cat.r.main.db.wide_stage " +
        "ADD COLUMN n_flag BIGINT")
      s.sql(s"INSERT INTO $cat.r.main.db.wide_stage " +
        "VALUES (902, 'TXW', 2, 77)")
      val listW = exportListLoc(repo, s, "db/wide_stage")
      // the fourth member (r15): the Flink-upsert shape — equality
      // delete + same-commit replacement row, staged with graft's own
      // MoR machinery so the posted list carries REAL content=2 files
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.ups')")
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.ups_stage')")
      s.sql(s"ALTER TABLE $cat.r.main.db.ups_stage " +
        "SET TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
      s.sql(s"DELETE FROM $cat.r.main.db.ups_stage WHERE n_nationkey = 2")
      s.sql(s"INSERT INTO $cat.r.main.db.ups_stage " +
        "VALUES (2, 'UPSERTED', 9)")
      // a real MoR engine stages its delete files under the served
      // write.data.path — export there so the content=2 file sits
      // exactly where Flink would put it (restMor does the same)
      val upsStage = java.nio.file.Paths.get(java.net.URI.create(
        loadMeta("ups").get("properties").get("write.data.path").asText()
          + "/"))
      Files.createDirectories(upsStage)
      val listUps = exportListLoc(repo, s, "db/ups_stage", Some(upsStage))
      // the fifth member (r15): a CoW REWRITE — the engine's
      // copy-on-write DELETE drops base files and posts their
      // survivors, riding the same atomic commit as the sibling
      // appends (staged with graft's own CoW delete on a clone, so the
      // posted manifest genuinely drops base files and adds rewritten
      // ones living in the repo data plane — zero-copy registration)
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.cow')")
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.cow_stage')")
      s.sql(s"DELETE FROM $cat.r.main.db.cow_stage WHERE n_nationkey >= 20")
      val listCow = exportListLoc(repo, s, "db/cow_stage")
      // the sixth member (r15): POSITIONAL deletes — the default Spark
      // MoR DELETE shape (a range predicate is not equality-
      // expressible, so the export writes content=1 position files);
      // the server lowers the member onto a per-table CoW rewrite
      // staged BEFORE the atomic fold
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.pos')")
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.pos_stage')")
      s.sql(s"ALTER TABLE $cat.r.main.db.pos_stage " +
        "SET TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
      s.sql(s"DELETE FROM $cat.r.main.db.pos_stage " +
        "WHERE n_name > 'NATION_5'")
      val posStage = java.nio.file.Paths.get(java.net.URI.create(
        loadMeta("pos").get("properties").get("write.data.path").asText()
          + "/"))
      Files.createDirectories(posStage)
      val listPos = exportListLoc(repo, s, "db/pos_stage", Some(posStage))
      // the seventh member (r16): a staged CREATE (assert-create) —
      // the Flink checkpoint that creates a side-output table in the
      // SAME atomic commit as its siblings' appends. The engine first
      // stages the create (no commit), writes the first snapshot's
      // file, then posts the create as a transaction member.
      s.sql(s"CREATE TABLE $cat.r.main.db.sidecar_stage (id INT, v STRING)")
      s.sql(s"INSERT INTO $cat.r.main.db.sidecar_stage VALUES (1, 'SIDE')")
      val listSc = exportListLoc(repo, s, "db/sidecar_stage")
      val stageResp = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """{"name":"sidecar","stage-create":true,"schema":{
            |"type":"struct","schema-id":0,"fields":[
            |{"id":1,"name":"id","required":false,"type":"int"},
            |{"id":2,"name":"v","required":false,"type":"string"}]}}"""
            .stripMargin.replaceAll("\n", "")))
        .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      require(stageResp.statusCode() == 200,
        s"stage-create failed: ${stageResp.body()}")
      val stagedSc = mapper.readTree(stageResp.body()).get("metadata")
      val createMember: String =
        s"""{"identifier":{"namespace":["main","db"],"name":"sidecar"},
           |"requirements":[{"type":"assert-create"}],"updates":[
           |{"action":"assign-uuid",
           |"uuid":"${stagedSc.get("table-uuid").asText()}"},
           |{"action":"add-schema","schema":${mapper.writeValueAsString(
               stagedSc.get("schemas").elements().next())}},
           |{"action":"set-current-schema","schema-id":-1},
           |{"action":"add-partition-spec","spec":{"spec-id":0,"fields":[]}},
           |{"action":"set-default-spec","spec-id":-1},
           |{"action":"add-snapshot","snapshot":{"snapshot-id":9807,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"$listSc",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":9807,"type":"branch"}]}""".stripMargin
          .replaceAll("\n", "")
      def change(t: String, snapId: Long, listLoc: String): String = {
        val meta = loadMeta(t)
        val refSnap = meta.get("refs").get("main").get("snapshot-id").asLong()
        s"""{"identifier":{"namespace":["main","db"],"name":"$t"},
           |"requirements":[
           |{"type":"assert-table-uuid",
           |"uuid":"${meta.get("table-uuid").asText()}"},
           |{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":$refSnap}],
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":$snapId,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"$listLoc",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":$snapId,"type":"branch"}]}""".stripMargin
          .replaceAll("\n", "")
      }
      // the COMBINED member (r15): served schema + one appended BIGINT
      // field (exactly what iceberg-core's UpdateSchema posts) AND the
      // snapshot whose files are written under that widened schema
      def schemaPlusAppend(t: String, snapId: Long, listLoc: String)
          : String = {
        val meta = loadMeta(t)
        val refSnap = meta.get("refs").get("main").get("snapshot-id").asLong()
        val s0 = meta.get("schemas").elements().next()
        val fields = {
          import scala.jdk.CollectionConverters._
          s0.get("fields").elements().asScala.toSeq
        }
        val maxId = fields.map(_.get("id").asInt()).max
        val kept = fields.map(f => f.toString).mkString(",")
        s"""{"identifier":{"namespace":["main","db"],"name":"$t"},
           |"requirements":[
           |{"type":"assert-table-uuid",
           |"uuid":"${meta.get("table-uuid").asText()}"},
           |{"type":"assert-ref-snapshot-id","ref":"main",
           |"snapshot-id":$refSnap}],
           |"updates":[
           |{"action":"add-schema","schema":{"type":"struct",
           |"schema-id":1,"fields":[$kept,
           |{"id":${maxId + 1},"name":"n_flag","required":false,
           |"type":"long"}]}},
           |{"action":"set-current-schema","schema-id":-1},
           |{"action":"add-snapshot","snapshot":{"snapshot-id":$snapId,
           |"timestamp-ms":1700000000000,"schema-id":1,
           |"manifest-list":"$listLoc",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":$snapId,"type":"branch"}]}""".stripMargin
          .replaceAll("\n", "")
      }
      // the UPSERT member (r15): equality delete + same-commit
      // replacement row (Flink's checkpoint), posted as overwrite
      def upsertChange(t: String, snapId: Long, listLoc: String): String =
        change(t, snapId, listLoc).replace(
          "\"summary\":{\"operation\":\"append\"}",
          "\"summary\":{\"operation\":\"overwrite\"}")
      // the rewrite and posdel members post operation=overwrite/delete
      def rewriteChange(t: String, snapId: Long, listLoc: String,
          op: String): String =
        change(t, snapId, listLoc).replace(
          "\"summary\":{\"operation\":\"append\"}",
          s""""summary":{"operation":"$op"}""")
      val headBefore = repo.headCommit("main").id
      val body = s"""{"table-changes":[
        |${change("nation", 9801L, listA)},
        |${change("dim", 9802L, listB)},
        |${schemaPlusAppend("wide", 9803L, listW)},
        |${upsertChange("ups", 9804L, listUps)},
        |${rewriteChange("cow", 9805L, listCow, "overwrite")},
        |${rewriteChange("pos", 9806L, listPos, "delete")},
        |$createMember]}"""
        .stripMargin.replaceAll("\n", "")
      val resp = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/transactions/commit"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 204,
        s"transaction failed: ${resp.statusCode()} ${resp.body()}")
      // atomicity: exactly ONE commit moved the branch — the appends,
      // the widen+append member, and the upsert member landed together
      val headAfter = repo.headCommit("main")
      require(headAfter.parents == Seq(headBefore),
        s"transaction took ${headAfter.parents} commits — expected one")
    } finally srv.close()
    s.sql(s"SELECT 'a' AS src, n_nationkey, n_name, n_regionkey, " +
      "CAST(NULL AS BIGINT) AS n_flag " +
      s"FROM $cat.r.main.db.nation " +
      s"UNION ALL SELECT 'b', n_nationkey, n_name, n_regionkey, " +
      "CAST(NULL AS BIGINT) " +
      s"FROM $cat.r.main.db.dim " +
      // the widened sibling answers under the NEW schema: pre-
      // evolution rows read NULL for the added column, the member's
      // own appended row carries its value
      s"UNION ALL SELECT 'c', n_nationkey, n_name, n_regionkey, n_flag " +
      s"FROM $cat.r.main.db.wide " +
      // the upsert member: key 2 replaced, everything else untouched
      s"UNION ALL SELECT 'd', n_nationkey, n_name, n_regionkey, " +
      "CAST(NULL AS BIGINT) " +
      s"FROM $cat.r.main.db.ups " +
      // the CoW rewrite member: keys >= 20 rewritten away
      s"UNION ALL SELECT 'e', n_nationkey, n_name, n_regionkey, " +
      "CAST(NULL AS BIGINT) " +
      s"FROM $cat.r.main.db.cow " +
      // the positional-delete member: names > NATION_5 materialized out
      s"UNION ALL SELECT 'f', n_nationkey, n_name, n_regionkey, " +
      "CAST(NULL AS BIGINT) " +
      s"FROM $cat.r.main.db.pos " +
      // the CTAS member: born (with its first row) in the SAME commit
      s"UNION ALL SELECT 'g', id, v, CAST(NULL AS INT), " +
      "CAST(NULL AS BIGINT) " +
      s"FROM $cat.r.main.db.sidecar " +
      "ORDER BY src, n_nationkey")
  }

  /** Catalog migration over REST (r13 gate for the r12 op): a
    * merge-on-read source table (clone of nation, two keys deleted as a
    * MoR tombstone) exports with REAL delete files, and the export's
    * metadata-location posts to `POST .../register` — the server's
    * copy-in path reads the LIVE rows through the independent importer
    * (deletes applied) and lands them as native graft files in one
    * commit. The gate reads the ADOPTED table natively; DuckDB replays
    * the delete. The zero-copy fast path (same-data-plane source, no
    * deletes) is spec-asserted in IcebergRestServerSpec (no Spark job,
    * shared rels) — this gate hash-proves the row-copying importer arm.
    */
  private def restRegister(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-reggate")), Some(s),
      writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val ns = java.net.URLEncoder.encode("maindb", "UTF-8")
      // the foreign table being migrated: MoR deletes make its live
      // rows differ from its raw files
      s.sql(s"CALL $cat.system.clone_table('r', 'main', " +
        "'db.nation', 'db.reg_src')")
      s.sql(s"ALTER TABLE $cat.r.main.db.reg_src " +
        "SET TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
      s.sql(s"DELETE FROM $cat.r.main.db.reg_src " +
        "WHERE n_nationkey IN (2, 7)")
      val metaP = graft.versioned.IcebergExport.export(repo, "main",
        "db/reg_src", GateScratch.register(Files.createTempDirectory("graft-reg-gate-export")),
        Some(s), 1, 1, 0)
      val resp = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/register"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          s"""{"name":"reg_t","metadata-location":"$metaP"}"""))
        .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"register failed: ${resp.statusCode()} ${resp.body()}")
    } finally srv.close()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.reg_t ORDER BY n_nationkey")
  }

  /** Partition-spec evolution over REST (r12): an engine creates an
    * unpartitioned table through the catalog, posts the spec's
    * add-partition-spec/set-default-spec commit (lowered onto graft's
    * forward-only spec swap), then appends files whose manifests
    * DECLARE identity partition tuples — which the server re-renders
    * canonically and cross-checks against each file's own footer
    * min/max before registering. The gate reads the final table
    * natively against the DuckDB oracle; SpjSpec-style pruning of the
    * declared tuples is spec-asserted elsewhere, rows are proved here.
    */
  private def restPartEvo(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-pegate")), Some(s),
      writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ns = java.net.URLEncoder.encode("main\u001Fdb", "UTF-8")
      def post(path: String, body: String)
          : com.fasterxml.jackson.databind.JsonNode = {
        val resp = http.send(restReq(
          java.net.URI.create(s"${srv.uri}$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200,
          s"$path -> ${resp.statusCode()}: ${resp.body()}")
        mapper.readTree(resp.body())
      }
      val created = post(s"/v1/namespaces/$ns/tables",
        """{"name":"wpart","schema":{"type":"struct","schema-id":0,
          |"fields":[
          |{"id":1,"name":"n_nationkey","required":false,"type":"int"},
          |{"id":2,"name":"n_name","required":false,"type":"string"},
          |{"id":3,"name":"n_regionkey","required":false,"type":"int"}]}}"""
          .stripMargin.replaceAll("\n", ""))
      val meta0 = created.get("metadata")
      // the engine's ALTER TABLE ADD PARTITION FIELD (metadata-only)
      post(s"/v1/namespaces/$ns/tables/wpart",
        s"""{"requirements":[
           |{"type":"assert-table-uuid",
           |"uuid":"${meta0.get("table-uuid").asText()}"}],
           |"updates":[
           |{"action":"add-partition-spec","spec":{"spec-id":1,"fields":[
           |{"source-id":3,"name":"n_regionkey","transform":"identity",
           |"field-id":1000}]}},
           |{"action":"set-default-spec","spec-id":-1}]}""".stripMargin
          .replaceAll("\n", ""))
      // the engine's partitioned write, staged with graft itself (real
      // per-file identity tuples in the exported manifests)
      s.sql(s"CREATE TABLE $cat.r.main.db.pe_stage " +
        s"(n_nationkey INT, n_name STRING, n_regionkey INT) " +
        "PARTITIONED BY (n_regionkey)")
      s.sql(s"INSERT INTO $cat.r.main.db.pe_stage " +
        s"SELECT n_nationkey, n_name, n_regionkey FROM $cat.r.main.db.nation")
      val listLoc = exportListLoc(repo, s, "db/pe_stage")
      val get = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/tables/wpart"))
        .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(get.statusCode() == 200, s"loadTable failed: ${get.body()}")
      val meta1 = mapper.readTree(get.body()).get("metadata")
      post(s"/v1/namespaces/$ns/tables/wpart",
        s"""{"requirements":[
           |{"type":"assert-table-uuid",
           |"uuid":"${meta1.get("table-uuid").asText()}"}],
           |"updates":[
           |{"action":"add-snapshot","snapshot":{"snapshot-id":9701,
           |"timestamp-ms":1700000000000,"schema-id":0,
           |"manifest-list":"$listLoc",
           |"summary":{"operation":"append"}}},
           |{"action":"set-snapshot-ref","ref-name":"main",
           |"snapshot-id":9701,"type":"branch"}]}""".stripMargin
          .replaceAll("\n", ""))
    } finally srv.close()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.wpart ORDER BY n_nationkey")
  }

  /** Views over the REST catalog (r12): an external engine posts a
    * CreateViewRequest (spark-dialect SQL representation, relative
    * table reference, default-namespace [branch, db]) and the view
    * lands as a graft VERSIONED view; loading it back over REST serves
    * spec ViewMetadata with the identical representation; and the gate
    * reads the view NATIVELY through the analyzer rule (which anchors
    * a view carrying no engine catalog context in the reader's
    * catalog), hash-checked against the DuckDB oracle.
    */
  private def restView(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val srv = graft.versioned.IcebergRestServer.start(repo,
      GateScratch.register(Files.createTempDirectory("graft-rest-viewgate")), Some(s),
      writable = true, token = Some(GateRestToken))
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ns = java.net.URLEncoder.encode("maindb", "UTF-8")
      val resp = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/views"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """{"name":"rv","schema":{"type":"struct","schema-id":0,"fields":[
            |{"id":1,"name":"n_nationkey","required":false,"type":"int"},
            |{"id":2,"name":"n_name","required":false,"type":"string"}]},
            |"view-version":{"version-id":1,"timestamp-ms":1700000000000,
            |"schema-id":0,"summary":{},
            |"representations":[{"type":"sql",
            |"sql":"SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1",
            |"dialect":"spark"}],
            |"default-namespace":["main","db"]},
            |"properties":{"comment":"rest-created"}}"""
            .stripMargin.replaceAll("\n", ""))).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"create view -> ${resp.statusCode()}: ${resp.body()}")
      // load back: the representation round-trips verbatim
      val get = http.send(restReq(
        java.net.URI.create(s"${srv.uri}/v1/namespaces/$ns/views/rv"))
        .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(get.statusCode() == 200, s"loadView failed: ${get.body()}")
      val ver = mapper.readTree(get.body()).get("metadata")
        .get("versions").elements().next()
      val rep = ver.get("representations").elements().next()
      require(rep.get("sql").asText().contains("n_regionkey = 1"),
        s"representation did not round-trip: $rep")
      // the served default-namespace must keep the DB segment — an
      // external engine resolves the view's relative `nation` reference
      // against it (r13 ADVICE: a no-prefix server used to serve just
      // [branch], stranding external resolution)
      val dns = scala.jdk.CollectionConverters.IteratorHasAsScala(
        ver.get("default-namespace").elements()).asScala
        .map(_.asText()).toSeq
      require(dns == Seq("main", "db"),
        s"served default-namespace lost the db segment: $dns")
    } finally srv.close()
    s.sql(s"SELECT n_nationkey, n_name FROM $cat.r.main.db.rv " +
      "ORDER BY n_nationkey")
  }

  /** Metadata-answered aggregates, ORACLE-proved (r12): count/min/max
    * over a graft table plan as a LocalTableScan from snapshot stats
    * (zero files read — spec-asserted in the planner suite); this gate
    * proves those metadata answers are CORRECT against DuckDB
    * computing the same aggregates from the raw rows — fast is only
    * worth anything if it is also right. Two commits + a rename ride
    * along so the stats survive appends and metadata-only evolution.
    */
  private def metaAgg(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 1000, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation WHERE n_nationkey < 7")
    s.sql(s"ALTER TABLE $cat.r.main.db.nation " +
      "RENAME COLUMN n_regionkey TO region")
    s.sql(
      s"""SELECT count(*) AS n,
         |       min(n_nationkey) AS min_key, max(n_nationkey) AS max_key,
         |       min(region) AS min_region, max(region) AS max_region
         |FROM $cat.r.main.db.nation""".stripMargin)
  }

  /** The optimistic commit protocol under real contention, ORACLE-proved
    * (r12): 8 threads INSERT disjoint slices into ONE table through the
    * same branch head concurrently — every commit must land exactly
    * once whatever the interleaving (CAS losers rebase and retry inside
    * commitAppend), so the final table is the deterministic union no
    * matter which thread won which race. The 8-thread stress SPEC
    * asserts protocol internals; this gate hash-proves the outcome.
    */
  private def concurrentCommit(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            s.sql(s"INSERT INTO $cat.r.main.db.nation " +
              s"SELECT n_nationkey + ${1000 * (i + 1)}, n_name, n_regionkey " +
              s"FROM $cat.r.main.db.nation " +
              s"WHERE n_nationkey % 8 = $i AND n_nationkey < 24")
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Snapshot/commit expiry, ORACLE-proved (r12): several commits build
    * history, expiry (olderThanMs=0: everything unreachable goes now)
    * sweeps unreachable commits and snapshots — and the LIVE head must
    * read back byte-identical afterwards: expiry may never touch data
    * any live ref still reaches.
    */
  private def expireRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    // history: two overwrites whose intermediate snapshots become
    // unreachable-by-head (still tag-less), then expire
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 800, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation WHERE n_nationkey < 3")
    s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey >= 801")
    repo.expireSnapshots(olderThanMs = 0L)
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Streaming SINK into a graft table, ORACLE-proved (r12): an event
    * stream lands through `writeStream.toTable` (GraftTable's
    * STREAMING_WRITE — per-epoch atomic commits), and the final table
    * aggregate must equal the one-shot batch aggregate DuckDB computes
    * over the same events. Order-independent aggregates (exact DECIMAL
    * sums, max event_id) make the gate deterministic however the
    * micro-batches slice.
    */
  private def streamSink(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = freshCatalog(s)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    val ev = T.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    s.sql(s"CREATE TABLE $cat.r.main.db.sink (${ev.schema.toDDL})")
    val src = GateScratch.register(Files.createTempDirectory("graft-sink-src"))
    ev.repartition(4).write.mode("overwrite").parquet(src.toString)
    val q = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(src.toString)
      .writeStream
      .option("checkpointLocation",
        GateScratch.register(Files.createTempDirectory("graft-sink-ckpt")).toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$cat.r.main.db.sink")
    q.awaitTermination()
    s.sql(
      s"""SELECT event_type, count(*) AS n,
         |       cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |       max(event_id) AS last_id
         |FROM $cat.r.main.db.sink
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** Copy-on-write conflict validation, ORACLE-proved (r12): a rewrite
    * built against a STALE base (its dropped file was already rewritten
    * away by a committed DELETE) must refuse at publish time — silently
    * landing it would resurrect the deleted rows. The gate stages
    * exactly that race: DELETE commits first, the stale rewrite throws
    * MergeConflictException, and the final table hash-matches ONLY the
    * DELETE's outcome (the loser left no trace).
    */
  private def cowConflictRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val key = "db/nation"
    val staleFiles = repo.snapshot(
      repo.resolve("main").tables(key)).files.map(_.path).toSet
    require(staleFiles.nonEmpty, "fixture table has no files")
    // the winning committed rewrite (CoW DELETE rewrites the file)
    s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey >= 20")
    // the loser: a rewrite still dropping the ORIGINAL (now-gone) file
    val thrown =
      try {
        graft.versioned.TableOps.commitRewrite(repo, "main", key,
          staleFiles, Nil, Some("stale rewrite must refuse"))
        false
      } catch { case _: graft.versioned.MergeConflictException => true }
    require(thrown, "stale rewrite was accepted — deleted rows would " +
      "have resurrected")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Runtime (DPP-style) filtering, ORACLE-proved rows (r12): a join
    * whose build side is a selective dim filter lets Spark push an
    * In-filter into the graft scan at RUNTIME (SupportsRuntimeFiltering
    * — the planner spec asserts the file-list pruning); this gate
    * proves the filtered scan returns exactly the right rows.
    */
  private def runtimeJoin(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(
      s"""SELECT n.n_nationkey, n.n_name, r.r_name
         |FROM $cat.r.main.db.nation n
         |JOIN (SELECT r_regionkey, r_name FROM parquet.`$d/region.parquet`
         |      WHERE r_name IN ('ASIA', 'EUROPE')) r
         |  ON n.n_regionkey = r.r_regionkey
         |ORDER BY n.n_nationkey""".stripMargin)
  }

  /** DROP + recreate under the SAME name, ORACLE-proved (r12): the
    * recreated table must read ONLY its own rows — never the dropped
    * incarnation's bytes (fresh snapshot, fresh files) — while the
    * pre-drop history stays reachable through earlier commits.
    */
  /** RENAME TABLE as a metadata-only map re-key (r17 — the reference
    * structurally cannot: LakeFSCatalog.java:218 throws because its
    * table identity is a storage path; graft's commit maps names to
    * snapshot ids, so the rename is ONE commit moving a key). The gate
    * hash-proves three things in one result: the new name serves the
    * identical rows ('new'), time travel BEFORE the rename still
    * resolves the OLD name ('old'), and the old name is gone from the
    * head (a leaked old-name row would double the 'new' half and break
    * the hash via the require below).
    */
  private def renameRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val before = repo.headCommit("main").id
    s.sql(s"ALTER TABLE $cat.r.main.db.nation RENAME TO r.main.db.nation_rn")
    require(!s.catalog.tableExists(s"$cat.r.main.db.nation"),
      "old name still resolves after rename")
    s.sql(
      s"""SELECT n_nationkey, n_name, n_regionkey, 'new' AS src
         |FROM $cat.r.main.db.nation_rn
         |UNION ALL
         |SELECT n_nationkey, n_name, n_regionkey, 'old' AS src
         |FROM $cat.r.main.db.nation VERSION AS OF '$before'
         |ORDER BY src, n_nationkey""".stripMargin)
  }

  private def dropRecreate(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"DROP TABLE $cat.r.main.db.nation")
    s.sql(s"CREATE TABLE $cat.r.main.db.nation " +
      "(n_nationkey INT, n_name STRING, n_regionkey INT)")
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey, upper(n_name), n_regionkey " +
      s"FROM $cat.r.dev.db.nation WHERE n_nationkey < 10")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Copy-on-write DELETE, ORACLE-proved on its own key (r12): the
    * fundamental row-level op — stats-pruned candidate files, only hit
    * files rewritten, survivors byte-preserved — read back against the
    * oracle replaying the same predicate relationally. (Every rewrite
    * gate exercises this implicitly; this key gates it directly.)
    */
  private def deleteRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"DELETE FROM $cat.r.main.db.nation " +
      "WHERE n_regionkey = 2 AND n_nationkey % 2 = 0")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Branch create + commit isolation, ORACLE-proved (r12): a zero-copy
    * branch diverges — DML on it must be invisible on main and vice
    * versa — and the gate reads BOTH heads in one result, so either
    * leak direction breaks the hash.
    */
  private def branchIsolation(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"CREATE NAMESPACE $cat.r.iso") // zero-copy branch from main
    s.sql(s"DELETE FROM $cat.r.iso.db.nation WHERE n_nationkey >= 10")
    s.sql(s"INSERT INTO $cat.r.main.db.nation VALUES (600, 'MAINONLY', 0)")
    s.sql(
      s"""SELECT 'main' AS ref, n_nationkey, n_name FROM $cat.r.main.db.nation
         |UNION ALL
         |SELECT 'iso', n_nationkey, n_name FROM $cat.r.iso.db.nation
         |ORDER BY ref, n_nationkey""".stripMargin)
  }

  /** Incremental (checkpointed-consumer) read: `graft.fromRef = <c1>`
    * scans ONLY the files appended since commit c1 — resolved purely
    * from snapshot metadata (no listing, no diffing data). The batch
    * dual of the streaming source: a consumer that remembers the last
    * commit it processed reads exactly the (c1, head] delta.
    */
  private def incrementalRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val c1 = repo.headCommit("main").id
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 500, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation WHERE n_nationkey < 4")
    s.read.option("graft.fromRef", c1).table(s"$cat.r.main.db.nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** Streaming CDC apply (the bronze→silver upsert loop): events land in
    * a graft table across two commits, a stream reads them through the
    * native micro-batch source, and `foreachBatch` MERGEs each batch's
    * per-user aggregate into a keyed state table — the production
    * pattern for maintaining a dimension/state table from an event
    * stream. Determinism regardless of how the stream slices batches:
    * additive fields use exact DECIMAL arithmetic (order-independent),
    * "latest" fields key on the unique, monotone event_id (max across
    * batches = max overall). The final state must equal the one-shot
    * batch aggregate over all events — which is exactly what the oracle
    * computes.
    */
  private def streamUpsert(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = freshCatalog(s)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    val ev = T.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    s.sql(s"CREATE TABLE $cat.r.main.db.ev (${ev.schema.toDDL})")
    // two commits -> the source replays them as separate file groups
    ev.filter(col("event_id") % 2 === 0).repartition(2)
      .writeTo(s"$cat.r.main.db.ev").append()
    ev.filter(col("event_id") % 2 === 1).repartition(2)
      .writeTo(s"$cat.r.main.db.ev").append()
    s.sql(
      s"""CREATE TABLE $cat.r.main.db.user_state (
         |  user_id BIGINT, last_event_id BIGINT, last_type STRING,
         |  total_value DECIMAL(18,2), n_events BIGINT)""".stripMargin)
    val q = s.readStream.option("maxFilesPerTrigger", "2")
      .table(s"$cat.r.main.db.ev")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.groupBy(col("user_id"))
          .agg(
            max(col("event_id")).as("last_event_id"),
            max_by(col("event_type"), col("event_id")).as("last_type"),
            sum(col("value").cast(DecimalType(18, 2)))
              .cast(DecimalType(18, 2)).as("total_value"),
            count(lit(1)).as("n_events"))
        b.createOrReplaceTempView("graft_upsert_batch")
        b.sparkSession.sql(
          s"""MERGE INTO $cat.r.main.db.user_state t
             |USING graft_upsert_batch s ON t.user_id = s.user_id
             |WHEN MATCHED THEN UPDATE SET
             |  t.last_type = CASE WHEN s.last_event_id > t.last_event_id
             |                     THEN s.last_type ELSE t.last_type END,
             |  t.last_event_id = CASE WHEN s.last_event_id > t.last_event_id
             |                         THEN s.last_event_id ELSE t.last_event_id END,
             |  t.total_value = t.total_value + s.total_value,
             |  t.n_events = t.n_events + s.n_events
             |WHEN NOT MATCHED THEN INSERT
             |  (user_id, last_event_id, last_type, total_value, n_events)
             |  VALUES (s.user_id, s.last_event_id, s.last_type,
             |          s.total_value, s.n_events)""".stripMargin)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    s.sql(
      s"""SELECT user_id, last_event_id, last_type,
         |       CAST(total_value AS DOUBLE) AS total_value, n_events
         |FROM $cat.r.main.db.user_state ORDER BY user_id""".stripMargin)
  }

  /** Bloom-sidecar point lookups ([[graft.versioned.Blooms]]): nation
    * lands in 4 commits interleaved by key residue, so every file's
    * [min,max] spans the whole key domain and only the per-file blooms
    * separate them. The driver checks RESULTS (same rows with or
    * without pruning); BloomSpec asserts the files-pruned counts.
    */
  private def bloomRead(s: SparkSession, d: String): DataFrame = {
    val (cat, root) = freshCatalog(s)
    val nation = T.nation(s, d)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    s.sql(s"CREATE TABLE $cat.r.main.db.nation (${nation.schema.toDDL}) " +
      "TBLPROPERTIES('graft.bloom.columns'='n_nationkey,n_name')")
    val repo = GraftRepo.open(root.resolve("r"))
    for (res <- 0 until 4)
      TableOps.insert(s, repo, "main", "db/nation",
        nation.filter(col("n_nationkey") % 4 === res).repartition(1),
        overwrite = false)
    s.sql(
      s"""SELECT n_nationkey, n_name, n_regionkey
         |FROM $cat.r.main.db.nation
         |WHERE n_nationkey IN (2, 7, 11) OR n_name = 'CANADA'
         |ORDER BY n_nationkey""".stripMargin)
  }

  /** Manifest-segmented snapshot metadata ([[graft.versioned.Manifests]]):
    * with the inline threshold forced low, nation lands in enough
    * single-file commits that the head snapshot's file list is stored as
    * content-addressed manifest chunks, then a CoW DELETE rewrites
    * entries THROUGH the segmented metadata. The read is correct only if
    * chunk write → share → re-materialize preserves the exact file list,
    * so the DuckDB oracle gates the whole manifest lifecycle.
    */
  private def manifestRead(s: SparkSession, d: String): DataFrame = {
    val saved = Seq("graft.manifest.inline.max", "graft.manifest.target")
      .map(k => k -> Option(System.getProperty(k)))
    System.setProperty("graft.manifest.inline.max", "4")
    System.setProperty("graft.manifest.target", "4")
    try {
      val (cat, root) = freshCatalog(s)
      val nation = T.nation(s, d)
      s.sql(s"CREATE NAMESPACE $cat.r")
      s.sql(s"CREATE NAMESPACE $cat.r.main.db")
      s.sql(s"CREATE TABLE $cat.r.main.db.nation (${nation.schema.toDDL})")
      val repo = GraftRepo.open(root.resolve("r"))
      // 5 interleaved single-file commits > inlineMax=4 → segmented head
      for (res <- 0 until 5)
        TableOps.insert(s, repo, "main", "db/nation",
          nation.filter(col("n_nationkey") % 5 === res).repartition(1),
          overwrite = false)
      // the pre-delete head must be segmented (the CoW rewrite below may
      // legitimately coalesce back under the threshold); the DELETE then
      // reads its input THROUGH the segmented metadata
      val preHead = repo.headCommit("main")
      require(repo.snapshot(preHead.tables("db/nation")).manifestRefs.nonEmpty,
        "vc_manifest_read: head snapshot unexpectedly inline — gate is vacuous")
      s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey % 7 = 3")
      s.sql(s"SELECT n_nationkey, n_name, n_regionkey FROM $cat.r.main.db.nation " +
        "ORDER BY n_nationkey")
    } finally saved.foreach { case (k, v) =>
      v.fold[AnyRef](System.clearProperty(k))(System.setProperty(k, _))
    }
  }

  /** Full schema-evolution flow, all metadata-only: ADD COLUMN (old
    * files null-fill), INSERT with the new column, RENAME (physical
    * name mapping), ADD+DROP (physical-name retirement) — then one read
    * the oracle reproduces from the original parquet.
    */
  private def evolutionRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"ALTER TABLE $cat.r.main.db.nation ADD COLUMN n_extra INT")
    s.sql(s"INSERT INTO $cat.r.main.db.nation VALUES " +
      "(900, 'NEWLAND', 9, 42), (901, 'OLDLAND', 9, NULL)")
    s.sql(s"ALTER TABLE $cat.r.main.db.nation RENAME COLUMN n_regionkey TO region_key")
    s.sql(s"ALTER TABLE $cat.r.main.db.nation ADD COLUMN tmp STRING")
    s.sql(s"ALTER TABLE $cat.r.main.db.nation DROP COLUMN tmp")
    s.sql(s"SELECT n_nationkey, n_name, region_key, n_extra " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Junk commit, then CALL rollback to the prior head: the branch must
    * read exactly its pre-junk state (a broken rollback would leak the
    * junk row into the oracle compare).
    */
  private def rollbackRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val good = repo.headCommit("main").id
    s.sql(s"INSERT INTO $cat.r.main.db.nation VALUES (999, 'JUNK', 0)")
    s.sql(s"CALL $cat.system.rollback('r', 'main', '$good')")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** REPLACE TABLE AS SELECT (atomic staged swap): create-or-replace
    * twice — the read must see ONLY the second definition's rows.
    */
  private def rtasRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"CREATE OR REPLACE TABLE $cat.r.main.db.big AS " +
      s"SELECT n_nationkey, n_name FROM $cat.r.main.db.nation " +
      "WHERE n_nationkey < 10")
    s.sql(s"CREATE OR REPLACE TABLE $cat.r.main.db.big AS " +
      s"SELECT n_nationkey + 50 AS n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.big ORDER BY n_nationkey")
  }

  /** `TIMESTAMP AS OF` time travel: capture the head commit's wall
    * clock, mutate afterwards, read as of the captured instant — only
    * the pre-mutation state may be visible.
    */
  private def timestampRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val ts0 = repo.headCommit("main").ts
    // commit timestamps have millisecond resolution: make sure the next
    // commit lands in a LATER millisecond than the captured instant
    while (System.currentTimeMillis() <= ts0) Thread.sleep(1)
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 900, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation WHERE n_nationkey < 5")
    val lit = java.time.Instant.ofEpochMilli(ts0)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation TIMESTAMP AS OF '$lit' " +
      "ORDER BY n_nationkey")
  }

  /** Partition evolution mid-table: rows land under spec A (identity),
    * the spec evolves (bucket + identity), more rows land under spec B —
    * the read must stitch the mixed layout seamlessly.
    */
  private def partEvoRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = freshCatalog(s)
    val nation = T.nation(s, d)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    s.sql(s"CREATE TABLE $cat.r.main.db.nation (${nation.schema.toDDL}) " +
      "PARTITIONED BY (n_regionkey)")
    nation.writeTo(s"$cat.r.main.db.nation").append()
    s.sql(s"CALL $cat.system.set_partition_spec('r', 'main', 'db.nation', " +
      "'bucket(4, n_nationkey)')")
    s.sql(s"INSERT INTO $cat.r.main.db.nation " +
      s"SELECT n_nationkey + 300, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation WHERE n_nationkey < 5")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** truncate(width, col) partition transform: string-prefix layout,
    * selective read over it (prefix buckets prune via recorded values).
    */
  private def truncateRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = freshCatalog(s)
    val nation = T.nation(s, d)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    s.sql(s"CREATE TABLE $cat.r.main.db.nation (${nation.schema.toDDL}) " +
      "PARTITIONED BY (truncate(1, n_name))")
    nation.writeTo(s"$cat.r.main.db.nation").append()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation WHERE n_name >= 'M' ORDER BY n_nationkey")
  }

  /** Rollback leaves an unreachable commit; expire_snapshots(0) deletes
    * its metadata and vacuum physically deletes its orphaned data files
    * — the surviving state must read back EXACTLY, proving the GC never
    * touches a referenced byte.
    */
  private def vacuumRead(s: SparkSession, d: String): DataFrame = {
    val (cat, repo) = setup(s, d)
    val good = repo.headCommit("main").id
    s.sql(s"INSERT INTO $cat.r.main.db.nation VALUES (999, 'JUNK', 0)")
    s.sql(s"CALL $cat.system.rollback('r', 'main', '$good')")
    s.sql(s"CALL $cat.system.expire_snapshots('r', 0)")
    s.sql(s"CALL $cat.system.vacuum('r', 0)")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Temporal partition transform (days(ts)) over the events stream:
    * the workhorse time-series layout at 100 TB — per-day file groups,
    * aggregate read must reproduce the source exactly.
    */
  private def temporalRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = freshCatalog(s)
    val ev = T.events(s, d).filter(col("event_id") % 10 === 0)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    s.sql(s"CREATE TABLE $cat.r.main.db.events (${ev.schema.toDDL}) " +
      "PARTITIONED BY (days(ts))")
    ev.writeTo(s"$cat.r.main.db.events").append()
    s.sql(s"""SELECT CAST(ts AS DATE) AS day, count(*) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM $cat.r.main.db.events GROUP BY 1 ORDER BY day""".stripMargin)
  }

  /** One SQL statement joining TWO refs of a table (main anti dev) —
    * the cross-ref query shape version control exists to enable.
    */
  private def crossRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"DELETE FROM $cat.r.dev.db.nation WHERE n_nationkey >= 15")
    s.sql(s"""SELECT m.n_nationkey, m.n_name FROM $cat.r.main.db.nation m
         |LEFT ANTI JOIN $cat.r.dev.db.nation dv
         |  ON m.n_nationkey = dv.n_nationkey
         |ORDER BY m.n_nationkey""".stripMargin)
  }

  /** Merge-on-read UPDATE + DELETE (tombstones, no rewrite) then a full
    * read applying both.
    */
  private def morUpdateRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = freshCatalog(s)
    val nation = T.nation(s, d)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    s.sql(s"CREATE TABLE $cat.r.main.db.nation (${nation.schema.toDDL}) " +
      "TBLPROPERTIES ('graft.delete.mode'='merge-on-read')")
    nation.writeTo(s"$cat.r.main.db.nation").append()
    s.sql(s"UPDATE $cat.r.main.db.nation SET n_name = concat(n_name, '!') " +
      "WHERE n_nationkey < 5")
    s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey >= 20")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** DROP TABLE PURGE of a sibling table: the survivor's data must be
    * untouched by the purge's file deletion (cross-table liveness).
    */
  private def purgeRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    val region = T.region(s, d)
    s.sql(s"CREATE TABLE $cat.r.main.db.region (${region.schema.toDDL})")
    region.writeTo(s"$cat.r.main.db.region").append()
    s.sql(s"DROP TABLE $cat.r.main.db.region PURGE")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation ORDER BY n_nationkey")
  }

  /** Tag the loaded state, mutate the branch afterwards, read VERSION AS
    * OF the tag: tags must be immutable against later DML.
    */
  private def tagRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = setup(s, d)
    s.sql(s"CALL $cat.system.create_tag('r', 'v1', 'main')")
    s.sql(s"DELETE FROM $cat.r.main.db.nation WHERE n_nationkey < 10")
    s.sql(s"INSERT INTO $cat.r.main.db.nation VALUES (998, 'AFTER', 1)")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey " +
      s"FROM $cat.r.main.db.nation VERSION AS OF 'v1' ORDER BY n_nationkey")
  }

  /** Identity-partitioned table, selective read: partition pruning must
    * not change results (BloomSpec/PartitionedWriteSpec assert the
    * files-pruned counts; this gates the VALUES end-to-end).
    */
  private def partitionedRead(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = freshCatalog(s)
    val nation = T.nation(s, d)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    s.sql(s"CREATE TABLE $cat.r.main.db.nation (${nation.schema.toDDL}) " +
      "PARTITIONED BY (n_regionkey)")
    nation.writeTo(s"$cat.r.main.db.nation").append()
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey FROM $cat.r.main.db.nation " +
      "WHERE n_regionkey IN (1, 3) ORDER BY n_nationkey")
  }

  /** The `t.partitions` metadata table's per-partition row counts vs a
    * plain GROUP BY on the source — the rollup an operator checks for
    * skew/small files at 100 TB must agree with the data.
    */
  private def partitionsMeta(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = freshCatalog(s)
    val nation = T.nation(s, d)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    s.sql(s"CREATE TABLE $cat.r.main.db.nation (${nation.schema.toDDL}) " +
      "PARTITIONED BY (n_regionkey)")
    nation.writeTo(s"$cat.r.main.db.nation").append()
    s.sql(s"SELECT partition['n_regionkey'] AS region, n_rows " +
      s"FROM $cat.r.main.db.nation.partitions ORDER BY region")
  }

  /** CALL compact with a z-order: multi-file table compacts into
    * z-ordered files — content must be exactly preserved.
    */
  private def zorderRead(s: SparkSession, d: String): DataFrame = {
    val (cat, root) = freshCatalog(s)
    val nation = T.nation(s, d)
    s.sql(s"CREATE NAMESPACE $cat.r")
    s.sql(s"CREATE NAMESPACE $cat.r.main.db")
    s.sql(s"CREATE TABLE $cat.r.main.db.nation (${nation.schema.toDDL})")
    val repo = GraftRepo.open(root.resolve("r"))
    for (res <- 0 until 4)
      TableOps.insert(s, repo, "main", "db/nation",
        nation.filter(col("n_nationkey") % 4 === res).repartition(1),
        overwrite = false)
    s.sql(s"CALL $cat.system.compact('r', 'main', 'db.nation', " +
      s"${128L << 20}, '', 'n_regionkey,n_nationkey')")
    s.sql(s"SELECT n_nationkey, n_name, n_regionkey FROM $cat.r.main.db.nation " +
      "ORDER BY n_nationkey")
  }

  val all: Seq[Q] = Seq(
    Q(
      "vc_evolution_read",
      """SELECT n_nationkey, n_name, n_regionkey AS region_key,
        |       CAST(NULL AS INTEGER) AS n_extra
        |FROM nation
        |UNION ALL SELECT 900, 'NEWLAND', 9, 42
        |UNION ALL SELECT 901, 'OLDLAND', 9, CAST(NULL AS INTEGER)
        |ORDER BY n_nationkey""".stripMargin
    )(evolutionRead),
    Q(
      "vc_rollback_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin
    )(rollbackRead),
    Q(
      "vc_tag_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin
    )(tagRead),
    Q(
      "vc_partitioned_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey IN (1, 3)
        |ORDER BY n_nationkey""".stripMargin
    )(partitionedRead),
    Q(
      "vc_rtas_read",
      """SELECT n_nationkey + 50 AS n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin
    )(rtasRead),
    Q(
      "vc_timestamp_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin
    )(timestampRead),
    Q(
      "vc_part_evo_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT * FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 300, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 5
        |) ORDER BY n_nationkey""".stripMargin
    )(partEvoRead),
    Q(
      "vc_truncate_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_name >= 'M' ORDER BY n_nationkey""".stripMargin
    )(truncateRead),
    Q(
      "vc_vacuum_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin
    )(vacuumRead),
    Q(
      "vc_temporal_read",
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id % 10 = 0
        |GROUP BY 1 ORDER BY day""".stripMargin
    )(temporalRead),
    Q(
      "vc_cross_read",
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_nationkey >= 15 ORDER BY n_nationkey""".stripMargin
    )(crossRead),
    Q(
      "vc_mor_update_read",
      """SELECT n_nationkey,
        |       CASE WHEN n_nationkey < 5 THEN n_name || '!' ELSE n_name END
        |         AS n_name,
        |       n_regionkey
        |FROM nation WHERE n_nationkey < 20
        |ORDER BY n_nationkey""".stripMargin
    )(morUpdateRead),
    Q(
      "vc_purge_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin
    )(purgeRead),
    Q(
      "vc_partitions_meta",
      """SELECT CAST(n_regionkey AS VARCHAR) AS region,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM nation GROUP BY 1 ORDER BY region""".stripMargin
    )(partitionsMeta),
    Q(
      "vc_zorder_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin
    )(zorderRead),
    Q(
      "vc_manifest_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey % 7 <> 3
        |ORDER BY n_nationkey""".stripMargin
    )(manifestRead),
    Q(
      "vc_bloom_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey IN (2, 7, 11) OR n_name = 'CANADA'
        |ORDER BY n_nationkey""".stripMargin
    )(bloomRead),
    Q(
      "vc_stream_read",
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name,
        |       max(n_nationkey) AS last_key
        |FROM (
        |  SELECT * FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 1000, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 5
        |  UNION ALL
        |  SELECT 2000, 'STREAMLAND', 0
        |)
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin
    )(streamRead),
    Q(
      "vc_cdc_read",
      """SELECT n_nationkey, n_name, n_regionkey, _change_type FROM (
        |  SELECT n_nationkey, n_name, n_regionkey,
        |         'insert' AS _change_type FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, n_name, n_regionkey, 'delete' FROM nation
        |  WHERE n_nationkey >= 20
        |  UNION ALL
        |  SELECT n_nationkey, n_name, n_regionkey, 'delete' FROM nation
        |  WHERE n_nationkey = 1
        |  UNION ALL
        |  SELECT n_nationkey, n_name || '?', n_regionkey, 'insert'
        |  FROM nation WHERE n_nationkey = 1
        |  UNION ALL
        |  SELECT 3000, 'CDCLAND', 1, 'insert'
        |)
        |ORDER BY n_nationkey, _change_type, n_name""".stripMargin
    )(cdcRead),
    Q(
      "vc_rest_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey % 5 <> 2
        |ORDER BY n_nationkey""".stripMargin
    )(restRead),
    Q(
      "vc_rest_commit",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey < 15 OR n_nationkey >= 20
        |ORDER BY n_nationkey""".stripMargin
    )(restCommit),
    Q(
      "vc_rest_rewrite",
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 100, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey + 100 < 110
        |)
        |ORDER BY n_nationkey""".stripMargin
    )(restRewrite),
    Q(
      "vc_delete_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE NOT (n_regionkey = 2 AND n_nationkey % 2 = 0)
        |ORDER BY n_nationkey""".stripMargin
    )(deleteRead),
    Q(
      "vc_branch_isolation",
      """SELECT ref, n_nationkey, n_name FROM (
        |  SELECT 'main' AS ref, n_nationkey, n_name FROM nation
        |  UNION ALL
        |  SELECT 'main', 600, 'MAINONLY'
        |  UNION ALL
        |  SELECT 'iso', n_nationkey, n_name FROM nation
        |  WHERE n_nationkey < 10
        |)
        |ORDER BY ref, n_nationkey""".stripMargin
    )(branchIsolation),
    Q(
      "vc_runtime_join",
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'EUROPE')
        |ORDER BY n_nationkey""".stripMargin
    )(runtimeJoin),
    Q(
      "vc_rename_read",
      """SELECT n_nationkey, n_name, n_regionkey, 'new' AS src FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey, 'old' AS src FROM nation
        |ORDER BY src, n_nationkey""".stripMargin
    )(renameRead),
    Q(
      "vc_drop_recreate",
      """SELECT n_nationkey, upper(n_name) AS n_name, n_regionkey
        |FROM nation WHERE n_nationkey < 10
        |ORDER BY n_nationkey""".stripMargin
    )(dropRecreate),
    Q(
      "vc_cow_conflict_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey < 20
        |ORDER BY n_nationkey""".stripMargin
    )(cowConflictRead),
    Q(
      "vc_meta_agg_read",
      """WITH t AS (
        |  SELECT n_nationkey, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 1000, n_regionkey FROM nation
        |  WHERE n_nationkey < 7)
        |SELECT count(*) AS n,
        |       min(n_nationkey) AS min_key, max(n_nationkey) AS max_key,
        |       min(n_regionkey) AS min_region, max(n_regionkey) AS max_region
        |FROM t""".stripMargin
    )(metaAgg),
    Q(
      "vc_concurrent_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 1000 * (n_nationkey % 8 + 1), n_name,
        |         n_regionkey
        |  FROM nation WHERE n_nationkey < 24
        |)
        |ORDER BY n_nationkey""".stripMargin
    )(concurrentCommit),
    Q(
      "vc_expire_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 800, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 3 AND n_nationkey + 800 < 801
        |)
        |ORDER BY n_nationkey""".stripMargin
    )(expireRead),
    Q(
      "vc_stream_sink",
      """SELECT event_type, count(*) AS n,
        |       cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       max(event_id) AS last_id
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin
    )(streamSink),
    Q(
      "vc_rest_partevo",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin
    )(restPartEvo),
    Q(
      "vc_rest_view",
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_regionkey = 1
        |ORDER BY n_nationkey""".stripMargin
    )(restView),
    Q(
      "vc_rest_evolve",
      """SELECT n_nationkey, n_name AS n_label,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |       CAST(NULL AS BIGINT) AS n_flag
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey + 400, n_name,
        |       CAST(n_regionkey AS BIGINT),
        |       CAST(n_nationkey * 2 AS BIGINT)
        |FROM nation WHERE n_nationkey < 5
        |ORDER BY n_nationkey""".stripMargin
    )(restEvolve),
    Q(
      "vc_rest_ctas",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey <= 2
        |ORDER BY n_nationkey""".stripMargin
    )(restCtas),
    Q(
      "vc_rest_mor",
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey NOT IN (1, 21)
        |  UNION ALL
        |  SELECT 1, 'UPSERTED', 0
        |)
        |ORDER BY n_nationkey, n_name""".stripMargin
    )(restMor),
    Q(
      "vc_rest_posdel",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE NOT (n_name > 'NATION_2')
        |ORDER BY n_nationkey""".stripMargin
    )(restPosDel),
    Q(
      "vc_rest_txn",
      """SELECT * FROM (
        |  SELECT 'a' AS src, n_nationkey, n_name, n_regionkey,
        |         CAST(NULL AS BIGINT) AS n_flag FROM nation
        |  UNION ALL SELECT 'a', 900, 'TXA', 0, CAST(NULL AS BIGINT)
        |  UNION ALL
        |  SELECT 'b', n_nationkey, n_name, n_regionkey,
        |         CAST(NULL AS BIGINT) FROM nation
        |  UNION ALL SELECT 'b', 901, 'TXB', 1, CAST(NULL AS BIGINT)
        |  UNION ALL
        |  SELECT 'c', n_nationkey, n_name, n_regionkey,
        |         CAST(NULL AS BIGINT) FROM nation
        |  UNION ALL SELECT 'c', 902, 'TXW', 2, CAST(77 AS BIGINT)
        |  UNION ALL
        |  SELECT 'd', n_nationkey, n_name, n_regionkey,
        |         CAST(NULL AS BIGINT) FROM nation WHERE n_nationkey <> 2
        |  UNION ALL SELECT 'd', 2, 'UPSERTED', 9, CAST(NULL AS BIGINT)
        |  UNION ALL
        |  SELECT 'e', n_nationkey, n_name, n_regionkey,
        |         CAST(NULL AS BIGINT) FROM nation WHERE n_nationkey < 20
        |  UNION ALL
        |  SELECT 'f', n_nationkey, n_name, n_regionkey,
        |         CAST(NULL AS BIGINT) FROM nation
        |  WHERE NOT (n_name > 'NATION_5')
        |  UNION ALL SELECT 'g', 1, 'SIDE', CAST(NULL AS INT),
        |            CAST(NULL AS BIGINT)
        |)
        |ORDER BY src, n_nationkey""".stripMargin
    )(restTxn),
    Q(
      "vc_rest_register",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey NOT IN (2, 7)
        |ORDER BY n_nationkey""".stripMargin
    )(restRegister),
    Q(
      "vc_rest_replace",
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 200, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 10
        |)
        |ORDER BY n_nationkey""".stripMargin
    )(restReplace),
    Q(
      "vc_rest_rollback",
      """SELECT n_nationkey, n_name, n_regionkey,
        |       CAST(NULL AS INT) AS n_tmp FROM nation
        |ORDER BY n_nationkey""".stripMargin
    )(restRollback),
    Q(
      "vc_show_tables",
      """SELECT * FROM (VALUES
        |  ('dev', 'devonly'), ('dev', 'nation'),
        |  ('main', 'extra'), ('main', 'nation')
        |) AS t(ref, table_name)
        |ORDER BY ref, table_name""".stripMargin
    )(showTablesGate),
    Q(
      "vc_procedures",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey < 20
        |ORDER BY n_nationkey""".stripMargin
    )(proceduresGate),
    Q(
      "vc_cdc_apply",
      """SELECT n_nationkey,
        |       CASE WHEN n_nationkey = 1 THEN n_name || '?' ELSE n_name END
        |         AS n_name,
        |       n_regionkey
        |FROM nation WHERE n_nationkey < 20
        |UNION ALL
        |SELECT 3000, 'CDCLAND', 1
        |ORDER BY n_nationkey""".stripMargin
    )(cdcApply),
    Q(
      "vc_ice_cdc_read",
      """SELECT n_nationkey, n_name, n_regionkey, _change_type FROM (
        |  SELECT n_nationkey, n_name, n_regionkey,
        |         'insert' AS _change_type FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, n_name, n_regionkey, 'delete' FROM nation
        |  WHERE n_nationkey >= 20
        |  UNION ALL
        |  SELECT n_nationkey, n_name, n_regionkey, 'delete' FROM nation
        |  WHERE n_nationkey = 1
        |  UNION ALL
        |  SELECT n_nationkey, n_name || '?', n_regionkey, 'insert'
        |  FROM nation WHERE n_nationkey = 1
        |  UNION ALL
        |  SELECT 3000, 'CDCLAND', 1, 'insert'
        |)
        |ORDER BY n_nationkey, _change_type, n_name""".stripMargin
    )(iceCdcRead),
    Q(
      "vc_mor_read",
      """SELECT o_orderstatus,
        |       count(*) AS n,
        |       cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS first_key
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000.0)
        |  UNION ALL
        |  SELECT 9000001, 'F', 42.0
        |  UNION ALL
        |  SELECT 9000002, 'O', 43.0
        |)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin
    )(morRead),
    Q(
      "vc_iceberg_read",
      """SELECT o_orderstatus,
        |       count(*) AS n,
        |       cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       min(o_orderkey) AS first_key
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE NOT (o_orderstatus = 'O' AND o_totalprice > 200000.0)
        |    AND NOT (o_custkey = 7)
        |  UNION ALL
        |  SELECT 9100001, 'O', 900001.0
        |  UNION ALL
        |  SELECT 9100002, 'F', 900002.0
        |)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin
    )(icebergRead),
    Q(
      "vc_spj_join",
      """SELECT c.c_custkey, c.c_name, count(*) AS n_orders,
        |       min(o.o_orderkey) AS first_order
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey, c.c_name
        |ORDER BY c.c_custkey""".stripMargin
    )(spjJoin),
    Q(
      "vc_read_branch",
      "SELECT * FROM nation ORDER BY n_nationkey"
    )(readBranch),
    Q(
      "vc_txn_read",
      """SELECT n.n_nationkey, n.n_name, r.r_regionkey, r.r_name
        |FROM (
        |  SELECT * FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 500, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 3
        |) n
        |JOIN (
        |  SELECT * FROM region
        |  UNION ALL
        |  SELECT r_regionkey + 500, r_name FROM region WHERE r_regionkey < 2
        |) r ON n.n_regionkey = r.r_regionkey
        |ORDER BY n.n_nationkey, r.r_regionkey""".stripMargin
    )(txnRead),
    Q(
      "vc_merge_union_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT * FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 200, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 2
        |  UNION ALL
        |  SELECT n_nationkey + 300, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 3
        |) ORDER BY n_nationkey""".stripMargin
    )(mergeUnionRead),
    Q(
      "vc_cherry_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT * FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 300, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 3
        |  UNION ALL
        |  SELECT n_nationkey + 400, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 2
        |) ORDER BY n_nationkey""".stripMargin
    )(cherryRead),
    Q(
      "vc_incr_read",
      """SELECT n_nationkey + 500 AS n_nationkey, n_name, n_regionkey
        |FROM nation WHERE n_nationkey < 4
        |ORDER BY n_nationkey""".stripMargin
    )(incrementalRead),
    Q(
      "vc_stream_upsert",
      """SELECT user_id,
        |       CAST(max(event_id) AS BIGINT) AS last_event_id,
        |       arg_max(event_type, event_id) AS last_type,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    )(streamUpsert),
    Q(
      "vc_clone_read",
      """SELECT side, n_nationkey, n_name, n_regionkey FROM (
        |  SELECT 'clone' AS side, n_nationkey, n_name, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT 'clone', n_nationkey + 600, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 2
        |  UNION ALL
        |  SELECT 'src', n_nationkey, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 10
        |) ORDER BY side, n_nationkey""".stripMargin
    )(cloneRead),
    Q(
      "vc_nested_read",
      """SELECT n_nationkey, name, region, n_tags, r_val, iso FROM (
        |  SELECT n_nationkey, n_name AS name, n_regionkey AS region,
        |         CAST(2 AS INTEGER) AS n_tags, n_regionkey AS r_val,
        |         CAST(NULL AS VARCHAR) AS iso
        |  FROM nation WHERE n_regionkey <> 2
        |  UNION ALL
        |  SELECT n_nationkey + 100, n_name, n_regionkey,
        |         CAST(2 AS INTEGER), n_regionkey, CAST(NULL AS VARCHAR)
        |  FROM nation WHERE n_nationkey < 2
        |  UNION ALL
        |  SELECT 500, 'zz', 9, CAST(1 AS INTEGER), 9, 'ZZ'
        |) ORDER BY n_nationkey""".stripMargin
    )(nestedRead),
    Q(
      "vc_mv_read",
      """SELECT n_regionkey, count(*) AS n_nations,
        |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
        |       max(n_name) AS last_name
        |FROM (
        |  SELECT * FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 1000, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 2
        |)
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin
    )(mvRead),
    Q(
      "vc_view_read",
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_regionkey <= 2 AND n_nationkey < 20
        |ORDER BY n_nationkey""".stripMargin
    )(viewRead),
    Q(
      "vc_changes_read",
      """SELECT n_nationkey, n_name, n_regionkey, 'delete' AS _change_type
        |FROM nation WHERE n_nationkey IN (3, 7)
        |UNION ALL
        |SELECT n_nationkey + 1000, n_name, n_regionkey, 'insert' AS _change_type
        |FROM nation WHERE n_nationkey < 2
        |ORDER BY _change_type, n_nationkey""".stripMargin
    )(changesRead),
    Q(
      "vc_compact_read",
      "SELECT * FROM nation ORDER BY n_nationkey"
    )(compactRead),
    Q(
      "vc_diff_rows",
      """SELECT n_nationkey, n_name, 'only_main' AS side FROM nation
        |WHERE n_nationkey > 19 ORDER BY n_nationkey""".stripMargin
    )(diffRows),
    Q(
      "vc_time_travel",
      "SELECT * FROM nation ORDER BY n_nationkey"
    )(timeTravel),
    Q(
      "vc_update_read",
      """SELECT n_nationkey,
        |       CASE WHEN n_nationkey % 2 = 0 THEN n_name || '_X' ELSE n_name END AS n_name,
        |       CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey + 10 ELSE n_regionkey END AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin
    )(updateRead),
    Q(
      "vc_merge_into",
      """SELECT n_nationkey,
        |       CASE WHEN n_nationkey < 5 THEN n_name || '_M' ELSE n_name END AS n_name,
        |       n_regionkey
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey + 1000, n_name, n_regionkey FROM nation WHERE n_nationkey < 3
        |ORDER BY n_nationkey""".stripMargin
    )(mergeInto),
    Q(
      "vc_merge_read",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey NOT IN (3, 7)
        |UNION ALL
        |SELECT n_nationkey + 100, n_name, n_regionkey FROM nation WHERE n_nationkey < 2
        |ORDER BY n_nationkey""".stripMargin
    )(mergeRead)
  )
}
