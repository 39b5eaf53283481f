package graft.versioned

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Embedded Apache Iceberg REST catalog over graft repos — read-only by
  * default, with an opt-in WRITE path (`writable = true`) that turns
  * external engines' spec commits into graft commits.
  *
  * The reference is an Iceberg CATALOG ADAPTER — external engines reach
  * versioned tables through the Iceberg catalog API
  * (`LakeFSCatalog.java:42-334`). graft's native surface is a Spark DSv2
  * catalog, so this server re-expresses the same attachability in the
  * direction external engines actually speak today: the public Iceberg
  * REST Catalog protocol (apache/iceberg
  * `open-api/rest-catalog-open-api.yaml`). Any engine with an Iceberg
  * REST client (Spark, Trino, PyIceberg, DuckDB) can list and load graft
  * tables — on any branch or tag — without graft code on its classpath.
  *
  * Mapping: a REST namespace is `[ref]` (branch or tag) or
  * `[ref, db...]`; a table identifier is `{namespace: [ref, db],
  * name: t}` for graft key `db/t` read at `ref`. Multi-level namespaces
  * use the spec's 0x1F unit-separator encoding in URLs.
  *
  * Two serving modes:
  *  - [[IcebergRestServer.start]] — ONE repo at `/v1/namespaces/...`.
  *  - [[IcebergRestServer.startWarehouse]] — every repo under a root
  *    dir, routed by the spec's `prefix` path segment
  *    (`/v1/{repo}/namespaces/...`); a client asking
  *    `GET /v1/config?warehouse=<repo>` is answered with the prefix
  *    override, which is exactly how multi-tenant REST catalogs hand
  *    out routing.
  *
  * `loadTable` serves REAL Iceberg metadata: the graft snapshot exports
  * on demand into `exportRoot/(<repo>/)<ref>/<key>` ([[IcebergExport]] —
  * data files referenced zero-copy in place), memoized by the snapshot
  * id stamped in the exported metadata (`graft.source-snapshot`), so an
  * unchanged table re-serves its existing metadata with zero work and a
  * changed table re-exports O(changed chunks) at the NEXT version number
  * (readers polling older metadata keep reading it in place — same
  * contract as sync dests). By default the server is read-only: every
  * mutating verb answers 405 with a spec-shaped ErrorResponse.
  *
  * WRITE PATH (`writable = true`) — the REST analog of the reference's
  * commit flow (`LakeFSTableOperations.commit`, java:115-147: engines
  * write data, the catalog validates the base and swaps the pointer):
  *  - `POST /v1/namespaces` creates a BRANCH (1-level, zero-copy from
  *    `properties.from`, default main) or a db namespace on a branch.
  *  - `POST .../namespaces/{ns}/tables` creates an empty graft table
  *    from the posted Iceberg schema + partition spec; with
  *    `stage-create: true` it answers STAGED (snapshot-less) metadata
  *    and commits nothing — the spec's transactional CTAS staging; the
  *    table materializes when the engine posts the staged commit.
  *  - `POST .../tables/{t}` (commitTable) accepts the spec's APPEND,
  *    OVERWRITE and DELETE commits — requirements `assert-table-uuid` /
  *    `assert-ref-snapshot-id` / `assert-current-schema-id` /
  *    `assert-last-assigned-field-id` validated against the served
  *    metadata AND re-checked against the graft branch head INSIDE the
  *    commit race (a requirement that no longer holds at publish time
  *    answers 409 CommitFailedException, the client's signal to refresh
  *    and retry); updates `add-snapshot` + `set-snapshot-ref` +
  *    `set-properties` + `add-schema`/`set-current-schema` (schema
  *    evolution — lowered by field-id diff onto graft's metadata-only
  *    evolution, [[SchemaEvolution]]: add / rename / widen / drop, with
  *    the same guards as native ALTER; a schema-only commit needs no
  *    snapshot, and an append may ride the same commit atomically).
  *    `assert-create` commits publish a STAGED CREATE: schema, spec,
  *    properties and the first snapshot land as ONE graft commit;
  *    concurrent creators race on the key and exactly one wins
  *    (reference parity for both: `LakeFSTableOperations.commit`,
  *    java:115-147, accepts arbitrary TableMetadata swaps). The posted
  *    snapshot's manifest list is walked
  *    with [[IcebergImport]]; files already under the repo's data plane
  *    register ZERO-COPY (served metadata stamps `write.data.path`
  *    inside the data plane, so compliant writers stage there), others
  *    are copied in; FileEntry stats come from O(new files) parquet
  *    footer reads — no Spark job, no data scan. An `append` may not
  *    drop base files; `overwrite`/`delete` is the engine's
  *    copy-on-write rewrite — dropped base files leave the live set and
  *    added files register at the table's next sequence in ONE commit,
  *    which is how an external CoW DELETE/UPDATE/MERGE lands on the
  *    graft branch. EQUALITY delete
  *    files (content=2) lower onto graft predicate tombstones — the
  *    inverse of the exporter's tombstone → equality-delete mapping:
  *    value rows become ONE tombstone at the table's next sequence,
  *    same-commit data files register at that sequence and are exempt
  *    (the spec's strictly-lower rule — the Flink-upsert shape).
  *    POSITIONAL delete files (content=1) and v3 DELETION VECTORS — the
  *    default Spark MoR DELETE/UPDATE shape — lower onto a SERVER-SIDE
  *    CoW rewrite of exactly the referenced files: the posted positions
  *    apply through the independent importer's sequence semantics
  *    ([[IcebergImport.readPlan]] on a dirty-files sub-plan), survivors
  *    land as native graft files, and one commit swaps them in
  *    atomically — O(dirty files + delete rows), the cost the
  *    engine's own CoW would have paid, with the same stale-base 409
  *    (reference parity: LakeFSTableOperations.commit, java:115-147,
  *    accepts any metadata swap). The FULL Flink-upsert checkpoint
  *    lands in ONE commit: equality + positional deletes together,
  *    positions referencing same-commit added files (intra-checkpoint
  *    dedup — those adds fold into the rewrite), the equality predicate
  *    applied physically to dirty files and as a tombstone for
  *    untouched ones, same-commit adds exempt per the strictly-lower
  *    rule. A `replace` summary (the engine's own compaction) lands as
  *    a structural compaction commit once its row count and retired
  *    delete files check out. What still refuses loudly with 400:
  *    NULL-valued or oversized (> [[IcebergExport.MaxEqualityRows]])
  *    equality deletes, positional deletes referencing files neither
  *    live at the base nor added by the commit, MoR deletes mixed with
  *    CoW file drops, and new delete files on a `replace`.
  *    Every change parses and lowers ONCE: a table commit is a
  *    one-member transaction (`POST /v1/transactions/commit` takes a
  *    list of the same bodies), so both routes accept and refuse
  *    alike; only tag writes, rollbacks, partition-spec changes and
  *    `replace` are single-table commits.
  *  - `DELETE .../tables/{t}` drops (optionally `purgeRequested=true`
  *    with the engine catalog's purge semantics); `POST /tables/rename`
  *    re-keys the commit map in one metadata commit, same-branch only
  *    (r17 — the reference throws, LakeFSCatalog.java:218, because its
  *    table identity is a storage path; graft's is a commit-map key).
  *  - VIEWS (r12): graft's versioned views serve over the spec's REST
  *    view API — `GET .../views` lists, `GET/HEAD .../views/{v}` load
  *    real ViewMetadata (one current version per served head — graft
  *    versions views by branch commit — with the stored spark-dialect
  *    SQL representation and a default-namespace whose branch segment
  *    is the served ref, graft's branch-following semantics);
  *    `POST .../views` creates (writable servers; concurrent creates
  *    race in the commit and one wins), `DELETE` drops.
  *    `POST .../views/{v}` (replace — the engine's CREATE OR REPLACE
  *    VIEW) swaps the definition in one view commit, prior versions
  *    staying reachable through branch history; properties-only
  *    commits work too. View rename refuses like table rename.
  *  - `POST .../tables/{t}/metrics` accepts (and discards) the spec's
  *    reader scan reports, even on read-only servers — telemetry must
  *    never make an engine's query path log errors.
  *  - `DELETE .../namespaces/{ns}` drops a db namespace (tables AND
  *    views count as content → 409 NamespaceNotEmpty) or an EMPTY
  *    branch; `POST .../namespaces/{ns}/properties` commits the spec's
  *    removals/updates and answers the {updated, removed, missing}
  *    triple, surfaced back through GetNamespaceResponse.
  *  - `POST .../namespaces/{ns}/register` (r12) RE-HOMES an existing
  *    Iceberg table: the named metadata-location's current LIVE rows
  *    (deletes applied) are read through the independent importer and
  *    land as native graft files in one commit — the catalog-migration
  *    entry point, after which the table branches/merges/time-travels
  *    like any graft table.
  */
final class IcebergRestServer private (single: Option[GraftRepo],
    reposRoot: Option[Path], exportRoot: Path, spark: Option[SparkSession],
    maxSnapshots: Int, formatVersion: Int, writable: Boolean,
    token: Option[String], credential: Option[String], oauthTtlSec: Long,
    server: HttpServer) {
  import IcebergRestServer._

  def port: Int = server.getAddress.getPort

  def uri: String = s"http://127.0.0.1:$port"

  def close(): Unit = {
    server.stop(0)
    // stop(0) does not stop a user-provided executor — without this a
    // process cycling servers leaks 4 pool threads per instance
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ => ()
    }
  }

  private val mapper = new ObjectMapper()
  // OAuth2 client_credentials support (opt-in via the `credential`
  // start option, "client_id:client_secret"): tokens minted by
  // `POST /v1/oauth/tokens`, stored as SHA-256 digests → expiry
  // epoch-millis (the raw token never lands server-side; expired
  // entries are evicted on every mint, so the map is bounded by the
  // number of LIVE tokens)
  private val mintedTokens = new ConcurrentHashMap[String, java.lang.Long]()
  private val tokenRng = new java.security.SecureRandom()
  private val exportLocks = new ConcurrentHashMap[String, Object]()
  private val repoCache = new ConcurrentHashMap[String, GraftRepo]()
  // rollback's exported-sid → graft-snapshot inversion, memoized per
  // served table and keyed by the head commit it was built at, with a
  // FRONTIER (the next unwalked first-parent commit id, None =
  // exhausted): the walk is LAZY — it stops at the requested sid, so
  // the first rollback loads only the commits between head and target
  // (never the whole history of a deep table), a repeat rollback loads
  // zero commits, a deeper target resumes from the frontier, and a
  // rollback after new commits walks only the delta above the
  // previously indexed head
  private val rollbackSidIndex =
    new ConcurrentHashMap[String, (String, Map[Long, String], Option[String])]()

  /** The repo a request's optional `{prefix}` segment addresses. */
  private def repoFor(prefix: Option[String]): GraftRepo = (prefix, single) match {
    case (None, Some(r)) => r
    case (Some(p), None) =>
      val root = reposRoot.get.resolve(p)
      if (p.contains("/") || p.contains("..") ||
        !Files.isDirectory(root.resolve("refs")))
        throw new NoSuchElementException(s"no such repo (prefix): $p")
      repoCache.computeIfAbsent(p, _ => GraftRepo.open(root))
    case (Some(p), Some(_)) =>
      throw new NoSuchElementException(
        s"no such route: this server hosts one repo, got prefix $p")
    case (None, None) =>
      throw new NoSuchElementException(
        "missing {prefix}: this server hosts a warehouse — ask " +
          "GET /v1/config?warehouse=<repo> for your prefix")
  }

  // ---- request routing ---------------------------------------------------

  private[versioned] def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    // URI.getPath is percent-DECODED: a %1F namespace separator is
    // already the raw 0x1F char here
    val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toSeq
    val query = Option(ex.getRequestURI.getRawQuery)
    try {
      // /v1/config and /v1[/{prefix}]/namespaces/...
      val (prefix, route) = segs match {
        case "v1" +: tail => tail match {
          case "config" +: _ => (None, tail)
          case ("namespaces" | "tables" | "transactions") +: _ =>
            (None, tail)
          case p +: rest if rest.headOption.exists(h =>
            h == "namespaces" || h == "tables" || h == "transactions") =>
            (Some(p), rest)
          case _ => (None, tail)
        }
        case _ => (None, segs)
      }
      // Bearer auth (opt-in via the `token` and/or `credential` start
      // options): every route except `GET /v1/config` and the OAuth
      // exchange itself requires a valid `Authorization: Bearer` — the
      // config endpoint stays open so a client can discover the
      // catalog's capabilities (and that it must authenticate) before
      // presenting credentials, and `POST /v1/oauth/tokens` IS the
      // credential presentation. A bearer is valid if it matches the
      // static `token` (constant-time compare: the check must not leak
      // a prefix-length oracle through response timing) or is a LIVE
      // minted OAuth token (digest lookup — the compare is against
      // SHA-256 images, inheriting the same property).
      val openRoute = (method == "GET" && route == Seq("config")) ||
        (method == "POST" && route == Seq("oauth", "tokens"))
      val authOk = openRoute || ((token, credential) match {
        case (None, None) => true
        case _ => bearerOf(ex).exists(t =>
          token.exists(ctEq(t, _)) || mintedValid(t))
      })
      if (!authOk) {
        replyError(ex, 401, "NotAuthorizedException",
          "missing or invalid bearer token")
        return
      }
      (method, route) match {
        case ("POST", Seq("oauth", "tokens")) =>
          handleOauth(ex)
        case ("GET", Seq("config")) =>
          reply(ex, 200, config(query))
        case ("GET", Seq("namespaces")) =>
          reply(ex, 200, listNamespaces(repoFor(prefix), query))
        case ("GET", Seq("namespaces", ns)) =>
          reply(ex, 200, describeNamespace(repoFor(prefix), levels(ns)))
        case ("GET", Seq("namespaces", ns, "tables")) =>
          reply(ex, 200, listTables(repoFor(prefix), levels(ns), query))
        case ("GET", Seq("namespaces", ns, "tables", t)) =>
          reply(ex, 200, loadTable(repoFor(prefix), prefix, levels(ns), t))
        case ("HEAD", Seq("namespaces", ns, "tables", t)) =>
          resolveKey(repoFor(prefix), levels(ns), t) // throws -> 404
          ex.sendResponseHeaders(200, -1); ex.close()
        case ("GET", Seq("namespaces", ns, "views")) =>
          reply(ex, 200, listViews(repoFor(prefix), levels(ns), query))
        case ("GET", Seq("namespaces", ns, "views", v)) =>
          reply(ex, 200, loadRestView(repoFor(prefix), prefix,
            levels(ns), v))
        case ("HEAD", Seq("namespaces", ns, "views", v)) =>
          resolveViewKey(repoFor(prefix), levels(ns), v) // throws -> 404
          ex.sendResponseHeaders(200, -1); ex.close()
        case ("HEAD", Seq("namespaces", ns)) =>
          // namespaceExists — the spec's HEAD (204 when present);
          // PyIceberg/iceberg-java probe it before create/use
          describeNamespace(repoFor(prefix), levels(ns)) // throws -> 404
          ex.sendResponseHeaders(204, -1); ex.close()
        case ("GET" | "HEAD", _) =>
          throw new NoSuchElementException(
            s"no such route: ${segs.mkString("/")}")
        case ("POST", Seq("namespaces", ns, "tables", t, "metrics")) =>
          // spec ReportMetricsRequest: READER telemetry, fire-and-forget
          // — accepted (and discarded) even on read-only servers, since
          // refusing makes engines log an error after every scan
          resolveKey(repoFor(prefix), levels(ns), t) // 404 on no table
          body(ex) // malformed JSON still answers 400, not silence
          ex.sendResponseHeaders(204, -1); ex.close()
        case _ if !writable =>
          replyError(ex, 405, "UnsupportedOperationException",
            s"graft REST catalog is read-only: $method not supported")
        case ("POST", Seq("namespaces")) =>
          reply(ex, 200, createNamespace(repoFor(prefix), body(ex)))
        case ("POST", Seq("namespaces", ns, "tables")) =>
          reply(ex, 200, createTable(repoFor(prefix), prefix,
            levels(ns), body(ex)))
        case ("POST", Seq("namespaces", ns, "tables", t)) =>
          reply(ex, 200, commitTable(repoFor(prefix), prefix,
            levels(ns), t, body(ex)))
        case ("DELETE", Seq("namespaces", ns)) =>
          dropRestNamespace(repoFor(prefix), levels(ns))
          ex.sendResponseHeaders(204, -1); ex.close()
        case ("POST", Seq("namespaces", ns, "properties")) =>
          reply(ex, 200, updateNamespaceProps(repoFor(prefix),
            levels(ns), body(ex)))
        case ("DELETE", Seq("namespaces", ns, "tables", t)) =>
          dropTable(repoFor(prefix), levels(ns), t,
            queryParam(query, "purgeRequested").contains("true"))
          ex.sendResponseHeaders(204, -1); ex.close()
        case ("POST", Seq("namespaces", ns, "register")) =>
          reply(ex, 200, registerTable(repoFor(prefix), prefix,
            levels(ns), body(ex)))
        case ("POST", Seq("namespaces", ns, "views")) =>
          reply(ex, 200, createRestView(repoFor(prefix), prefix,
            levels(ns), body(ex)))
        case ("POST", Seq("namespaces", ns, "views", v)) =>
          reply(ex, 200, replaceRestView(repoFor(prefix), prefix,
            levels(ns), v, body(ex)))
        case ("DELETE", Seq("namespaces", ns, "views", v)) =>
          dropRestView(repoFor(prefix), levels(ns), v)
          ex.sendResponseHeaders(204, -1); ex.close()
        case ("POST", Seq("tables", "rename")) =>
          renameRestTable(repoFor(prefix), body(ex))
          ex.sendResponseHeaders(204, -1); ex.close()
        case ("POST", Seq("views", "rename")) =>
          throw new UnsupportedOperationException(
            "view rename is not supported")
        case ("POST", Seq("transactions", "commit")) =>
          commitTransaction(repoFor(prefix), prefix, body(ex))
          ex.sendResponseHeaders(204, -1); ex.close()
        case _ =>
          replyError(ex, 405, "UnsupportedOperationException",
            s"no such route for $method: ${segs.mkString("/")}")
      }
    } catch {
      case e: NoSuchElementException =>
        val msg = Option(e.getMessage).getOrElse("not found")
        val t = if (msg.startsWith("no such table")) "NoSuchTableException"
        else if (msg.startsWith("no such view")) "NoSuchViewException"
        else "NoSuchNamespaceException"
        replyError(ex, 404, t, msg)
      case e: RestConflict =>
        replyError(ex, 409, e.typ, e.getMessage)
      case e: CommitConflictException =>
        // a graft CAS that lost out (e.g. commitRetry exhausted under
        // contention) is the same refresh-and-retry signal as a failed
        // requirement — a 500 here would read as commit-state-unknown
        replyError(ex, 409, "CommitFailedException",
          Option(e.getMessage).getOrElse("commit conflict"))
      case e: MergeConflictException =>
        // commitRewrite's concurrent-rewrite validation (a dropped file
        // already rewritten away by another committer) is a refresh-and-
        // retry signal too, not an internal error
        replyError(ex, 409, "CommitFailedException",
          Option(e.getMessage).getOrElse("concurrent rewrite conflict"))
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        replyError(ex, 400, "ValidationException",
          s"malformed JSON body: ${e.getOriginalMessage}")
      case e @ (_: IllegalArgumentException |
                _: UnsupportedOperationException) =>
        replyError(ex, 400, "ValidationException",
          Option(e.getMessage).getOrElse("invalid request"))
      case e: Exception =>
        replyError(ex, 500, e.getClass.getSimpleName,
          Option(e.getMessage).getOrElse("internal error"))
    }
  }

  private def body(ex: HttpExchange): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(ex.getRequestBody)

  /** (id, name) of a posted schema field node — absent members are the
    * CLIENT's error (400), never a server NPE (500). */
  private def fieldIdName(
      f: com.fasterxml.jackson.databind.JsonNode): (Int, String) = {
    val id = Option(f.get("id")).getOrElse(
      throw new IllegalArgumentException("schema field missing 'id'"))
    val nm = Option(f.get("name")).getOrElse(
      throw new IllegalArgumentException("schema field missing 'name'"))
    id.asInt() -> nm.asText()
  }

  /** Required field of a request node, as text — absent/null fields are
    * the CLIENT's error (400), never a server NPE (500). */
  private def text(node: com.fasterxml.jackson.databind.JsonNode,
      field: String): String =
    Option(node.get(field)).filterNot(_.isNull).map(_.asText()).getOrElse(
      throw new IllegalArgumentException(s"request is missing '$field'"))

  /** Namespace URL segment → levels (spec: joined by 0x1F). */
  private def levels(seg: String): Seq[String] =
    seg.split('\u001F').filter(_.nonEmpty).toSeq

  private def queryParam(rawQuery: Option[String], name: String): Option[String] =
    rawQuery.flatMap(_.split("&").collectFirst {
      case kv if kv.startsWith(s"$name=") =>
        java.net.URLDecoder.decode(kv.drop(name.length + 1), "UTF-8")
    })

  /** The spec's OPAQUE-token pagination for the list routes. Listings
    * are already deterministically sorted, so the token is simply the
    * base64 of the last key served; a request without `pageSize` (or
    * with a non-positive one) gets the whole listing — the spec lets
    * clients and servers each opt out. `itemsFrom(after)` must return
    * the sorted items STRICTLY AFTER the key `after` (None = all) as a
    * LAZY iterator — a caller that can seek (the tree-segmented table
    * map) serves a page in O(seek + pageSize) server work, never a
    * full-listing walk. `keyOf` renders an item's sort key. Returns
    * (page, next-page-token).
    */
  private def paginateFrom[T](rawQuery: Option[String])(
      itemsFrom: Option[String] => Iterator[T])(
      keyOf: T => String): (Seq[T], Option[String]) = {
    val size = queryParam(rawQuery, "pageSize").flatMap(s =>
      scala.util.Try(s.toInt).toOption).filter(_ > 0)
    val after = queryParam(rawQuery, "pageToken").filter(_.nonEmpty).map(t =>
      new String(java.util.Base64.getUrlDecoder.decode(t),
        java.nio.charset.StandardCharsets.UTF_8))
    val remaining = itemsFrom(after)
    size match {
      case None => (remaining.toSeq, None)
      case Some(n) =>
        // n + 1: one look-ahead decides whether a next page exists
        // without walking the rest of the listing
        val page = remaining.take(n + 1).toSeq
        if (page.lengthCompare(n) > 0)
          (page.take(n),
            Some(java.util.Base64.getUrlEncoder.withoutPadding
              .encodeToString(keyOf(page(n - 1)).getBytes(
                java.nio.charset.StandardCharsets.UTF_8))))
        else (page, None)
    }
  }

  /** Pagination over an in-memory sorted listing (namespaces, views —
    * small by construction; the 100k-scale table listing seeks through
    * [[paginateFrom]] with the tree map's `iteratorFrom` instead). */
  private def paginate[T](items: Seq[T], rawQuery: Option[String])(
      keyOf: T => String): (Seq[T], Option[String]) =
    paginateFrom(rawQuery)(after => after match {
      case Some(a) => items.iterator.dropWhile(i => keyOf(i) <= a)
      case None => items.iterator
    })(keyOf)

  // ---- endpoint bodies ---------------------------------------------------

  private def config(rawQuery: Option[String]): ObjectNode = {
    val o = mapper.createObjectNode()
    o.set[ObjectNode]("defaults", mapper.createObjectNode())
    val overrides = mapper.createObjectNode()
    queryParam(rawQuery, "warehouse").filter(_ => single.isEmpty)
      .foreach { w =>
        repoFor(Some(w)) // 404 on an unknown repo
        overrides.put("prefix", w)
      }
    o.set[ObjectNode]("overrides", overrides)
    // capability negotiation (spec `endpoints`): clients like pyiceberg
    // only call the view/write routes a server advertises — without
    // this list they assume the tables-only minimum
    val eps = o.putArray("endpoints")
    val reads = Seq(
      "GET /v1/{prefix}/namespaces",
      "GET /v1/{prefix}/namespaces/{namespace}",
      "HEAD /v1/{prefix}/namespaces/{namespace}",
      "GET /v1/{prefix}/namespaces/{namespace}/tables",
      "GET /v1/{prefix}/namespaces/{namespace}/tables/{table}",
      "HEAD /v1/{prefix}/namespaces/{namespace}/tables/{table}",
      "GET /v1/{prefix}/namespaces/{namespace}/views",
      "GET /v1/{prefix}/namespaces/{namespace}/views/{view}",
      "HEAD /v1/{prefix}/namespaces/{namespace}/views/{view}")
    val writes = Seq(
      "POST /v1/{prefix}/namespaces",
      "POST /v1/{prefix}/transactions/commit",
      "DELETE /v1/{prefix}/namespaces/{namespace}",
      "POST /v1/{prefix}/namespaces/{namespace}/properties",
      "POST /v1/{prefix}/namespaces/{namespace}/tables",
      "POST /v1/{prefix}/namespaces/{namespace}/register",
      "POST /v1/{prefix}/namespaces/{namespace}/tables/{table}",
      "DELETE /v1/{prefix}/namespaces/{namespace}/tables/{table}",
      "POST /v1/{prefix}/namespaces/{namespace}/views",
      "POST /v1/{prefix}/namespaces/{namespace}/views/{view}",
      "DELETE /v1/{prefix}/namespaces/{namespace}/views/{view}")
    (if (writable) reads ++ writes else reads).foreach(eps.add)
    o
  }

  private def refNames(repo: GraftRepo): Seq[String] =
    repo.branches ++ repo.tags

  /** Sorted table keys STRICTLY AFTER `after` as a lazy iterator — the
    * seek primitive every list/exists route shares: a tree-segmented
    * map binary-ranges its chunk refs (Trees.LazyTableMap.iteratorFrom)
    * so one probe costs O(log chunks + 1), never a full-key walk. */
  private def sortedKeysFrom(tables: Map[String, String],
      after: Option[String]): Iterator[String] = tables match {
    case t: Trees.LazyTableMap => t.iteratorFrom(after).map(_._1)
    case t =>
      val sorted = t.keysIterator.toSeq.sorted
      after.fold(sorted.iterator)(a => sorted.iterator.dropWhile(_ <= a))
  }

  /** Does any table key at this commit live under `dirs/`? ONE seek. */
  private def hasKeyUnder(commit: Commit, dirs: Seq[String]): Boolean = {
    val prefix = dirs.mkString("/") + "/"
    sortedKeysFrom(commit.tables, Some(prefix))
      .nextOption().exists(_.startsWith(prefix))
  }

  private def listNamespaces(repo: GraftRepo,
      rawQuery: Option[String]): ObjectNode = {
    val parent = queryParam(rawQuery, "parent").map(levels).getOrElse(Nil)
    val children: Seq[Seq[String]] = parent match {
      case Nil => refNames(repo).map(Seq(_))
      case ref +: dirs =>
        if (!refNames(repo).contains(ref)) throwNoNs(parent)
        val commit = repo.resolve(ref)
        // distinct child segments from TABLE KEYS by SUCCESSOR SEEKS
        // over the sorted key space: after emitting child `s`, jump
        // straight past its subtree to prefix+s+'0' ('/'+1) — on a
        // tree-segmented map each jump is a binary range + one chunk,
        // so a 100k-table branch lists its handful of namespaces in
        // O(children · log chunks), never a full-key walk
        val prefix = if (dirs.isEmpty) "" else dirs.mkString("/") + "/"
        val fromKeys = Seq.newBuilder[String]
        var it = sortedKeysFrom(commit.tables, Some(prefix).filter(_.nonEmpty))
        var scanning = true
        while (scanning) it.nextOption() match {
          case Some(k) if k.startsWith(prefix) =>
            val rest = k.drop(prefix.length)
            val seg = rest.takeWhile(_ != '/')
            if (rest.length > seg.length) {
              // deeper segments exist → `seg` is a namespace child;
              // skip its whole subtree in one seek
              fromKeys += seg
              it = sortedKeysFrom(commit.tables, Some(prefix + seg + "0"))
            }
            // else k is a direct table at this level: a table `db/a`
            // and a namespace `db/a/...` may coexist, so step past the
            // KEY only (the very next key may open the a/ subtree)
          case _ => scanning = false
        }
        val fromNs = commit.namespaces.keys.map(_.split('/').toSeq)
          .filter(k => k.length > dirs.length && k.startsWith(dirs))
          .map(k => k(dirs.length))
        (fromKeys.result() ++ fromNs).distinct.map(seg => parent :+ seg)
    }
    val o = mapper.createObjectNode()
    val arr = o.putArray("namespaces")
    val (page, next) = paginate(
      // "/" never occurs inside a segment (keys come from split('/'))
    children.sortBy(_.mkString("/")), rawQuery)(_.mkString("/"))
    page.foreach { ns =>
      val a = arr.addArray(); ns.foreach(a.add)
    }
    next.foreach(o.put("next-page-token", _))
    o
  }

  private def throwNoNs(ns: Seq[String]): Nothing =
    throw new NoSuchElementException(
      s"no such namespace: ${ns.mkString(".")}")

  private def describeNamespace(repo: GraftRepo,
      ns: Seq[String]): ObjectNode = {
    val props = mapper.createObjectNode()
    ns match {
      case Seq(ref) if repo.branchExists(ref) =>
        props.put("graft.kind", "branch")
        props.put("graft.head", repo.headCommit(ref).id)
      case Seq(ref) if repo.tagExists(ref) =>
        props.put("graft.kind", "tag")
      case ref +: dirs if refNames(repo).contains(ref) && dirs.nonEmpty &&
        // existence = one table-key SEEK under dirs/ (O(log chunks) on
        // a segmented map, replacing the r13 full-key walk) OR a
        // committed namespace at/under dirs (small map by construction)
        (hasKeyUnder(repo.resolve(ref), dirs) ||
          repo.resolve(ref).namespaces.keys.map(_.split('/').toSeq)
            .exists(k => k.length >= dirs.length && k.startsWith(dirs))) =>
        // committed db-namespace properties (createNamespace /
        // updateNamespaceProps) surface in GetNamespaceResponse — the
        // route engines read schema properties through
        repo.resolve(ref).namespaces.getOrElse(dirs.mkString("/"), Map.empty)
          .foreach { case (k, v) => props.put(k, v) }
      case _ => throwNoNs(ns)
    }
    val o = mapper.createObjectNode()
    val a = o.putArray("namespace"); ns.foreach(a.add)
    o.set[ObjectNode]("properties", props)
    o
  }

  private def listTables(repo: GraftRepo, ns: Seq[String],
      rawQuery: Option[String]): ObjectNode =
    ns match {
      case ref +: dirs if refNames(repo).contains(ref) =>
        val o = mapper.createObjectNode()
        val arr = o.putArray("identifiers")
        val tables = repo.resolve(ref).tables
        // namespace children are the contiguous `prefix`-keyed range of
        // the SORTED key space ("/" never occurs inside a segment), so
        // a page seeks to max(token, prefix) and stops at the range end
        // — on a tree-segmented map this loads O(page) chunks, never
        // the whole 100k-table map (Trees.LazyTableMap.iteratorFrom);
        // nested-namespace keys inside the range are skipped, not
        // terminal
        val prefix = if (dirs.isEmpty) "" else dirs.mkString("/") + "/"
        def keysFrom(after: Option[String]): Iterator[String] = {
          // no table key ever EQUALS the prefix (names are non-empty),
          // so strictly-after the prefix is "from the range start"
          val seek = Some(Seq(after.getOrElse(""), prefix).max)
            .filter(_.nonEmpty)
          val sorted = tables match {
            case t: Trees.LazyTableMap => t.iteratorFrom(seek).map(_._1)
            case t =>
              val it = t.keysIterator.toSeq.sorted.iterator
              seek.fold(it)(a => it.dropWhile(_ <= a))
          }
          sorted.takeWhile(_.startsWith(prefix))
            .filter(_.count(_ == '/') == dirs.length)
        }
        val (page, next) = paginateFrom(rawQuery)(keysFrom)(identity)
        page.foreach { k =>
          val id = arr.addObject()
          val a = id.putArray("namespace"); ns.foreach(a.add)
          id.put("name", k.split('/').last)
        }
        next.foreach(o.put("next-page-token", _))
        o
      case _ => throwNoNs(ns)
    }

  /** `(ref, graft table key)` for an identifier, or NoSuchElement. */
  private def resolveKey(repo: GraftRepo, ns: Seq[String],
      name: String): (String, String) = ns match {
    case ref +: dirs if dirs.nonEmpty =>
      val key = (dirs :+ name).mkString("/")
      if (!refNames(repo).contains(ref) ||
        !repo.resolve(ref).tables.contains(key))
        throw new NoSuchElementException(s"no such table: $key @ $ref")
      (ref, key)
    case _ => throw new NoSuchElementException(
      s"no such table: ${(ns :+ name).mkString(".")}")
  }

  /** Repo-relative data-plane dir writers stage (and commits register)
    * data files for a REST-served table in. */
  private def stageRel(ref: String, key: String): String =
    s"data/rest/$ref/$key"

  /** The served table location of `(ref, key)` — where staged-create
    * metadata points engines and where non-compliant writers stage. */
  private def destRootOf(prefix: Option[String], ref: String,
      key: String): Path =
    prefix.fold(exportRoot)(exportRoot.resolve)
      .resolve(ref).resolve(key).toAbsolutePath.normalize

  /** Hadoop conf for footer and delete-file reads: the serving
    * session's, or a default one on a session-less server. */
  private def hadoopConf(): org.apache.hadoop.conf.Configuration =
    spark.map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** The current metadata file for `(ref, key)` — re-exported at the
    * next version iff the graft snapshot moved (or a writable server is
    * serving metadata that predates the `write.data.path` stamp).
    */
  private def serve(repo: GraftRepo, prefix: Option[String],
      ref: String, key: String): Path = {
    val dest = prefix.fold(exportRoot)(exportRoot.resolve)
      .resolve(ref).resolve(key)
    val lock = exportLocks.computeIfAbsent(dest.toString, _ => new Object)
    lock.synchronized {
      val want = repo.resolve(ref).tables(key)
      val stageProps =
        if (!writable || !repo.branchExists(ref)) Map.empty[String, String]
        else Map("write.data.path" ->
          repo.dataLocation(stageRel(ref, key)).stripSuffix("/"))
      val v = IcebergSync.latestVersion(dest)
      val current = if (v == 0) None else scala.util.Try {
        val props = IcebergSync.propertiesOf(new NioDestIO(dest), v)
        props.get("graft.source-snapshot").contains(want) &&
          // the served refs map bakes tag state in — a tag create/drop
          // must re-export even though the data snapshot is unchanged
          props.get("graft.source-tags").contains(repo.tagSignature) &&
          stageProps.forall { case (k, vv) => props.get(k).contains(vv) }
      }.toOption.filter(identity)
      if (current.isDefined) dest.resolve(s"metadata/v$v.metadata.json")
      else IcebergExport.export(repo, ref, key, dest, spark,
        maxSnapshots, v + 1, formatVersion, stageProps)
    }
  }

  private def loadResult(metaPath: Path): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("metadata-location", metaPath.toString)
    o.set[ObjectNode]("metadata",
      mapper.readTree(Files.readString(metaPath)).asInstanceOf[ObjectNode])
    o.set[ObjectNode]("config", mapper.createObjectNode())
    o
  }

  private def loadTable(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], name: String): ObjectNode = {
    val (ref, key) = resolveKey(repo, ns, name)
    loadResult(serve(repo, prefix, ref, key))
  }

  // ---- write path (writable = true) ---------------------------------------

  /** CreateNamespaceRequest: 1 level creates a BRANCH (zero-copy, from
    * `properties.from` or main); deeper levels commit a db namespace on
    * the branch.
    */
  private def createNamespace(repo: GraftRepo,
      req: com.fasterxml.jackson.databind.JsonNode): ObjectNode = {
    val ns = Option(req.get("namespace")).map(_.elements().asScala
      .map(_.asText()).toSeq).getOrElse(Nil)
    val props = Option(req.get("properties")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    ns match {
      case Seq() => throw new IllegalArgumentException("empty namespace")
      case Seq(b) =>
        if (refNames(repo).contains(b))
          throw new RestConflict("AlreadyExistsException",
            s"namespace (ref) already exists: $b")
        repo.createBranch(b, props.getOrElse("from", "main"))
      case ref +: dirs =>
        if (!repo.branchExists(ref)) throw new IllegalArgumentException(
          if (repo.tagExists(ref)) s"namespaces commit to a branch; $ref is a tag"
          else s"no such branch: $ref")
        val db = dirs.mkString("/")
        repo.commitRetry(ref, s"rest: create namespace $db") { base =>
          // validate against the REBASED base the CAS publishes, never a
          // fresh head re-resolve (they differ under concurrent commits)
          if (base.namespaces.contains(db) ||
            base.tables.keys.exists(k => k.split('/').startsWith(dirs)))
            throw new RestConflict("AlreadyExistsException",
              s"namespace already exists: ${ns.mkString(".")}")
          (base.tables, base.namespaces + (db -> (props - "from")))
        }
    }
    val o = mapper.createObjectNode()
    val a = o.putArray("namespace"); ns.foreach(a.add)
    val p = o.putObject("properties")
    props.foreach { case (k, v) => p.put(k, v) }
    o
  }

  /** CreateTableRequest: an empty graft table from the posted Iceberg
    * schema (+ identity/bucket/truncate/temporal partition spec).
    * `stage-create: true` answers with STAGED metadata — nothing
    * commits to the branch, nothing is written anywhere: the response
    * (schema, spec, location, `write.data.path`) is all an engine
    * needs to write the CTAS data; the table materializes atomically
    * when the engine posts the staged commit (requirement
    * `assert-create` — [[stageChange]]). A stage that is never
    * committed leaves NOTHING behind.
    */
  private def createTable(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], req: com.fasterxml.jackson.databind.JsonNode)
      : ObjectNode = {
    val (ref, dirs) = ns match {
      case r +: ds if ds.nonEmpty => (r, ds)
      case _ => throw new IllegalArgumentException(
        s"tables live under [ref, db...]: ${ns.mkString(".")}")
    }
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      if (repo.tagExists(ref)) s"tables commit to a branch; $ref is a tag"
      else s"no such branch: $ref")
    val name = Option(req.get("name")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException("create carries no table name"))
    val key = (dirs :+ name).mkString("/")
    val schemaNode = Option(req.get("schema")).getOrElse(
      throw new IllegalArgumentException("create carries no schema"))
    val schema = IcebergImport.structOf(schemaNode)
    val spec = specOf(Option(req.get("partition-spec")), schemaNode)
    TableOps.validateSpec(schema, spec)
    val props = Option(req.get("properties")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    if (Option(req.get("stage-create")).exists(_.asBoolean(false))) {
      if (repo.resolve(ref).tables.contains(key))
        throw new RestConflict("AlreadyExistsException",
          s"table already exists: $key @ $ref")
      return stagedCreateResult(repo, prefix, ref, key, schema, spec, props)
    }
    repo.commitRetry(ref, s"rest: create table $key") { base =>
      if (base.tables.contains(key))
        throw new RestConflict("AlreadyExistsException",
          s"table already exists: $key @ $ref")
      val snap = repo.writeSnapshot(key, schema.json, Nil,
        if (spec.isEmpty) None else Some(spec), None,
        if (props.isEmpty) None else Some(props))
      (base.tables + (key -> snap.id),
        if (base.namespaces.contains(dirs.mkString("/"))) base.namespaces
        else base.namespaces + (dirs.mkString("/") -> Map.empty[String, String]))
    }
    loadResult(serve(repo, prefix, ref, key))
  }

  /** The format version of a staged create: what the exporter writes
    * for a table without delete files (the staged commit may carry
    * none), never the server's 0 (auto). */
  private def stagedVersion: Int =
    IcebergExport.versionOf(formatVersion, needsV2 = false)

  /** The staged-create LoadTableResult: snapshot-less Iceberg metadata
    * built IN MEMORY from the posted schema/spec/properties — no
    * branch commit, no file written, so an abandoned stage leaves
    * nothing to clean. Deliberately has NO `metadata-location` (the
    * spec's marker that the metadata is staged, not committed); the
    * served `location` and `write.data.path` point where a compliant
    * engine stages the CTAS data files, which the staged commit
    * ([[stageChange]]) then registers zero-copy.
    */
  private def stagedCreateResult(repo: GraftRepo, prefix: Option[String],
      ref: String, key: String,
      schema: org.apache.spark.sql.types.StructType,
      spec: Seq[PartitionField], props: Map[String, String]): ObjectNode = {
    val iceSchema = IcebergExport.icebergSchema(schema)
    val meta = IcebergMeta.Table(stagedVersion,
      java.util.UUID.randomUUID().toString,
      destRootOf(prefix, ref, key).toString, Some(0L), None,
      System.currentTimeMillis(), IcebergExport.lastColumnId(schema),
      Seq(iceSchema), iceSchema.id,
      Seq(IcebergExport.partitionSpec(spec, schema)), 0, 999 + spec.size,
      Seq(IcebergMeta.Unsorted), 0,
      scala.collection.immutable.ListMap.from(props) ++ Seq(
        "write.data.path" ->
          repo.dataLocation(stageRel(ref, key)).stripSuffix("/"),
        "graft.rest.staged" -> "true"),
      None, scala.collection.immutable.ListMap.empty, Nil, Nil, Nil)
    val o = mapper.createObjectNode()
    o.set[ObjectNode]("metadata", IcebergMeta.node(meta))
    o.set[ObjectNode]("config", mapper.createObjectNode())
    o
  }

  /** A posted partition spec (spec object or bare field list) → graft
    * [[PartitionField]]s, source ids resolved against `schemaNode`. */
  private def specOf(specNode: Option[JsonNode],
      schemaNode: JsonNode): Seq[PartitionField] = {
    val idToName = Option(schemaNode.get("fields")).toSeq
      .flatMap(_.elements().asScala).map(fieldIdName).toMap
    val BucketRe = """bucket\[(\d+)\]""".r
    val TruncRe = """truncate\[(\d+)\]""".r
    specNode.toSeq.flatMap(n => IcebergMeta.specFields(
      Option(n.get("fields")).getOrElse(n).elements().asScala.toSeq)).map { f =>
      val id = f.sourceId.getOrElse(throw new IllegalArgumentException(
        "partition field is missing 'source-id'"))
      val source = idToName.getOrElse(id, throw new IllegalArgumentException(
        s"partition source-id $id not in schema"))
      val name = Some(f.name).filter(_.nonEmpty).getOrElse(source)
      f.transform match {
        case "" => throw new IllegalArgumentException(
          "request is missing 'transform'")
        case "identity" => PartitionField(name, "identity", source)
        case BucketRe(n) => PartitionField(name, "bucket", source, n.toInt)
        case TruncRe(w) => PartitionField(name, "truncate", source, w.toInt)
        case "year" => PartitionField(name, "years", source)
        case "month" => PartitionField(name, "months", source)
        case "day" => PartitionField(name, "days", source)
        case "hour" => PartitionField(name, "hours", source)
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform: $other")
      }
    }
  }

  // ---- table commits: one parser, one fold ---------------------------------

  /** CommitTableRequest → graft commit (class doc: WRITE PATH): the
    * change parses once ([[stageChange]]), then lands as a one-member
    * transaction ([[land]]) — or, for the single-table-only kinds, as
    * its own commit.
    */
  private def commitTable(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], name: String, req: JsonNode): ObjectNode = {
    val st = stageChange(repo, prefix, ns, name, req)
    st match {
      case s: SingleTable => s.run()
      case m: Member if m.noop => ()
      case l: Landable => land(repo, l.ref, Seq(l), l.message)
    }
    loadResult(serve(repo, prefix, st.ref, st.key))
  }

  /** The ONE parser of a REST table change (a CommitTableRequest body or
    * a transaction member): requirements are validated against the
    * served metadata, updates parsed once, and whatever the change
    * needs (footer reads, the positional-delete rewrite's Spark jobs)
    * is staged BEFORE any commit closure runs, so a commit retry never
    * re-runs it. An existing table takes the append / CoW-rewrite /
    * MoR-delete / schema-update vocabulary ([[stageUpdate]]); an absent
    * table stages only with an `assert-create` requirement — the
    * spec's staged CREATE (CTAS) publish ([[stageCreate]]).
    * Requirements validated here are re-checked inside the commit race
    * by the fold's base pin (a requirement that no longer holds at
    * publish time answers 409).
    */
  private def stageChange(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], name: String, change: JsonNode): Staged = {
    val (ref, dirs) = ns match {
      case r +: ds if ds.nonEmpty => (r, ds)
      case _ => throw new NoSuchElementException(
        s"no such table: ${(ns :+ name).mkString(".")}")
    }
    val key = (dirs :+ name).mkString("/")
    if (!refNames(repo).contains(ref))
      throw new NoSuchElementException(s"no such table: $key @ $ref")
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      s"commits target a branch; $ref is a tag")
    val reqs = Option(change.get("requirements")).toSeq
      .flatMap(_.elements().asScala).toSeq
    val metaPath =
      if (repo.resolve(ref).tables.contains(key))
        Some(serve(repo, prefix, ref, key))
      else if (reqs.exists(r => text(r, "type") == "assert-create")) None
      else throw new NoSuchElementException(s"no such table: $key @ $ref")
    val served = metaPath.map(p => IcebergMeta.parse(Files.readString(p)))
    reqs.foreach(checkRequirement(_, served, ref, key))
    val u = parseUpdates(change, served, key)
    // TAG ref writes (set-snapshot-ref type=tag / remove-snapshot-ref)
    // are their own commit: combining a tag write with data/schema
    // updates would entangle the tag with an uncommitted snapshot
    if ((u.tagCreate.isDefined || u.tagRemove.isDefined) &&
        u.copy(tagCreate = None, tagRemove = None) != Updates())
      throw new UnsupportedOperationException(
        "tag ref writes are their own commit over REST — post other " +
          "updates separately")
    val destRoot = destRootOf(prefix, ref, key)
    served match {
      case Some(t) => stageUpdate(repo, ref, key, destRoot, t, u)
      case None => stageCreate(repo, ref, dirs, key, destRoot, u)
    }
  }

  /** Validate one requirement against the served metadata (`served`
    * is None for a table the change creates: only `assert-create`
    * holds there).
    */
  private def checkRequirement(r: JsonNode, served: Option[IcebergMeta.Table],
      ref: String, key: String): Unit = (text(r, "type"), served) match {
    case ("assert-create", exists) =>
      // definitive, not retryable: the CTAS lost its race (or the
      // name was taken all along) — same answer the in-commit race
      // gives, so the losing engine sees ONE failure shape
      if (exists.isDefined) throw new RestConflict("AlreadyExistsException",
        s"table already exists: $key @ $ref")
    case (other, None) => throw new UnsupportedOperationException(
      s"unsupported requirement on a staged create: $other")
    case ("assert-table-uuid", Some(served)) =>
      val want = text(r, "uuid")
      val have = served.uuid
      if (want != have) throw new RestConflict("CommitFailedException",
        s"table uuid changed for $key: expected $want, found $have")
    case ("assert-ref-snapshot-id", Some(served)) =>
      val rn = Option(r.get("ref")).map(_.asText()).getOrElse("main")
      val want = Option(r.get("snapshot-id")).filterNot(_.isNull)
        .map(_.asLong())
      // main is the served current snapshot; a NAMED ref requirement
      // (iceberg-core posts snapshot-id null on createTag: "the ref
      // must not exist yet") validates against the served refs map,
      // which bakes graft tag state in
      val have =
        if (rn == "main") served.currentSnapshotId
        else served.refs.get(rn).map(_.snapshotId)
      if (want != have) throw new RestConflict("CommitFailedException",
        s"ref $rn of $key moved: expected snapshot " +
          s"${want.getOrElse("<none>")}, now at ${have.getOrElse("<none>")}")
    case (t, Some(served)) =>
      // the integer-valued requirements iceberg-core's UpdateRequirements
      // posts (schema updates; partition evolution; sort orders, which
      // graft serves as 0 always — orders are advisory — validated so an
      // engine's sort-order commit round-trips): requirement field,
      // served value
      val (field, have, what) = t match {
        case "assert-current-schema-id" => ("current-schema-id",
          served.currentSchemaId, "current schema")
        case "assert-last-assigned-field-id" => ("last-assigned-field-id",
          served.lastColumnId, "last assigned field id")
        case "assert-default-sort-order-id" => ("default-sort-order-id",
          served.defaultSortOrderId, "default sort order")
        case "assert-default-spec-id" => ("default-spec-id",
          served.defaultSpecId, "default partition spec")
        case "assert-last-assigned-partition-id" =>
          ("last-assigned-partition-id", served.lastPartitionId,
            "last assigned partition field id")
        case other => throw new UnsupportedOperationException(
          s"unsupported commit requirement: $other")
      }
      val want = Option(r.get(field)).map(_.asInt()).getOrElse(
        throw new IllegalArgumentException(s"$t carries no $field"))
      if (want != have) throw new RestConflict("CommitFailedException",
        s"$what changed: expected $want, found $have")
  }

  /** The updates a view commit takes: its version (+ the pointer to
    * it), its schema and properties, and the identity/version/location
    * no-ops — the one place a view's vocabulary is decided. */
  private val ViewActions = Set("add-view-version",
    "set-current-view-version", "add-schema", "set-properties",
    "remove-properties", "assign-uuid", "upgrade-format-version",
    "set-location")

  /** Parse a change's updates: at most one add-snapshot (+ its
    * set-snapshot-ref), at most one add-schema (+ set-current-schema)
    * — the spec's schema-evolution commit, lowered onto graft's
    * metadata-only evolution (reference parity:
    * LakeFSTableOperations.commit, java:115-147, accepts ANY metadata
    * swap — schema changes included) — partition-spec and tag ref
    * writes, property updates, and the advisory updates graft accepts
    * as validated no-ops; anything else refuses. `served` is None for
    * a staged create, whose identity/serving details (uuid, format
    * version, location) graft assigns itself on export, and for a
    * `view` change, which takes only the [[ViewActions]].
    */
  private def parseUpdates(change: JsonNode, served: Option[IcebergMeta.Table],
      key: String, view: Boolean = false): Updates = {
    // graft.* table properties are engine state (MoR tombstones, commit
    // sequence, staging markers): a REST client rewriting them could
    // resurrect deleted rows — same guard as native ALTER's SetProperty
    def guardProp(k: String): String = {
      if (k.startsWith("graft."))
        throw new UnsupportedOperationException(
          s"$k is engine-managed graft state; not settable over REST")
      k
    }
    def once(what: String, seen: Option[Any],
        node: => Option[JsonNode]): Option[JsonNode] = {
      if (seen.isDefined) throw new UnsupportedOperationException(
        s"one $what per commit ($key)")
      Some(node.getOrElse(throw new IllegalArgumentException(
        s"$what carries no ${what.stripPrefix("add-")}")))
    }
    Option(change.get("updates")).toSeq.flatMap(_.elements().asScala)
      .foldLeft(Updates()) { (acc, u) =>
        text(u, "action") match {
          case a if view && !ViewActions(a) =>
            throw new UnsupportedOperationException(
              s"unsupported view update over REST: $a")
          case a @ "add-snapshot" =>
            acc.copy(snap = once(a, acc.snap,
              Option(u.get("snapshot"))).map(IcebergMeta.parseSnapshot))
          case "set-snapshot-ref" =>
            val rn = Option(u.get("ref-name")).map(_.asText()).getOrElse("main")
            val rt = Option(u.get("type")).map(_.asText()).getOrElse("branch")
            val sid = Option(u.get("snapshot-id")).filterNot(_.isNull)
              .map(_.asLong())
            if (rn == "main") acc.copy(refTarget = sid)
            // named TAG ref write (Spark's ALTER TABLE ... CREATE TAG,
            // ManageSnapshots.createTag): lowers onto a graft repo tag
            // at the commit where this table served the named snapshot
            else if (rt == "tag") acc.copy(tagCreate = Some(rn ->
              sid.getOrElse(throw new IllegalArgumentException(
                s"set-snapshot-ref tag $rn carries no snapshot-id"))))
            else throw new UnsupportedOperationException(
              s"named BRANCH refs are repo-level in graft — create a " +
                s"graft branch and address it as its own namespace " +
                s"(ref $rn); only TAG refs can be written per-table")
          case "remove-snapshot-ref" =>
            val rn = text(u, "ref-name")
            if (rn == "main") throw new IllegalArgumentException(
              "cannot remove the main ref")
            acc.copy(tagRemove = Some(rn))
          case "set-properties" =>
            acc.copy(setProps = acc.setProps ++ Option(u.get("updates"))
              .toSeq.flatMap(_.fields().asScala)
              .map(e => guardProp(e.getKey) -> e.getValue.asText()))
          case "remove-properties" =>
            acc.copy(removeProps = acc.removeProps ++
              Option(u.get("removals")).toSeq
                .flatMap(_.elements().asScala).map(n => guardProp(n.asText())))
          case a @ "add-schema" =>
            acc.copy(schema = once(a, acc.schema,
              Option(u.get("schema"))))
          case "set-current-schema" =>
            acc.copy(currentSchema = Some(Option(u.get("schema-id"))
              .map(_.asInt()).getOrElse(-1)))
          case a @ "add-partition-spec" =>
            acc.copy(spec = once(a, acc.spec,
              Option(u.get("spec")).orElse(Some(u))))
          case "set-default-spec" => acc.copy(setDefaultSpec = true)
          // graft tables have no sort orders; an engine's declared
          // order is advisory (write-side clustering) and drops here —
          // the served default-sort-order-id stays 0
          case "add-sort-order" | "set-default-sort-order" => acc
          // an engine's ANALYZE TABLE posts Puffin statistics-file
          // pointers; graft computes its own stats (snapshot metadata +
          // footer NDV), so the pointers are accepted and discarded —
          // failing the engine's ANALYZE over optional advisory
          // metadata would be worse than not serving it back
          case "set-statistics" | "remove-statistics" |
               "set-partition-statistics" | "remove-partition-statistics" =>
            acc
          // an engine's expire_snapshots posts remove-snapshots; graft
          // is a VERSIONED catalog — history retention is governed by
          // graft's own expire/vacuum (branch semantics), and the
          // served history depth is maxSnapshots-bounded anyway, so the
          // request is accepted as a validated no-op rather than
          // failing the engine's maintenance job
          case "remove-snapshots" => acc
          // upgrading to the version ALREADY SERVED is a validated
          // no-op (iceberg-core posts it defensively); an actual
          // version change is server configuration, not table state
          case "upgrade-format-version" =>
            val want = Option(u.get("format-version")).map(_.asInt())
              .getOrElse(throw new IllegalArgumentException(
                "upgrade-format-version carries no format-version"))
            served.foreach { s =>
              val have = s.formatVersion
              if (want != have) throw new UnsupportedOperationException(
                s"this server serves format-version $have; start the " +
                  s"REST server with formatVersion=$want to change it " +
                  "(a graft table has no per-table format version)")
            }
            acc
          // assign-uuid matching the served identity is a no-op; a
          // different uuid is a client addressing bug
          case "assign-uuid" =>
            val want = text(u, "uuid")
            served.foreach { s =>
              val have = s.uuid
              if (want != have) throw new IllegalArgumentException(
                s"assign-uuid $want does not match the table's identity " +
                  s"$have")
            }
            acc
          case "set-location" if served.isEmpty => acc
          case a @ "add-view-version" if view =>
            acc.copy(viewVersion = once(a, acc.viewVersion,
              Option(u.get("view-version"))))
          case "set-current-view-version" if view => acc
          case other => throw new UnsupportedOperationException(
            s"unsupported metadata update over REST: $other (supported: " +
              "add-snapshot + set-snapshot-ref + set-properties + " +
              "remove-properties + add-schema + set-current-schema + " +
              "add-partition-spec + set-default-spec + advisory sort " +
              "orders / statistics / remove-snapshots)")
        }
      }
  }

  /** The data and delete files a posted snapshot's manifest list names.
    * An unreadable/garbage manifest list is the CLIENT's error — the
    * posted location either does not exist or is not avro — never a
    * commit-state-unknown 500.
    */
  private def postedFiles(snap: IcebergMeta.Snapshot, version: Int)
      : (Seq[IcebergImport.DataFile], Seq[IcebergImport.DeleteFile]) =
    try IcebergImport.filesOfManifestList(snap.manifestList, version)
    catch {
      case e @ (_: java.io.IOException |
                _: org.apache.avro.AvroRuntimeException) =>
        throw new IllegalArgumentException(
          s"posted manifest-list is unreadable: ${e.getMessage}")
    }

  /** A staged-create publish: the posted updates carry the full table
    * build — schema, partition spec, properties, first snapshot. */
  private def stageCreate(repo: GraftRepo, ref: String, dirs: Seq[String],
      key: String, destRoot: Path, u: Updates): Create = {
    val schemaNode = u.schema.getOrElse(throw new IllegalArgumentException(
      "staged create commit carries no add-schema"))
    val schema = IcebergImport.structOf(schemaNode)
    val spec = specOf(u.spec, schemaNode)
    TableOps.validateSpec(schema, spec)
    // first snapshot's files (a zero-row CTAS may post none); the
    // engine wrote its manifest list against the staged metadata this
    // server handed out
    val entries = u.snap.map { snap =>
      val (postedData, postedDeletes) = postedFiles(snap, stagedVersion)
      if (postedDeletes.nonEmpty) throw new UnsupportedOperationException(
        "a staged create's first snapshot carries delete files")
      ingestEntries(repo, ref, key, destRoot, postedData, schema,
        Map.empty, spec, hadoopConf())
    }.getOrElse(Nil)
    Create(ref, key, dirs, schema, spec, u.setProps -- u.removeProps,
      entries, s"rest: create table $key (staged, ${entries.size} " +
        s"files, ${entries.map(_.rows).sum} rows)")
  }

  /** A change to an existing table, lowered against its served
    * metadata. */
  private def stageUpdate(repo: GraftRepo, ref: String, key: String,
      destRoot: Path, served: IcebergMeta.Table, u: Updates)
      : Staged = {
    val Updates(snapNode, newSchemaNode, newSpecNode, sawSetDefaultSpec,
      setCurrentSchema, setRefTarget, tagCreate, tagRemove, setProps,
      removeProps, _) = u
    val servedGraftSnap = served.properties("graft.source-snapshot")
    val servedSnapId = served.currentSnapshotId
    val servedSchemaId = served.currentSchemaId

    // set-current-schema must point at the schema this commit added
    // (-1 = "last added", the form engines post) or the served current
    setCurrentSchema.foreach { sid =>
      val addedId = newSchemaNode.flatMap(s =>
        Option(s.get("schema-id")).map(_.asInt()))
      if (sid != -1 && !addedId.contains(sid) && sid != servedSchemaId)
        throw new IllegalArgumentException(
          s"set-current-schema references schema-id $sid, which this " +
            "commit does not add")
    }
    val curSchemaNode = served.currentSchema.node
    // lower the posted Iceberg schema onto graft TableChanges by FIELD
    // ID diff against the served schema (field ids are the identity
    // Iceberg evolution preserves)
    val schemaChanges: Seq[org.apache.spark.sql.connector.catalog.TableChange] =
      newSchemaNode.map(schemaChangesOf(curSchemaNode, _)).getOrElse(Nil)

    val pin: graft.versioned.Commit => Unit =
      b => if (!b.tables.get(key).contains(servedGraftSnap))
        throw new RestConflict("CommitFailedException",
          s"branch $ref moved since the served base of $key — refresh " +
            "and retry")
    val head = repo.snapshot(repo.resolve(ref).tables(key))
    def member(entries: Seq[FileEntry],
        eqFilter: Option[org.apache.spark.sql.sources.Filter],
        dropRels: Seq[String], message: String): Member =
      Member(ref, key, servedGraftSnap, entries, eqFilter, dropRels,
        schemaChanges, setProps, removeProps, message)

    // set-default-spec must point at the spec THIS commit adds: graft
    // stores exactly one current spec, so switching back to a
    // previously-added spec id is not representable — ignoring it
    // would let an engine believe a spec flip it never got
    if (sawSetDefaultSpec && newSpecNode.isEmpty)
      throw new UnsupportedOperationException(
        "set-default-spec without add-partition-spec: graft keeps ONE " +
          "current partition spec — post the full add-partition-spec " +
          "for the layout you want")

    // ---- partition-spec evolution (ALTER TABLE ADD PARTITION FIELD
    // over REST): its own metadata-only commit, lowered onto graft's
    // forward-only spec swap (TableOps.setPartitionSpec — old files
    // keep their recorded values, name-reuse rebinds to fresh names)
    if (newSpecNode.isDefined) {
      if (snapNode.isDefined || newSchemaNode.isDefined)
        throw new UnsupportedOperationException(
          "a partition-spec change is its own commit over REST " +
            "(no add-snapshot / add-schema alongside)")
      val spec = specOf(newSpecNode, curSchemaNode)
      return SingleTable(ref, key, "a partition-spec change", () =>
        TableOps.setPartitionSpec(repo, ref, key, spec, precheck = pin,
          setProps = setProps, removeProps = removeProps))
    }

    // ---- TAG ref writes (set-snapshot-ref type=tag / remove-snapshot-
    // ref): Spark's ALTER TABLE ... CREATE/DROP TAG lowers onto graft
    // REPO tags — the created tag pins the newest first-parent commit
    // where this table served the named snapshot (for "tag the current
    // state", the head commit); the read side then serves it back in
    // every exported table's refs map (an Iceberg tag means "the
    // table's state at the tagged commit", so the repo-level scope is a
    // superset, never a lie — SURVEY §6). Its own commit: combining a
    // tag write with data/schema updates would entangle the tag with an
    // uncommitted snapshot ([[stageChange]] refuses the mix). Tag state
    // is baked into the serve memo's graft.source-tags signature, so
    // commitTable's re-serve re-exports with the fresh refs map.
    if (tagCreate.isDefined || tagRemove.isDefined)
      return SingleTable(ref, key, "a tag ref write", () => {
        tagCreate.foreach { case (name, sid) =>
          // newest-first walk over ALL parents (bounded breadth-first),
          // O(distance to target) commit loads — tag creation is
          // control-plane rare, no memo needed. All parents, not just the
          // first: a snapshot reachable only through a merge's SECOND
          // parent is still one an engine observed via the served
          // metadata, so it must be taggable (the first-parent-only walk
          // 400'd it as "not a version"). A path stops at the table's
          // creation commit (table absent → parents not walked).
          val head = repo.resolve(ref)
          val seen = scala.collection.mutable.HashSet[String](head.id)
          val queue = scala.collection.mutable.Queue[graft.versioned.Commit](head)
          var found: Option[String] = None
          var hops = 0
          while (found.isEmpty && queue.nonEmpty && hops < 100000) {
            val c = queue.dequeue()
            hops += 1
            c.tables.get(key) match {
              case Some(gid) if IcebergExport.icebergSnapshotId(gid) == sid =>
                found = Some(c.id)
              case Some(_) =>
                c.parents.filter(seen.add).foreach(p => queue.enqueue(repo.commit(p)))
              case None => ()
            }
          }
          val cid = found.getOrElse(throw new IllegalArgumentException(
            s"set-snapshot-ref tag $name names snapshot $sid, which is " +
              s"not a version of $key on $ref"))
          if (repo.tagExists(name)) {
            // IDEMPOTENT when the existing tag serves the SAME snapshot
            // for this table (not same-commit: an unrelated commit can
            // move head so a retried create resolves a different commit
            // with the identical table state); a genuinely different
            // target refuses — graft tags are immutable while they live
            val sameState = scala.util.Try(repo.resolve(name)).toOption
              .flatMap(_.tables.get(key))
              .exists(g => IcebergExport.icebergSnapshotId(g) == sid)
            if (!sameState)
              throw new RestConflict("AlreadyExistsException",
                s"tag already exists: $name")
          } else repo.createTag(name, cid)
        }
        tagRemove.foreach { name =>
          if (!repo.tagExists(name))
            throw new NoSuchElementException(s"no such tag: $name")
          repo.dropTag(name)
        }
      })

    // ---- engine ROLLBACK (Spark's rollback_to_snapshot / Iceberg's
    // ManageSnapshots.setCurrentSnapshot): a bare set-snapshot-ref to a
    // PRIOR served snapshot, no add-snapshot. The exported snapshot id
    // is the stable 64-bit name-UUID of the graft snapshot sha
    // (IcebergExport), so it inverts over the same first-parent history
    // walk the export used — and the rollback is a ZERO-COPY table
    // pointer swap (content-addressed snapshots never moved).
    if (snapNode.isEmpty && newSchemaNode.isEmpty &&
        setRefTarget.exists(id => !servedSnapId.contains(id))) {
      if (setProps.nonEmpty || removeProps.nonEmpty)
        throw new UnsupportedOperationException(
          "rollback (set-snapshot-ref to a prior snapshot) is its own " +
            "commit over REST — post property updates separately")
      val target = setRefTarget.get
      return SingleTable(ref, key, "a rollback", () =>
        rollback(repo, ref, key, head, target, pin))
    }

    // ---- no snapshot: a metadata-only commit (ALTER TABLE over REST),
    // or a validated no-op — advisory updates only (a bare WRITE
    // ORDERED BY, an ANALYZE TABLE statistics pointer) or a
    // set-snapshot-ref to the CURRENT snapshot (engines post it after
    // refresh)
    if (snapNode.isEmpty)
      return member(Nil, None, Nil, s"rest: update schema $key").copy(
        noop = newSchemaNode.isEmpty && setProps.isEmpty &&
          removeProps.isEmpty)

    val snap = snapNode.get
    // a set-snapshot-ref riding an add-snapshot must name the ADDED
    // snapshot (or the served current) — a mismatched target is a
    // client bug that would otherwise land the posted snapshot while
    // the engine believes the ref moved somewhere else
    setRefTarget.foreach { tgt =>
      if (snap.id != tgt && !servedSnapId.contains(tgt))
        throw new IllegalArgumentException(
          s"set-snapshot-ref names snapshot $tgt, but this commit adds " +
            s"${snap.id} — post a rollback (bare " +
            "set-snapshot-ref) or a consistent commit")
    }
    val op = snap.operation.getOrElse("append")
    if (!Set("append", "overwrite", "delete", "replace")(op))
      throw new UnsupportedOperationException(
        s"unsupported commit operation over REST: '$op' (accepted: " +
          "append, overwrite, delete, replace)")
    // a snapshot written under the schema this same commit adds is
    // fine; any OTHER unknown schema-id is a client bug
    snap.schemaId.foreach { sid =>
      val addedId = newSchemaNode.flatMap(s =>
        Option(s.get("schema-id")).map(_.asInt()))
      if (sid != servedSchemaId && !addedId.contains(sid))
        throw new IllegalArgumentException(
          s"snapshot schema-id $sid matches neither the served " +
            s"current-schema-id $servedSchemaId nor a schema added by " +
            "this commit")
    }

    // the EVOLVED table shape this commit's files are described under
    // (identity when no schema change was posted)
    val ev = SchemaEvolution.evolve(head, schemaChanges)
    if (schemaChanges.nonEmpty && op != "append")
      throw new UnsupportedOperationException(
        "schema changes combine only with append commits over REST " +
          "(post the schema update on its own, then the rewrite)")

    // ---- the posted table state must be (base − dropped) ∪ new; an
    // `append` may not drop anything, an `overwrite`/`delete` expresses
    // the engine's CoW rewrite by dropping the files it replaced.
    // EQUALITY delete files lower onto graft's predicate tombstones —
    // the exact inverse of the exporter's tombstone → equality-delete
    // mapping (SURVEY §2.1b.3): the posted value rows become one
    // tombstone at the table's next sequence, data files added in the
    // SAME commit register at that sequence and are exempt (Iceberg's
    // strictly-lower rule, graft's strict `>` applicability — the
    // Flink-upsert shape). POSITIONAL delete files and v3 DVs — the
    // default Spark MoR DELETE/UPDATE shape — lower onto a server-side
    // CoW rewrite of exactly the files they reference
    // ([[materializePosDeletes]]): reference parity with
    // LakeFSTableOperations.commit (java:115-147), which accepts any
    // metadata swap.
    val (postedData, postedDeletes) = postedFiles(snap, served.formatVersion)
    val basePlan = IcebergImport.plan(served, None)
    // delete files the posted snapshot RELISTS from the served export
    // are the table's OWN tombstones coming back (a real engine reuses
    // existing delete manifests on every commit — an append on a
    // MoR-tombstoned table relists them verbatim). Their semantics
    // already live in graft's properties, so they are recognized by
    // path and skipped: refusing would 400 every legitimate append on
    // a tombstoned table, re-lowering would duplicate the tombstone
    // per commit.
    val servedDeletePaths =
      basePlan.deleteFiles.map(d => IcebergImport.normStr(d.path)).toSet
    val newDeletes = postedDeletes.filterNot(d =>
      servedDeletePaths(IcebergImport.normStr(d.path)))
    val (eqDeletes, posDeletes) =
      newDeletes.partition(d => d.content == 2 && d.dv.isEmpty)
    if (posDeletes.nonEmpty && op == "append")
      throw new IllegalArgumentException(
        s"append commit for $key carries positional delete files (post " +
          "operation=overwrite or delete)")
    if (posDeletes.nonEmpty && schemaChanges.nonEmpty)
      throw new UnsupportedOperationException(
        "schema changes and positional deletes cannot share one commit")
    if (eqDeletes.nonEmpty && op == "append")
      throw new IllegalArgumentException(
        s"append commit for $key carries equality delete files (post " +
          "operation=overwrite or delete)")
    if (eqDeletes.nonEmpty && schemaChanges.nonEmpty)
      throw new UnsupportedOperationException(
        "schema changes and equality deletes cannot share one commit")
    val basePaths = basePlan.dataPaths.toSet
    val dropped = basePaths -- postedData.map(_.path).toSet
    if (op == "append" && dropped.nonEmpty)
      throw new UnsupportedOperationException(
        s"posted snapshot for $key drops ${dropped.size} base data " +
          "file(s) — not an append (post operation=overwrite to rewrite " +
          "files)")
    if (eqDeletes.nonEmpty && dropped.nonEmpty)
      throw new UnsupportedOperationException(
        "one commit mixes dropped data files (CoW) with equality " +
          "delete files (MoR) — post them as two commits")
    if (posDeletes.nonEmpty && dropped.nonEmpty)
      throw new UnsupportedOperationException(
        "one commit mixes dropped data files (CoW) with positional " +
          "delete files (MoR) — post them as two commits")
    val addedFiles = postedData.filterNot(d => basePaths(d.path))
    // dropped base files must be data-plane rels (they are — the
    // served export references them in place)
    val dropRels = dropped.toSeq.sorted.map { loc =>
      repo.dataIO.relOf(loc).getOrElse(
        throw new IllegalStateException(
          s"base data file outside the repo data plane: $loc"))
    }
    lazy val hconf = hadoopConf()

    // ---- operation=replace: an external engine's OWN maintenance —
    // Spark's rewrite_data_files, Flink's compaction — posting a
    // row-preserving rewrite: dropped base files re-expressed as new
    // files with identical live content. Reference parity:
    // LakeFSTableOperations.java:115–147 accepts any metadata swap.
    // Graft validates the shape the way TableOps.compact validates its
    // own rewrite — dropped files must still be live at the commit base
    // and the tombstone set must not have moved since the served base
    // (a concurrent MoR delete would be silently materialized away) —
    // and lands it as a structural compaction commit
    // (Commit.CompactMarker), so the Iceberg export classifies it
    // `replace` and changesBetween nets it to zero.
    if (op == "replace") {
      if (newDeletes.nonEmpty)
        throw new IllegalArgumentException(
          s"replace (compaction) commit posts ${newDeletes.size} new " +
            "delete file(s) — a rewrite materializes deletes, it does " +
            "not add them (post MoR deletes as operation=delete)")
      // a served delete file this replace RETIRES must no longer apply
      // to any surviving base file, or the rows it masked would
      // resurrect in the engine's view of the table
      val postedDelNorm = postedDeletes
        .map(dd => IcebergImport.normStr(dd.path)).toSet
      val retiredDels = basePlan.deleteFiles.filterNot(dd =>
        postedDelNorm(IcebergImport.normStr(dd.path)))
      val survivingBase = basePlan.dataFiles.filterNot(f => dropped(f.path))
      retiredDels.foreach { dd =>
        val mayApply = dd.dv match {
          case Some(r) => survivingBase.exists(f =>
            IcebergImport.normStr(f.path) ==
              IcebergImport.normStr(r.referencedFile))
          case None if dd.content == 2 => survivingBase.exists(_.seq < dd.seq)
          // file-based positional: which files it references is not
          // knowable without reading it — conservative refusal
          case None => survivingBase.exists(_.seq <= dd.seq)
        }
        if (mayApply) throw new IllegalArgumentException(
          s"replace commit retires delete file ${dd.path} that may " +
            "still apply to surviving base file(s) — the rows it masks " +
            "would resurrect; rewrite those files too or relist it")
      }
      return SingleTable(ref, key, "a replace (compaction) commit", () => {
        val entries = ingestEntries(repo, ref, key, destRoot, addedFiles,
          ev.schema, ev.mapping, ev.spec, hconf)
        repo.commitRetry(ref, s"rest: replace $key (engine compaction: " +
          s"-${dropRels.size} +${entries.size} files)",
          marker = Some(Commit.CompactMarker)) { base =>
          pin(base)
          val prior = repo.snapshot(base.tables(key))
          val live = prior.files.iterator.map(_.path).toSet
          val missing = dropRels.toSet -- live
          if (missing.nonEmpty) throw new MergeConflictException(
            s"replace of $key drops ${missing.size} file(s) not live at " +
              s"the commit base (e.g. ${missing.head}) — refresh and retry")
          if (Tombstones.signature(prior) != Tombstones.signature(head))
            throw new MergeConflictException(
              s"replace of $key conflicts with a concurrent merge-on-read " +
                "delete since the served base — refresh and re-run")
          // row-preservation sanity: a replace may only SHRINK rows, and
          // only by materializing deletes that masked the dropped files;
          // when nothing masked them it must preserve rows EXACTLY. The
          // CompactMarker makes changesBetween net this commit to zero,
          // so a lying rewrite would otherwise hide inserts (or silent
          // row loss) from every CDC consumer.
          val droppedEntries = {
            val ds = dropRels.toSet
            prior.files.filter(f => ds(f.path))
          }
          val droppedRows = droppedEntries.map(_.rows).sum
          val addedRows = entries.map(_.rows).sum
          if (addedRows > droppedRows) throw new IllegalArgumentException(
            s"replace of $key posts $addedRows rows where the dropped " +
              s"files held $droppedRows — a compaction never grows rows " +
              "(post new rows as operation=append)")
          val tombs = Tombstones.of(prior)
          // seqNo, NOT seq.getOrElse: jackson materializes small JSON
          // numbers as boxed Integers inside Option[Long] (Model.scala),
          // so a loaded snapshot's f.seq unboxes to ClassCastException
          val anyMasked = retiredDels.nonEmpty || droppedEntries.exists(f =>
            tombs.exists(_.seq > f.seqNo))
          if (!anyMasked && addedRows != droppedRows)
            throw new IllegalArgumentException(
              s"replace of $key posts $addedRows rows where the dropped " +
                s"files held $droppedRows and no delete masked them — a " +
                "row-preserving rewrite must keep the count exact")
          val props0 = (prior.properties -- removeProps) ++ setProps
          val next = Tombstones.lastSeq(props0) + 1
          val stamped = entries.map(_.copy(seq = Some(next)))
          val dropSet = dropRels.toSet
          val kept = prior.files.filterNot(f => dropSet(f.path))
          val snap2 = repo.writeSnapshot(key, prior.schemaJson,
            kept ++ stamped, prior.partitionBy, prior.physicalNames,
            Some(props0 + (Tombstones.SeqProp -> next.toString)),
            prior.retired)
          (base.tables + (key -> snap2.id), base.namespaces)
        }
      })
    }

    if (posDeletes.nonEmpty) {
      val pm = materializePosDeletes(repo, ref, key, destRoot, head,
        basePlan, addedFiles, posDeletes, eqDeletes, hconf)
      return member(pm.rewritten ++ pm.cleanEntries, pm.eqFilter,
        pm.dropBaseRels, s"rest: $op $key (positional deletes " +
          s"materialized: ${pm.dirtyBase} base file(s) rewritten, " +
          s"${pm.dirtyAdds} add(s) folded, +${pm.cleanEntries.size} new" +
          (if (pm.eqFilter.isDefined) ", equality tombstone" else "") + ")")
    }
    // equality deletes → ONE tombstone predicate (Or across files/rows),
    // built before any file registers: a NULL-valued or oversized
    // equality delete refuses first
    val eqFilter =
      if (eqDeletes.isEmpty) None
      else Some(equalityTombstoneFilter(repo, destRoot, eqDeletes,
        basePlan))
    val entries = ingestEntries(repo, ref, key, destRoot, addedFiles,
      ev.schema, ev.mapping, ev.spec, hconf)
    val rows = entries.map(_.rows).sum
    member(entries, eqFilter, dropRels,
      if (eqFilter.isDefined)
        s"rest: $op $key (merge-on-read, +${entries.size} files)"
      else if (schemaChanges.nonEmpty)
        s"rest: evolve+append $key (+${entries.size} files)"
      else if (op == "append")
        s"rest: append $key (${entries.size} files, $rows rows)"
      else s"rest: $op $key (+${entries.size}/-${dropRels.size} files, " +
        s"+$rows rows)")
  }

  /** Engine ROLLBACK of `key` on `ref` to the exported snapshot id
    * `target` (class doc: WRITE PATH; [[stageChange]] classifies it):
    * a zero-copy table pointer swap, or a file-set revert across a
    * metadata change. `pin` is the served-base check every REST commit
    * runs inside its race.
    */
  private def rollback(repo: GraftRepo, ref: String, key: String,
      head: graft.versioned.Snapshot, target: Long,
      pin: graft.versioned.Commit => Unit): Unit = {
    def sidOf(gid: String): Long = IcebergExport.icebergSnapshotId(gid)
    // the sid→gid inversion is MEMOIZED per served table keyed by
    // the head commit, and the walk is LAZY: it stops at the
    // requested sid and records the frontier (next unwalked commit),
    // so a rollback loads O(distance to target) commits — never the
    // whole first-parent history of a deep table (one commit load =
    // one RPC on a remote GraftIO backend). A repeat rollback to an
    // indexed id loads ZERO commits; a deeper target resumes from
    // the frontier; new commits above the old head splice onto the
    // cached index (the NEWER walk wins on a sid collision, matching
    // head-first order).
    val targetGid: Option[String] = {
      val headC = repo.resolve(ref)
      val cacheKey = s"${repo.root}\u0000$ref\u0000$key"
      val cached = Option(rollbackSidIndex.get(cacheKey))
      var idx = Map.empty[Long, String]
      var frontierId: Option[String] = Some(headC.id)
      // headC is already loaded — spare the first walk step its RPC
      var preloaded: Option[graft.versioned.Commit] = Some(headC)
      // a stale-head cache still splices when the walk reaches its head
      var splice = cached
      cached match {
        case Some((hid, i, f)) if hid == headC.id =>
          idx = i; frontierId = f; splice = None
        case _ => ()
      }
      var hops = 0
      while (!idx.contains(target) && frontierId.isDefined &&
        hops < 100000) {
        splice.filter(_._1 == frontierId.get) match {
          case Some((_, old, oldF)) =>
            idx = old ++ idx
            frontierId = oldF
            splice = None
          case None =>
            val c = preloaded.filter(_.id == frontierId.get)
              .getOrElse(repo.commit(frontierId.get))
            preloaded = None
            if (!c.tables.contains(key)) frontierId = None
            else {
              val gid = c.tables(key)
              val sid = sidOf(gid)
              if (!idx.contains(sid)) idx += (sid -> gid)
              frontierId = c.parents.headOption
              hops += 1
            }
        }
      }
      rollbackSidIndex.put(cacheKey, (headC.id, idx, frontierId))
      idx.get(target)
    }
    val gid = targetGid.getOrElse(throw new IllegalArgumentException(
      s"set-snapshot-ref names snapshot $target, which is not a " +
        s"version of $key on $ref — nothing to roll back to"))
    val targetSnap = repo.snapshot(gid)
    // vacuum check: only files the HEAD no longer lists can have been
    // GC'd (vacuum spares everything reachable from a branch head).
    // Segmented tables diff content-addressed manifest refs — files
    // in chunks the head still carries are alive for free, and only
    // the differing chunks load, so the probe is O(changed chunks)
    // metadata + O(their files) stats, never an O(table)
    // materialization or stat storm on a million-file table. (A file
    // in a differing chunk may still be alive under a shifted chunk
    // boundary — its stat is then merely redundant, never wrong.)
    // The probe runs INSIDE each commit closure against the retry
    // base's head (not the pre-commit head), so a ref that moved
    // between probe and publish is re-checked against the base the
    // CAS actually publishes on. RESIDUAL RACE, documented: vacuum
    // never advances the branch ref, so a sweep that starts after
    // the in-closure probe and deletes target-only files before the
    // CAS lands is invisible to commitRetry — the probe shrinks the
    // window from "serve → publish" to "stat → publish" but cannot
    // close it without a repo-level GC/commit mutual exclusion the
    // format does not have (Iceberg proper has the same
    // expire-vs-rollback race). Operationally covered by running
    // vacuum with a generous age threshold and not concurrently
    // with restores, which the age guard's default encodes.
    def requireRestorable(hd: graft.versioned.Snapshot): Unit = {
      val missing: Seq[FileEntry] =
        if (hd.manifestRefs.nonEmpty && targetSnap.manifestRefs.nonEmpty) {
          val headChunks = hd.manifestRefs.map(_.path).toSet
          targetSnap.manifestRefs.filterNot(r => headChunks(r.path))
            .flatMap(r => Manifests.load(repo.root, repo.io, r))
            .filterNot(f => repo.dataIO.isFile(f.path))
        } else if (targetSnap.manifestRefs.isEmpty) {
          // inline target: bounded by the inline threshold
          targetSnap.files.filterNot(f => repo.dataIO.isFile(f.path))
        } else {
          // target segmented, head inline (table shrank): the inline
          // head is small — membership-filter against it, stat the rest
          val headLive = hd.files.iterator.map(_.path).toSet
          targetSnap.files.iterator
            .filterNot(f => headLive(f.path))
            .filterNot(f => repo.dataIO.isFile(f.path)).toSeq
        }
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"rollback target of $key references ${missing.size} vacuumed " +
          s"file(s) (e.g. ${missing.head.path}) — not restorable")
    }
    // Iceberg's rollback moves only the ref — schema, spec, mapping
    // and properties stay CURRENT — but a graft snapshot bundles all
    // of them, so a bare pointer swap across ANY metadata evolution
    // would silently revert state Iceberg keeps current. Served
    // history never crosses an evolution (export eligibility checks
    // all of these), so every id the engine can SEE takes the
    // zero-copy swap; a remembered id from before a metadata change
    // lowers onto a FILE-SET REVERT instead (r15): one commit whose
    // snapshot carries the TARGET's live files and MoR tombstone
    // state under the HEAD's schema/spec/mapping/user properties —
    // exactly the Iceberg observable state (rows revert, metadata
    // does not). Old files read under the current schema the same
    // way any post-evolution read does: physical column names are
    // write-stable (renames rebind only the logical name) and graft
    // evolution is metadata-only, so every file the target listed is
    // still readable and prunable under the head metadata. MoR
    // tombstone state (graft.mor.*) comes from the TARGET: delete
    // state legitimately differs per snapshot and reverting it IS
    // the rollback's point. NOTE the one protocol-visible
    // divergence: the reverted state re-exports under a FRESH
    // snapshot id (a new graft snapshot), where Iceberg proper would
    // re-serve the remembered id — a client that re-posts the same
    // rollback hits the already-reverted guard below and gets a
    // validated no-op.
    def userProps(sn: graft.versioned.Snapshot): Map[String, String] =
      sn.properties.filterNot(_._1.startsWith("graft.mor."))
    def morProps(sn: graft.versioned.Snapshot): Map[String, String] =
      sn.properties.filter(_._1.startsWith("graft.mor."))
    val metadataMatches =
      targetSnap.schemaJson == head.schemaJson &&
      targetSnap.partitionFields == head.partitionFields &&
      targetSnap.nameMapping == head.nameMapping &&
      userProps(targetSnap) == userProps(head)
    // file-set equality: segmented snapshots compare O(chunks) of
    // content-addressed manifest refs (identical lists chunk
    // identically — content-defined cuts), never materializing a
    // million-file list on the driver; inline snapshots compare the
    // lists directly
    val sameFiles =
      if (head.manifestRefs.nonEmpty && targetSnap.manifestRefs.nonEmpty)
        head.manifestRefs.map(_.path) == targetSnap.manifestRefs.map(_.path)
      else if (head.manifestRefs.isEmpty && targetSnap.manifestRefs.isEmpty)
        head.files.map(f => (f.path, f.seqNo)).toSet ==
          targetSnap.files.map(f => (f.path, f.seqNo)).toSet
      else false // one segmented, one inline — sizes differ by design
    val alreadyReverted =
      sameFiles && morProps(head) == morProps(targetSnap)
    if (metadataMatches)
      repo.commitRetry(ref, s"rest: rollback $key to snapshot $target") {
        base =>
          pin(base)
          requireRestorable(repo.snapshot(base.tables(key)))
          (base.tables + (key -> gid), base.namespaces)
      }
    else if (!alreadyReverted)
      repo.commitRetry(ref, s"rest: rollback $key to snapshot $target " +
        "(file-set revert across a metadata change)") { base =>
        pin(base)
        val prior = repo.snapshot(base.tables(key))
        requireRestorable(prior)
        val props = userProps(prior) ++ morProps(targetSnap)
        val ns2 = repo.writeSnapshot(key, prior.schemaJson,
          targetSnap.files, prior.partitionBy, prior.physicalNames,
          if (props.isEmpty) None else Some(props), prior.retired)
        (base.tables + (key -> ns2.id), base.namespaces)
      }
  }

  /** The ONE fold every REST member and staged create lands through —
    * a single-table commit is a one-member transaction. All of
    * `staged` publish in ONE graft commit on `ref` or not at all:
    *  - a member's served base must still be the table's state at the
    *    commit base (the pin), or the WHOLE commit 409s — the engine
    *    refreshes and replays;
    *  - a create decides the `assert-create` race atomically: exactly
    *    one concurrent creator wins, a loser 409s with its siblings
    *    rolled back, and the table's namespace registers with it (a
    *    no-op when it already exists).
    */
  private def land(repo: GraftRepo, ref: String, staged: Seq[Landable],
      message: String): Unit =
    repo.commitRetry(ref, message) { base =>
      val tables = staged.foldLeft(base.tables) {
        case (acc, c: Create) =>
          if (acc.contains(c.key))
            throw new RestConflict("AlreadyExistsException",
              s"table already exists: ${c.key} @ $ref")
          val stamped = c.entries.map(_.copy(seq = Some(1L)))
          val props = c.props ++
            (if (stamped.isEmpty) Map.empty
             else Map(Tombstones.SeqProp -> "1"))
          val snap = repo.writeSnapshot(c.key, c.schema.json, stamped,
            if (c.spec.isEmpty) None else Some(c.spec), None,
            if (props.isEmpty) None else Some(props))
          acc + (c.key -> snap.id)
        case (acc, m: Member) =>
          if (!base.tables.get(m.key).contains(m.servedGraftSnap))
            throw new RestConflict("CommitFailedException",
              s"branch $ref moved since the served base of ${m.key} — " +
                "refresh and retry")
          acc + (m.key -> memberSnapshot(repo, repo.snapshot(acc(m.key)), m).id)
      }
      val namespaces = staged.foldLeft(base.namespaces) {
        case (acc, c: Create) if !acc.contains(c.dirs.mkString("/")) =>
          acc + (c.dirs.mkString("/") -> Map.empty[String, String])
        case (acc, _) => acc
      }
      (tables, namespaces)
    }

  /** The snapshot a member's validated pieces produce against `prior`
    * (the commit base's snapshot of the member's table): a
    * metadata-only member (no files, no deletes, no drops) evolves
    * schema/properties with NO sequence bump; an evolve+append member
    * stamps its files at the next MoR sequence under the schema it
    * adds; otherwise entries stamp at the next sequence, an equality
    * filter lands as a tombstone masking strictly-lower sequences
    * (same-commit adds exempt by graft's strict `>` applicability),
    * and drops leave the live set — re-validated live against `prior`
    * (the fold's base pin makes a violation unreachable; the check
    * guards the invariant). writeSnapshot retires any tombstone the
    * drops leave with nothing to apply to.
    */
  private def memberSnapshot(repo: GraftRepo,
      prior: graft.versioned.Snapshot, m: Member): graft.versioned.Snapshot =
    if (m.entries.isEmpty && m.eqFilter.isEmpty && m.dropRels.isEmpty) {
      val ev = SchemaEvolution.evolve(prior, m.schemaChanges)
      val props = (ev.props -- m.removeProps) ++ m.setProps
      repo.writeSnapshot(m.key, ev.schema.json, prior.files,
        if (ev.spec.isEmpty) None else Some(ev.spec),
        if (ev.mapping.isEmpty) None else Some(ev.mapping),
        if (props.isEmpty) None else Some(props),
        if (ev.retired.isEmpty) None else Some(ev.retired.toSeq.sorted))
    } else if (m.schemaChanges.nonEmpty) {
      require(m.eqFilter.isEmpty && m.dropRels.isEmpty,
        "schema changes combine only with plain appends") // guarded upstream
      val ev = SchemaEvolution.evolve(prior, m.schemaChanges)
      val props0 = (ev.props -- m.removeProps) ++ m.setProps
      val next = Tombstones.lastSeq(props0) + 1
      val stamped = m.entries.map(_.copy(seq = Some(next)))
      repo.writeSnapshot(m.key, ev.schema.json,
        Manifests.appended(prior.files, stamped),
        if (ev.spec.isEmpty) None else Some(ev.spec),
        if (ev.mapping.isEmpty) None else Some(ev.mapping),
        Some(props0 + (Tombstones.SeqProp -> next.toString)),
        if (ev.retired.isEmpty) None else Some(ev.retired.toSeq.sorted))
    } else {
      val props0 = (prior.properties -- m.removeProps) ++ m.setProps
      val next = Tombstones.lastSeq(props0) + 1
      val stamped = m.entries.map(_.copy(seq = Some(next)))
      val props1 = m.eqFilter match {
        case Some(f) => Tombstones.append(props0, next, f)
        case None => props0 + (Tombstones.SeqProp -> next.toString)
      }
      val files2 =
        if (m.dropRels.isEmpty) Manifests.appended(prior.files, stamped)
        else {
          val dropSet = m.dropRels.toSet
          val live = prior.files.iterator.map(_.path).toSet
          val missing = dropSet -- live
          if (missing.nonEmpty) throw new RestConflict(
            "CommitFailedException",
            s"rewrite of ${m.key} drops ${missing.size} file(s) not live " +
              s"at the commit base (e.g. ${missing.head}) — refresh " +
              "and retry")
          prior.files.filterNot(f => dropSet(f.path)) ++ stamped
        }
      repo.writeSnapshot(m.key, prior.schemaJson, files2,
        prior.partitionBy, prior.physicalNames,
        Some(props1), prior.retired)
    }
  /** Lower posted POSITIONAL deletes / v3 DVs onto a server-side CoW
    * rewrite of EXACTLY the referenced (dirty) files: the posted delete
    * rows apply through the independent importer's spec-sequence
    * semantics (IcebergImport.readPlan on a sub-plan of the dirty
    * files), and the survivors land as native graft files. Cost is
    * O(dirty files + delete rows) — what the engine's own CoW DELETE
    * would have paid. The full Flink-upsert commit shape lands in one
    * piece (r13):
    *  - new data files in the same commit (Spark MoR UPDATE: new rows
    *    + positions masking the old) ride the same commit;
    *  - positions may reference SAME-COMMIT added files (Flink's
    *    intra-checkpoint dedup) — those adds are rewritten instead of
    *    registered verbatim;
    *  - equality deletes may ride the same commit: per the spec they
    *    apply STRICTLY BELOW the commit's sequence, so they are
    *    applied physically to the dirty base files' survivors during
    *    the rewrite and land as a tombstone for the untouched files;
    *    same-commit adds stay exempt.
    * The Spark jobs run BEFORE the caller's atomic commit closure (a
    * commit retry must never re-run a distributed rewrite); the caller
    * re-validates the dropped files against ITS base inside the
    * closure, so a concurrent change still 409s instead of silently
    * registering stale survivors.
    */
  private def materializePosDeletes(repo: GraftRepo, ref: String,
      key: String, destRoot: Path, head: graft.versioned.Snapshot,
      basePlan: IcebergImport.Plan,
      addedFiles: Seq[IcebergImport.DataFile],
      posDeletes: Seq[IcebergImport.DeleteFile],
      eqDeletes: Seq[IcebergImport.DeleteFile],
      hconf: org.apache.hadoop.conf.Configuration): PosMaterialized = {
    val s = spark.getOrElse(throw new UnsupportedOperationException(
      "positional-delete commits need the serving SparkSession: the " +
        "referenced files are rewritten with a distributed read"))
    val baseByNorm = basePlan.dataFiles
      .map(f => IcebergImport.normStr(f.path) -> f).toMap
    val addByNorm = addedFiles
      .map(f => IcebergImport.normStr(f.path) -> f).toMap
    val gSchema = org.apache.spark.sql.types.DataType
      .fromJson(head.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      // DVs name their referenced file in the manifest; file-based
      // positional deletes are read for their distinct file_path values
      // (delete files are small — this is one skinny distinct scan
      // through IcebergImport.fileRows, the reader readPlan applies
      // them with). The
      // distinct collects to the driver, so it is SIZE-GUARDED: a commit
      // can only dirty files it lists, and a sane engine's per-commit
      // delete manifest names far fewer — a post past the cap is
      // malformed (or an attack on driver memory) and refuses 400.
      val maxDirty = spark.fold(1000000)(ss =>
        graft.GraftConf.int(ss, "spark.graft.rest.maxDirtyFiles", 1000000))
      def guarded(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val rows = df.limit(maxDirty + 1).collect()
        if (rows.length > maxDirty) throw new IllegalArgumentException(
          s"positional deletes reference more than $maxDirty distinct " +
            "data files in one commit (spark.graft.rest.maxDirtyFiles) " +
            "— split the commit or raise the cap")
        rows.map(r => IcebergImport.normStr(r.getString(0))).toSeq
      }
      val dvDirty = posDeletes.flatMap(_.dv)
        .map(r => IcebergImport.normStr(r.referencedFile))
      val fileDels = posDeletes.filter(_.dv.isEmpty)
      val readDirty: Seq[String] =
        if (fileDels.isEmpty) Nil
        else guarded(IcebergImport.fileRows(s, fileDels,
          IcebergImport.PosDeleteSchema, IcebergImport.PosDeleteIds)
          .select(col("file_path")).distinct())
      val dirtyNorm = (dvDirty ++ readDirty).distinct
      if (dirtyNorm.size > maxDirty) throw new IllegalArgumentException(
        s"positional deletes reference more than $maxDirty distinct " +
          "data files in one commit (spark.graft.rest.maxDirtyFiles) " +
          "— split the commit or raise the cap")
      val (dirtyBaseNorm, restNorm) = dirtyNorm.partition(baseByNorm.contains)
      val (dirtyAddNorm, unknown) = restNorm.partition(addByNorm.contains)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"positional deletes reference ${unknown.size} file(s) neither " +
          s"live at the commit base nor added by this commit (e.g. " +
          s"${unknown.head}) — not a state this table ever held")
      // sub-plan sequence numbers are ASSIGNED, not trusted from the
      // post: dirty base files keep their SERVED sequence numbers and
      // the table's EXISTING delete files (the served export of its MoR
      // tombstones / DVs) ride the sub-plan at theirs — the rewrite must
      // apply whatever already masked those files, because the survivors
      // land at graft seq `next` (above every existing tombstone, which
      // applies only at t.seq > f.seqNo) and would otherwise RESURRECT
      // rows an earlier delete removed. The posted deletes and
      // same-commit adds are assigned one ABOVE the served maximum:
      // positional applies at <= (base AND same-commit adds), equality
      // strictly < (base only), exactly the spec's rules for one engine
      // commit, and existing deletes keep applying only to base files.
      // validate (and build) the equality tombstone FIRST: a NULL-valued
      // or oversized equality delete must refuse before any Spark job
      // stages rewrite files
      val eqFilter =
        if (eqDeletes.isEmpty) None
        else Some(equalityTombstoneFilter(repo, destRoot, eqDeletes,
          basePlan))
      val servedMaxSeq = (basePlan.dataFiles.iterator.map(_.seq) ++
        basePlan.deleteFiles.iterator.map(_.seq) ++ Iterator(0L)).max
      val subSeq = servedMaxSeq + 1
      val dirtyFiles = dirtyBaseNorm.map(baseByNorm) ++
        dirtyAddNorm.map(n => addByNorm(n).copy(seq = subSeq))
      // existing DVs are pre-filtered to the dirty set (the manifest
      // names their referenced file — free); file-based existing
      // positional/equality deletes ride whole, readPlan path-matches
      val existingDeletes = basePlan.deleteFiles.filter(d => d.dv.forall(r =>
        dirtyNorm.contains(IcebergImport.normStr(r.referencedFile))))
      val subDeletes = existingDeletes ++
        (posDeletes ++ eqDeletes).map(_.copy(seq = subSeq))
      val surviving = IcebergImport.readPlan(s,
        basePlan.copy(dataFiles = dirtyFiles, deleteFiles = subDeletes))
      // the served plan emits PHYSICAL column names (export invariant);
      // writeFiles takes the table's LOGICAL shape + its name mapping —
      // the exact call the native CoW DELETE makes — so the rewritten
      // files keep partition layout and rename-proof physical stats
      val survivingLogical = surviving.select(
        gSchema.fields.toIndexedSeq.map(f =>
          col(head.physicalName(f.name)).as(f.name)): _*)
      val rewritten =
        if (surviving.isEmpty) Nil
        else TableOps.writeFiles(s, repo, survivingLogical, key,
          head.partitionFields, head.nameMapping,
          // a bloom table's rewrite keeps building sidecars — pruning
          // must not decay under engine-driven MoR churn
          bloomCols = Blooms.physCols(head,
            TableOps.toPhysical(gSchema, head.nameMapping)),
          bloomItems = Blooms.items(head))
      val dropRels = dirtyBaseNorm.map(baseByNorm).map { f =>
        repo.dataIO.relOf(f.path).getOrElse(
          throw new IllegalStateException(
            s"base data file outside the repo data plane: ${f.path}"))
      }
      // clean adds register as usual; dirty adds were folded into the
      // rewrite above and must not land twice
      val cleanEntries = ingestEntries(repo, ref, key, destRoot,
        addedFiles.filterNot(f =>
          dirtyAddNorm.contains(IcebergImport.normStr(f.path))),
        gSchema, head.nameMapping, head.partitionFields, hconf)
      PosMaterialized(rewritten, dropRels, cleanEntries, eqFilter,
        dirtyBaseNorm.size, dirtyAddNorm.size)
    }

  /** CommitTransactionRequest — the spec's MULTI-TABLE transaction:
    * every table-change lands in ONE graft commit, so fact + dimension
    * appends publish together or not at all. This is the repo-level
    * transactionality the reference's design inherits from lakeFS (a
    * lakeFS commit captures whole-repo state) and that per-table
    * Iceberg catalogs cannot give — graft's native commit model serves
    * it directly (the REST analog of [[TableOps.atomicAppend]]).
    *
    * Scope: a member is exactly a CommitTableRequest body — each one
    * parses through the same [[stageChange]] as `POST .../tables/{t}`,
    * with the same requirements, updates and error answers — and the
    * members land through the same fold ([[land]]) a single-table
    * commit does. So a member may be an append, a CoW rewrite, an
    * equality or positional delete (the positional rewrite's Spark jobs
    * run in staging, before the atomic fold, so a commit retry never
    * re-runs them), an evolve+append, a metadata-only change, a
    * validated no-op or a staged CREATE (`assert-create` — the Flink
    * side-output-table checkpoint shape). The single-table-only kinds —
    * tag ref writes, rollbacks, partition-spec changes and `replace`
    * (engine compaction) — refuse with 400: each is its own commit,
    * and no mainstream engine posts them multi-table. All tables must
    * live on ONE branch (a graft commit is per-branch), each named
    * once.
    */
  private def commitTransaction(repo: GraftRepo, prefix: Option[String],
      req: JsonNode): Unit = {
    val changes = Option(req.get("table-changes")).toSeq
      .flatMap(_.elements().asScala).toSeq
    if (changes.isEmpty) throw new IllegalArgumentException(
      "transaction carries no table-changes")
    // members stage on up to 3 driver threads: each member touches its
    // OWN table (duplicates rejected below), serve() locks per served
    // table, and the heavy member work (footer reads, the positional-
    // delete lowering's Spark jobs) is independent. The first failing
    // member's error wins, with the remaining stages cancelled
    // (siblings' already-staged files are orphans until vacuum).
    val staged = TableOps.stageConcurrently(changes) { ch =>
      val ident = Option(ch.get("identifier")).getOrElse(
        throw new IllegalArgumentException(
          "table-change carries no identifier"))
      val ns = Option(ident.get("namespace")).toSeq
        .flatMap(_.elements().asScala).map(_.asText()).toSeq
      stageChange(repo, prefix, ns, text(ident, "name"), ch) match {
        case l: Landable => l
        case s: SingleTable => throw new UnsupportedOperationException(
          s"unsupported inside a transaction: ${s.what} for ${s.key} — " +
            "transactions bundle append/evolve+append/rewrite/equality- " +
            "and positional-delete commits, property updates, schema " +
            "updates, and staged CREATEs (assert-create); tag ref " +
            "writes, partition-spec changes, replace (compaction) and " +
            "rollbacks stay single-table commits")
      }
    }
    val refs = staged.map(_.ref).distinct
    if (refs.size != 1) throw new IllegalArgumentException(
      s"a transaction commits to ONE branch; got ${refs.mkString(", ")} " +
        "— post per-branch transactions")
    val dupKeys = staged.groupBy(_.key).filter(_._2.size > 1).keys
    if (dupKeys.nonEmpty) throw new IllegalArgumentException(
      s"a transaction names each table once; duplicated: " +
        dupKeys.mkString(", "))
    land(repo, refs.head, staged,
      s"rest: transaction (${staged.map(_.key).mkString(", ")})")
  }

  /** Register the posted added files and derive their [[FileEntry]]
    * metadata: zero-copy for files already under the data plane,
    * copy-in for files staged under the table's served location; stats
    * from O(new files) parquet footer reads; partition tuples from the
    * posted manifest records, re-rendered canonically and — for
    * identity transforms — cross-checked against the footers.
    */
  private def ingestEntries(repo: GraftRepo, ref: String, key: String,
      destRoot: Path, addedFiles: Seq[IcebergImport.DataFile],
      schema: org.apache.spark.sql.types.StructType,
      mapping: Map[String, String], spec: Seq[PartitionField],
      hconf: org.apache.hadoop.conf.Configuration): Seq[FileEntry] = {
    addedFiles.foreach { d =>
      if (d.format != "PARQUET") throw new UnsupportedOperationException(
        s"graft's data plane is parquet: cannot register ${d.format} " +
          s"file ${d.path}")
    }
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    // copy-in fallback accepts ONLY files under the table's own served
    // location (where a writer ignoring write.data.path stages, e.g.
    // `location/data/...`) — an arbitrary posted path must not turn the
    // catalog into a confused deputy that reads any server-local file
    // into the queryable data plane
    val rels = addedFiles.map(_.path).map { loc =>
      repo.dataIO.relOf(loc) match {
        case Some(rel) => rel
        case None =>
          val local = java.nio.file.Paths.get(loc).toAbsolutePath.normalize
          if (!local.startsWith(destRoot) || !Files.isRegularFile(local))
            throw new IllegalArgumentException(
              s"cannot ingest $loc: data files must be staged under the " +
                s"served write.data.path (zero-copy) or the table " +
                s"location $destRoot")
          val rel = s"${stageRel(ref, key)}/ingest-$stamp-${local.getFileName}"
          // via a temp copy: uploadAtomic consumes its source, and the
          // posted file belongs to the writer, not to this catalog
          val tmp = Files.createTempFile("graft-rest-ingest", ".parquet")
          Files.copy(local, tmp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          repo.dataIO.uploadAtomic(tmp, rel)
          rel
      }
    }
    // stats stay keyed under PHYSICAL names — the repo-wide invariant
    // that keeps column renames metadata-only (see TableOps.writeFiles).
    // Deliberately FOOTER-ONLY: registering an engine's file must not
    // scan its rows, so a bloom table's posted files carry no sidecar
    // until the next compaction rebuilds them (absent sidecars are
    // always admitted — soundness unaffected).
    // partitioned tables: the posted manifest's partition record is
    // authoritative for each file's partition tuple (the Iceberg trust
    // model — the catalog registers what the engine declared, exactly
    // as it trusts the engine's row data). Values re-render into
    // graft's canonical directory strings; a spec field the record
    // does not carry refuses loudly.
    val entries0 = TableOps.entriesFromFootersLocal(repo,
      rels, TableOps.toPhysical(schema, mapping), hconf)
    if (spec.isEmpty) entries0
    else {
      def srcTypeOf(pf: PartitionField): org.apache.spark.sql.types.DataType =
        schema.fields.find(_.name == pf.source).map(_.dataType)
          .getOrElse(throw new IllegalStateException(
            s"partition source ${pf.source} not in table schema"))
      def physOf(logical: String): String = mapping.getOrElse(logical, logical)
      entries0.zip(addedFiles).map { case (en, dfile) =>
        val pv = spec.map { pf =>
          if (!dfile.partition.contains(pf.name))
            throw new IllegalArgumentException(
              s"posted data file ${dfile.path} carries no partition " +
                s"value for spec field '${pf.name}' — partitioned " +
                "commits must declare every field in the manifest's " +
                "partition record")
          val raw = IcebergImport.rawPartitionValue(pf, srcTypeOf(pf),
            dfile.partition(pf.name))
          // identity declarations are cheaply FALSIFIABLE here — unlike
          // a normal Iceberg catalog this server already read the
          // file's parquet footer in the same pass. A wrong identity
          // value would make partition pruning silently drop the
          // file's rows from results, so cross-check it against the
          // footer min/max of the source column (containment, which
          // stays valid under footer string truncation) and refuse
          // loudly. Non-identity transforms (bucket/truncate/temporal)
          // aren't invertible from stats alone and keep the plain
          // Iceberg trust model.
          if (pf.transform == "identity")
            checkIdentityAgainstFooter(pf, srcTypeOf(pf), raw, en,
              physOf(pf.source), dfile.path)
          pf.name -> raw
        }.toMap
        en.copy(partitionValues = Some(pv))
      }
    }
  }

  /** FIELD-ID diff of two Iceberg schema nodes → graft TableChanges.
    * Field ids are the identity Iceberg evolution preserves, so
    * id-present-in-one-side decides add/drop and same-id-different-name
    * decides rename — recursively: struct members (any depth, including
    * structs under list `element` / map `key`/`value` positions) diff
    * the same way, producing nested-path changes the shared
    * [[SchemaEvolution]] core applies with its own guards. Leaf type
    * changes lower to UpdateColumnType and inherit the widening-only
    * guard; container-shape changes (list→scalar, changed element ids)
    * compare as whole types and refuse loudly through the same gate.
    */
  private def schemaChangesOf(oldS: com.fasterxml.jackson.databind.JsonNode,
      newS: com.fasterxml.jackson.databind.JsonNode)
      : Seq[org.apache.spark.sql.connector.catalog.TableChange] = {
    import org.apache.spark.sql.connector.catalog.TableChange
    type JN = com.fasterxml.jackson.databind.JsonNode
    val out = scala.collection.mutable.ArrayBuffer[TableChange]()
    def kind(n: JN): String =
      if (n == null || n.isTextual) "" else Option(n.get("type"))
        .map(_.asText()).getOrElse("")
    def diffFields(oldF: JN, newF: JN, path: Seq[String]): Unit = {
      if (oldF == null || !oldF.isArray || newF == null || !newF.isArray)
        throw new IllegalArgumentException(
          "malformed add-schema: schema carries no fields array")
      final case class F(id: Int, name: String, tn: JN)
      def fs(a: JN): Seq[F] = a.elements().asScala.toSeq.map { f =>
        val (id, nm) = fieldIdName(f)
        F(id, nm, f.get("type"))
      }
      val o = fs(oldF)
      val n = fs(newF)
      val oldById = o.map(f => f.id -> f).toMap
      val newIds = n.map(_.id).toSet
      // drops first: a re-added name then takes the retired-name path
      // and gets a fresh physical name (old bytes never resurface)
      o.filterNot(f => newIds(f.id)).foreach { f =>
        out += TableChange.deleteColumn((path :+ f.name).toArray, false)
      }
      n.foreach { f =>
        oldById.get(f.id) match {
          case None =>
            out += TableChange.addColumn((path :+ f.name).toArray,
              IcebergImport.sparkTypeNode(f.tn))
          case Some(of) =>
            var cur = of.name
            if (of.name != f.name) {
              out += TableChange.renameColumn((path :+ of.name).toArray,
                f.name)
              cur = f.name
            }
            diffType(of.tn, f.tn, path :+ cur)
        }
      }
    }
    def diffType(ot: JN, nt: JN, path: Seq[String]): Unit =
      (kind(ot), kind(nt)) match {
        case ("struct", "struct") =>
          diffFields(ot.get("fields"), nt.get("fields"), path)
        case ("list", "list")
          if Option(nt.get("element-id")).exists(n =>
            Option(ot.get("element-id")).exists(_.asInt() == n.asInt())) =>
          diffType(ot.get("element"), nt.get("element"), path :+ "element")
        case ("map", "map")
          if Option(nt.get("key-id")).exists(n =>
              Option(ot.get("key-id")).exists(_.asInt() == n.asInt())) &&
            Option(nt.get("value-id")).exists(n =>
              Option(ot.get("value-id")).exists(_.asInt() == n.asInt())) =>
          diffType(ot.get("key"), nt.get("key"), path :+ "key")
          diffType(ot.get("value"), nt.get("value"), path :+ "value")
        case _ =>
          val od = IcebergImport.sparkTypeNode(ot)
          val nd = IcebergImport.sparkTypeNode(nt)
          if (od != nd)
            out += TableChange.updateColumnType(path.toArray, nd)
      }
    diffFields(
      Option(oldS).map(_.get("fields")).orNull,
      Option(newS).map(_.get("fields")).orNull, Nil)
    out.toSeq
  }

  /** Posted equality delete files → ONE graft tombstone predicate: the
    * exact inverse of the exporter's tombstone → equality-delete
    * mapping. Each file's value rows — read in any of the three formats
    * through [[IcebergImport.fileRows]], bound by field id like every
    * foreign read, one small Spark job per equality column set —
    * become per-row equality conjunctions over the referenced columns
    * (In(...) for the common single-column id case), Or-combined across
    * rows and files. Capped at [[IcebergExport.MaxEqualityRows]] total —
    * past that the engine posts its CoW rewrite, same trade the
    * exporter makes in the other direction.
    */
  private def equalityTombstoneFilter(repo: GraftRepo, destRoot: Path,
      eqDeletes: Seq[IcebergImport.DeleteFile], basePlan: IcebergImport.Plan)
      : org.apache.spark.sql.sources.Filter = {
    import org.apache.spark.sql.sources
    val s = spark.getOrElse(throw new UnsupportedOperationException(
      "equality-delete commits need the serving SparkSession: the " +
        "delete files are read with a Spark job"))
    // a path string IcebergImport opens as-is (Path.toString is the
    // decoded form; repo.dataLocation's URI would be encoded twice)
    def localOf(loc: String): String =
      repo.dataIO.relOf(loc) match {
        case Some(rel) => repo.dataIO.hadoopPath(rel).toString
        case None =>
          val local = java.nio.file.Paths.get(loc).toAbsolutePath.normalize
          if (!local.startsWith(destRoot) || !Files.isRegularFile(local))
            throw new IllegalArgumentException(
              s"cannot read equality delete $loc: delete files must sit " +
                s"under the served write.data.path or the table " +
                s"location $destRoot")
          local.toString
      }
    var totalRows = 0L
    val perGroup = eqDeletes.groupBy(_.equalityIds).toSeq
      .sortBy(_._1.mkString(",")).map { case (ids, files) =>
        if (ids.isEmpty) throw new IllegalArgumentException(
          s"equality delete without equality_ids: ${files.head.path}")
        // the served schema (what the engine saw and what the delete
        // file's columns are named after) uses PHYSICAL column names by
        // design (IcebergExport class doc) — which is exactly the name
        // space tombstone predicates live in, so the served name is
        // used VERBATIM; remapping through nameMapping would mis-target
        // the rename-then-re-add-same-name edge (the re-added logical
        // name maps to a FRESH physical name, not this column's bytes)
        val cols = ids.map(id => basePlan.fieldIdToName.getOrElse(id,
          throw new IllegalArgumentException(
            s"equality_ids references unknown field id $id")))
        val eqSchema = org.apache.spark.sql.types.StructType(
          cols.map(basePlan.schema(_)))
        val rows = IcebergImport.fileRows(s,
          files.map(d => d.copy(path = localOf(d.path))), eqSchema,
          cols.zip(ids).toMap)
          .select((cols :+ "__ice_fp").map(col): _*)
          .limit(IcebergExport.MaxEqualityRows + 1).collect()
        totalRows += rows.length
        if (totalRows > IcebergExport.MaxEqualityRows)
          throw new UnsupportedOperationException(
            s"equality delete commit carries more than " +
              s"${IcebergExport.MaxEqualityRows} value rows — post the " +
              "copy-on-write rewrite instead")
        rows.foreach { r =>
          cols.indices.foreach { i =>
            if (r.isNullAt(i)) throw new UnsupportedOperationException(
              s"equality delete ${r.getString(cols.size)} carries NULL " +
                "values — the spec's null-safe match is not expressible " +
                "as a graft tombstone; post the CoW rewrite instead")
            if (FilterJson.toJson(sources.EqualTo(cols(i), r.get(i))).isEmpty)
              throw new UnsupportedOperationException(
                s"equality delete column '${cols(i)}' has unsupported " +
                  s"type ${eqSchema(i).dataType.simpleString}")
          }
        }
        if (rows.isEmpty) None
        else if (cols.size == 1)
          Some(sources.In(cols.head, rows.map(_.get(0))))
        else Some(rows.map(r => cols.indices.map(i =>
          sources.EqualTo(cols(i), r.get(i)): sources.Filter)
          .reduce(sources.And(_, _))).reduce(sources.Or(_, _)))
      }
    val filters = perGroup.flatten
    if (filters.isEmpty) throw new IllegalArgumentException(
      "equality delete commit carries no value rows")
    filters.reduce(sources.Or(_, _))
  }

  /** Refuse an identity partition declaration the file's own parquet
    * footer contradicts. The Iceberg trust model registers whatever
    * tuple the engine declared — but this server reads each added
    * file's footer anyway (for graft's stats), so a lying or
    * misconfigured engine is cheaply falsifiable: the declared identity
    * value must CONTAIN the footer min/max range of the source column
    * (containment rather than equality keeps the check valid when a
    * footer truncates long string stats; for a genuinely
    * single-valued file min == declared == max). Footers with no stats
    * for the column prove nothing and pass. Without this, a wrong
    * declaration makes partition pruning silently drop the file's rows
    * from query results.
    */
  private def checkIdentityAgainstFooter(pf: PartitionField,
      srcType: org.apache.spark.sql.types.DataType, declared: String,
      en: FileEntry, phys: String, path: String): Unit = {
    import org.apache.spark.sql.types._
    if (declared == Partitioning.NullMarker) {
      // a null identity tuple means the file holds ONLY nulls in the
      // source column — any footer min proves a non-null value exists
      if (en.min.contains(phys))
        throw new IllegalArgumentException(
          s"posted data file $path declares identity partition " +
            s"${pf.name}=null but its footer records non-null " +
            s"${pf.source} values (min=${en.min(phys)})")
      return
    }
    (en.min.get(phys), en.max.get(phys)) match {
      case (Some(mn), Some(mx)) =>
        // a malformed stat rendering proves nothing — degrade to
        // "nothing to falsify" rather than escape as a 500
        val ok = try {
          srcType match {
            case ByteType | ShortType | IntegerType | LongType =>
              val d = declared.toLong; mn.toLong <= d && d <= mx.toLong
            case FloatType | DoubleType | _: DecimalType =>
              // fractional renderings are NOT lexicographically
              // order-consistent ("9.5" > "10.2") — compare numerically
              val d = BigDecimal(declared)
              BigDecimal(mn) <= d && d <= BigDecimal(mx)
            case _ =>
              // date/timestamp/boolean/string renderings all order
              // lexicographically consistently with their value order
              mn <= declared && declared <= mx
          }
        } catch { case _: NumberFormatException => true }
        if (!ok) throw new IllegalArgumentException(
          s"posted data file $path declares identity partition " +
            s"${pf.name}=$declared but its footer stats for " +
            s"${pf.source} span [$mn, $mx] — refusing a declaration " +
            "the file itself contradicts (partition pruning would " +
            "silently drop these rows)")
      case _ => // no stats for the column — nothing to falsify
    }
  }

  /** RegisterTableRequest — the catalog-migration entry point: an
    * existing Iceberg table (its `metadata-location`) is RE-HOMED into
    * graft. When the posted metadata's data files ALREADY live under
    * this repo's data plane (re-homing a sync-dest export or a sibling
    * export) and carry no delete files, they register IN PLACE —
    * zero-copy, O(metadata), no Spark job (r13). Otherwise — foreign
    * files, or a MoR source whose live rows are not its raw files —
    * graft's data plane must own the bytes, so the current snapshot's
    * LIVE ROWS are read through the independent importer
    * (positional/equality deletes and DVs applied — the table's
    * semantics, not its file layout) and land as native graft data
    * files in ONE commit; versioned history then begins at the
    * registration commit while the source keeps its own. The copy path
    * needs the serving SparkSession (the row copy is a distributed job).
    * Concurrent registers race on the key and one wins; the loser's
    * staged files are unreferenced and vacuumable. Trust model:
    * register reads whatever metadata location the caller names —
    * the same operator-level trust every Iceberg catalog's
    * registerTable extends, gated here behind `writable`.
    */
  private def registerTable(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], req: com.fasterxml.jackson.databind.JsonNode)
      : ObjectNode = {
    val (ref, dirs) = ns match {
      case r +: ds if ds.nonEmpty => (r, ds)
      case _ => throw new IllegalArgumentException(
        s"tables live under [ref, db...]: ${ns.mkString(".")}")
    }
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      if (repo.tagExists(ref)) s"tables commit to a branch; $ref is a tag"
      else s"no such branch: $ref")
    val name = text(req, "name")
    val key = (dirs :+ name).mkString("/")
    val metaLoc = text(req, "metadata-location")
    if (repo.resolve(ref).tables.contains(key))
      throw new RestConflict("AlreadyExistsException",
        s"table already exists: $key @ $ref")
    // an unreadable/garbage metadata location is the CLIENT's error
    val plan =
      try IcebergImport.plan(metaLoc, None)
      catch {
        case e @ (_: java.io.IOException |
                  _: org.apache.avro.AvroRuntimeException |
                  _: com.fasterxml.jackson.core.JacksonException) =>
          throw new IllegalArgumentException(
            s"metadata-location is unreadable: ${e.getMessage}")
      }
    // ZERO-COPY fast path: when every data file of the posted metadata
    // already resolves under THIS repo's data plane (a sync-dest or
    // sibling-branch export being re-homed — the same containment check
    // ingestEntries' zero-copy staging uses) and no delete files change
    // the live rows, the files register in place: O(metadata) adoption,
    // no Spark job. Foreign files (or a MoR source whose live rows are
    // not its raw files) take the copy path below.
    val zeroCopyRels =
      if (plan.deleteFiles.nonEmpty) None
      else {
        val rels = plan.dataFiles.map(f => repo.dataIO.relOf(f.path))
        if (rels.nonEmpty && rels.forall(_.isDefined))
          Some(rels.map(_.get))
        else None
      }
    val entries = zeroCopyRels match {
      case Some(rels) =>
        // footer stats pass only (the cost any Iceberg catalog commit
        // pays per registered file); the rows are never read
        TableOps.entriesFromFootersLocal(repo, rels, plan.schema,
          hadoopConf())
          .map(_.copy(seq = Some(1L)))
      case None =>
        val s = spark.getOrElse(throw new UnsupportedOperationException(
          "register-table of a foreign (or merge-on-read) source needs " +
            "the serving SparkSession: the table's live rows are copied " +
            "into the repo data plane with a distributed read"))
        val df = IcebergImport.readPlan(s, plan)
        TableOps.writeFiles(s, repo, df, key).map(_.copy(seq = Some(1L)))
    }
    repo.commitRetry(ref, s"rest: register $key " +
      s"(${entries.size} files, ${entries.map(_.rows).sum} rows " +
      s"from $metaLoc)") { base =>
      if (base.tables.contains(key))
        throw new RestConflict("AlreadyExistsException",
          s"table already exists: $key @ $ref")
      val snap = repo.writeSnapshot(key, plan.schema.json, entries,
        None, None, Some(Map(Tombstones.SeqProp -> "1")))
      (base.tables + (key -> snap.id),
        if (base.namespaces.contains(dirs.mkString("/"))) base.namespaces
        else base.namespaces + (dirs.mkString("/") -> Map.empty[String, String]))
    }
    loadResult(serve(repo, prefix, ref, key))
  }

  // ---- views (the spec's REST view API over graft's versioned views) ----

  private def resolveViewKey(repo: GraftRepo, ns: Seq[String],
      name: String): (String, String, ViewDef) = ns match {
    case ref +: dirs if dirs.nonEmpty && refNames(repo).contains(ref) =>
      val key = (dirs :+ name).mkString("/")
      repo.resolve(ref).viewMap.get(key) match {
        case Some(vd) => (ref, key, vd)
        case None => throw new NoSuchElementException(
          s"no such view: $key @ $ref")
      }
    case _ => throw new NoSuchElementException(
      s"no such view: ${(ns :+ name).mkString(".")}")
  }

  private def listViews(repo: GraftRepo, ns: Seq[String],
      rawQuery: Option[String]): ObjectNode =
    ns match {
      case ref +: dirs if refNames(repo).contains(ref) =>
        val o = mapper.createObjectNode()
        val arr = o.putArray("identifiers")
        val all = repo.resolve(ref).viewMap.keys.toSeq.sorted
          .map(_.split('/').toSeq)
          .filter(k => k.length == dirs.length + 1 && k.startsWith(dirs))
        val (page, next) = paginate(all, rawQuery)(_.mkString("/"))
        page.foreach { k =>
          val id = arr.addObject()
          val a = id.putArray("namespace"); ns.foreach(a.add)
          id.put("name", k.last)
        }
        next.foreach(o.put("next-page-token", _))
        o
      case _ => throwNoNs(ns)
    }

  /** The served identity of view `key` on `ref`: stable across loads. */
  private def viewUuid(repo: GraftRepo, ref: String, key: String): String =
    java.util.UUID.nameUUIDFromBytes(s"graft-view:${repo.root}:$ref:$key"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString

  /** The SQL of a posted view version: its `spark`-dialect representation,
    * else the only one posted. */
  private def viewSql(vv: JsonNode): String = {
    val reps = Option(vv.get("representations")).toSeq
      .flatMap(_.elements().asScala).toSeq
    val rep = reps.find(r => Option(r.get("dialect"))
        .exists(_.asText() == "spark"))
      .orElse(reps.headOption).getOrElse(
        throw new IllegalArgumentException(
          "view-version carries no SQL representation"))
    Option(rep.get("sql")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException("representation carries no sql"))
  }

  /** LoadViewResult: real spec-shaped view metadata from the graft
    * [[ViewDef]] — ONE current version (graft versions views by branch
    * commit, so each served head has exactly one definition), the SQL
    * representation under the `spark` dialect it was authored in, the
    * Iceberg schema from the stored analyzed schema, and a
    * `default-namespace` whose BRANCH segment is the served ref (the
    * branch-rebinding semantics graft's own resolution applies —
    * a view read on `dev` resolves relative references on `dev`).
    * The metadata file is memoized per definition (content-hash name)
    * under the export root.
    */
  private def loadRestView(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], name: String): ObjectNode = {
    val (ref, key, vd) = resolveViewKey(repo, ns, name)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(vd.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]
    val dest = prefix.fold(exportRoot)(exportRoot.resolve)
      .resolve(ref).resolve(key)
    // creation-time namespace with the BRANCH segment rebound to the
    // served ref. Canonical storage is [repo, branch, db...] (native
    // createView and createRestView both write it), so two leading
    // segments go; a legacy entry written by an old no-prefix server as
    // [branch, db...] is detected by its ref-shaped head so the db path
    // survives either way (external engines resolve the view's relative
    // table references against this namespace — losing the db segment
    // strands them at [branch]). Legacy shape: head is a ref and the
    // SECOND segment is a db name, not a ref (a repo named like a
    // branch keeps the canonical [repo, branch, ...] reading because
    // its second segment IS a ref).
    // nsForm == 2 is the stored FORMAT MARKER (every current writer):
    // the shape is known canonical, no sniffing — immune to the edge
    // where a repo named like a live ref plus a since-deleted branch
    // segment would misread. Only pre-marker entries (nsForm 0) fall
    // back to the ref-shape heuristic, whose residual edge is accepted
    // and documented here.
    val lead =
      if (vd.nsForm == 2) 2
      else {
        val refs = refNames(repo)
        if (vd.namespace.length >= 2 &&
          refs.contains(vd.namespace.head) &&
          !refs.contains(vd.namespace(1))) 1 else 2
      }
    val meta = IcebergMeta.View(viewUuid(repo, ref, key),
      dest.toAbsolutePath.normalize.toString, repo.resolve(ref).ts,
      IcebergExport.icebergSchema(schema), vd.sql,
      Option(vd.catalog).filter(_.nonEmpty), ref +: vd.namespace.drop(lead),
      vd.properties)
    // memoized WRITE-ONCE per view DEFINITION (ts excluded from the
    // key): an unrelated branch commit bumps the head ts but must not
    // churn a new metadata file per commit — and the response body is
    // read back from the file, so metadata-location and metadata never
    // drift apart (first-serve ts is the version's stable timestamp)
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest((s"${vd.sql}|${vd.schemaJson}|${vd.catalog}|" +
        s"${vd.namespace.mkString(".")}|${vd.properties.toSeq.sorted}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString
    val metaDir = dest.resolve("metadata")
    Files.createDirectories(metaDir)
    val metaPath = metaDir.resolve(s"view-$hash.metadata.json")
    if (!Files.exists(metaPath)) {
      val tmp = Files.createTempFile(metaDir, ".view", ".tmp")
      Files.write(tmp, IcebergMeta.renderView(meta))
      Files.move(tmp, metaPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    loadResult(metaPath)
  }

  /** CreateViewRequest → a graft versioned view: the `spark`-dialect
    * SQL representation (or the only one posted) becomes the stored
    * definition; concurrent creates race on the key inside
    * commitRetryViews and exactly one wins.
    */
  private def createRestView(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], req: com.fasterxml.jackson.databind.JsonNode)
      : ObjectNode = {
    val (ref, dirs) = ns match {
      case r +: ds if ds.nonEmpty => (r, ds)
      case _ => throw new IllegalArgumentException(
        s"views live under [ref, db...]: ${ns.mkString(".")}")
    }
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      if (repo.tagExists(ref)) s"views commit to a branch; $ref is a tag"
      else s"no such branch: $ref")
    val name = Option(req.get("name")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException("create carries no view name"))
    val key = (dirs :+ name).mkString("/")
    val schemaNode = Option(req.get("schema")).getOrElse(
      throw new IllegalArgumentException("create carries no schema"))
    val schema = IcebergImport.structOf(schemaNode)
    val vv = Option(req.get("view-version")).getOrElse(
      throw new IllegalArgumentException("create carries no view-version"))
    val sql = viewSql(vv)
    val dcat = Option(vv.get("default-catalog")).map(_.asText()).getOrElse("")
    val dns = Option(vv.get("default-namespace")).toSeq
      .flatMap(_.elements().asScala).map(_.asText()).toSeq
    // store the graft-shaped resolution context: [repo, branch, db...]
    // (the branch segment rebinds to the reading branch at load).
    // CANONICAL SHAPE: a single-repo (no-prefix) server still records a
    // repo segment (the repo root's directory name) so consumers that
    // strip [repo, branch] never eat a db segment by mistake.
    val repoSeg = prefix.getOrElse(repo.root.getFileName.toString)
    val nsStored = Seq(repoSeg, ref) ++
      (if (dns.nonEmpty && refNames(repo).contains(dns.head)) dns.tail
       else dns)
    val props = Option(req.get("properties")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    val vd = ViewDef(sql = sql, catalog = dcat,
      namespace = nsStored, schemaJson = schema.json,
      properties = props, nsForm = 2)
    repo.commitRetryViews(ref, s"rest: create view $key") { base =>
      if (base.viewMap.contains(key) || base.tables.contains(key))
        throw new RestConflict("AlreadyExistsException",
          s"view already exists: $key @ $ref")
      base.viewMap + (key -> vd)
    }
    loadRestView(repo, prefix, ns, name)
  }

  /** UpdateViewRequest (the engine's CREATE OR REPLACE VIEW): the
    * posted `add-view-version` becomes the view's NEW definition in one
    * view commit — prior definitions stay reachable through the branch
    * history like every graft change. Requirements: `assert-view-uuid`
    * validates against the served identity.
    */
  private def replaceRestView(repo: GraftRepo, prefix: Option[String],
      ns: Seq[String], name: String,
      req: com.fasterxml.jackson.databind.JsonNode): ObjectNode = {
    val (ref, key, _) = resolveViewKey(repo, ns, name)
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      s"view commits target a branch; $ref is a tag")
    Option(req.get("requirements")).toSeq
      .flatMap(_.elements().asScala).foreach { r =>
        text(r, "type") match {
          case "assert-view-uuid" =>
            val want = text(r, "uuid")
            val have = viewUuid(repo, ref, key)
            if (want != have) throw new RestConflict("CommitFailedException",
              s"view uuid changed: expected $want, found $have")
          case other => throw new UnsupportedOperationException(
            s"unsupported view commit requirement: $other")
        }
      }
    val u = parseUpdates(req, None, key, view = true)
    repo.commitRetryViews(ref, s"rest: replace view $key") { base =>
      val cur = base.viewMap.getOrElse(key,
        throw new NoSuchElementException(s"no such view: $key @ $ref"))
      val next = u.viewVersion match {
        case None => // properties-only commit
          cur.copy(properties = (cur.properties -- u.removeProps) ++ u.setProps)
        case Some(vv) =>
          val sql = viewSql(vv)
          val schema = u.schema.map(IcebergImport.structOf)
            .map(_.json).getOrElse(cur.schemaJson)
          val dns = Option(vv.get("default-namespace")).toSeq
            .flatMap(_.elements().asScala).map(_.asText()).toSeq
          val nsStored =
            if (dns.isEmpty) cur.namespace
            else Seq(prefix.getOrElse(repo.root.getFileName.toString),
              ref) ++
              (if (refNames(repo).contains(dns.head)) dns.tail else dns)
          cur.copy(sql = sql, schemaJson = schema, namespace = nsStored,
            // a posted default-namespace rewrites the stored shape
            // canonically; absent, the prior entry's shape (and its
            // marker) carry over unchanged
            nsForm = if (dns.isEmpty) cur.nsForm else 2,
            catalog = Option(vv.get("default-catalog")).map(_.asText())
              .getOrElse(cur.catalog),
            queryColumnNames = Nil, columnAliases = Nil,
            columnComments = Nil,
            properties = (cur.properties -- u.removeProps) ++ u.setProps)
      }
      base.viewMap + (key -> next)
    }
    loadRestView(repo, prefix, ns, name)
  }

  private def dropRestView(repo: GraftRepo, ns: Seq[String],
      name: String): Unit = {
    val (ref, key, _) = resolveViewKey(repo, ns, name)
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      s"drops commit to a branch; $ref is a tag")
    repo.commitRetryViews(ref, s"rest: drop view $key") { base =>
      if (!base.viewMap.contains(key))
        throw new NoSuchElementException(s"no such view: $key @ $ref")
      base.viewMap - key
    }
  }

  /** DropNamespaceRequest (spec: DELETE, non-empty → 409): a 1-level
    * namespace is a BRANCH (dropped only when its head holds no tables
    * or views — reference parity, LakeFSCatalog.java:312); deeper
    * levels drop a db namespace on the branch, tables AND views
    * counting as content (the same ghost-view guard native DROP
    * NAMESPACE applies).
    */
  private def dropRestNamespace(repo: GraftRepo, ns: Seq[String]): Unit =
    ns match {
      case Seq(ref) =>
        if (repo.tagExists(ref)) throw new IllegalArgumentException(
          s"$ref is a tag — delete it with the graft tag API, not " +
            "namespace drop")
        if (!repo.branchExists(ref))
          throw new NoSuchElementException(s"no such namespace: $ref")
        val h = repo.headCommit(ref)
        if (h.tables.nonEmpty || h.viewMap.nonEmpty)
          throw new RestConflict("NamespaceNotEmptyException",
            s"branch $ref still holds ${h.tables.size} table(s) and " +
              s"${h.viewMap.size} view(s)")
        repo.dropBranch(ref)
      case ref +: dirs =>
        if (!repo.branchExists(ref)) throw new IllegalArgumentException(
          if (repo.tagExists(ref)) s"namespaces commit to a branch; $ref is a tag"
          else s"no such branch: $ref")
        val db = dirs.mkString("/")
        val h = repo.headCommit(ref)
        if (!h.namespaces.contains(db) &&
            !h.tables.keys.exists(_.startsWith(db + "/")) &&
            !h.viewMap.keys.exists(_.startsWith(db + "/")))
          throw new NoSuchElementException(
            s"no such namespace: ${ns.mkString(".")}")
        if (h.tables.keys.exists(_.startsWith(db + "/")) ||
            h.viewMap.keys.exists(_.startsWith(db + "/")))
          throw new RestConflict("NamespaceNotEmptyException",
            s"namespace $db still holds tables or views")
        repo.commitRetryAll(ref, s"rest: drop namespace $db") { base =>
          (base.tables, base.namespaces - db, base.viewMap)
        }
      case _ => throw new NoSuchElementException("empty namespace")
    }

  /** UpdateNamespacePropertiesRequest → one property commit; answers
    * the spec's {updated, removed, missing} triple. Only db-level
    * namespaces carry properties (native parity: branch namespaces
    * describe the ref itself).
    */
  private def updateNamespaceProps(repo: GraftRepo, ns: Seq[String],
      req: com.fasterxml.jackson.databind.JsonNode): ObjectNode = {
    val (ref, dirs) = ns match {
      case r +: ds if ds.nonEmpty => (r, ds)
      case _ => throw new UnsupportedOperationException(
        "only db-level namespaces carry properties (a 1-level " +
          "namespace is the branch itself)")
    }
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      if (repo.tagExists(ref)) s"namespaces commit to a branch; $ref is a tag"
      else s"no such branch: $ref")
    val db = dirs.mkString("/")
    val removals = Option(req.get("removals")).toSeq
      .flatMap(_.elements().asScala).map(_.asText()).toSeq
    val updates = Option(req.get("updates")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    val overlap = removals.toSet.intersect(updates.keySet)
    if (overlap.nonEmpty) throw new IllegalArgumentException(
      s"properties both removed and updated: ${overlap.mkString(", ")}")
    var missing = Seq.empty[String]
    repo.commitRetry(ref, s"rest: update namespace properties $db") { base =>
      // views prove existence too (dropRestNamespace already counts
      // them as content): a db holding only REST-created views must
      // answer a properties update, not 404
      if (!base.namespaces.contains(db) &&
          !base.tables.keys.exists(_.startsWith(db + "/")) &&
          !base.viewMap.keys.exists(_.startsWith(db + "/")))
        throw new NoSuchElementException(
          s"no such namespace: ${ns.mkString(".")}")
      val cur = base.namespaces.getOrElse(db, Map.empty)
      missing = removals.filterNot(cur.contains)
      (base.tables,
        base.namespaces + (db -> ((cur -- removals) ++ updates)))
    }
    val o = mapper.createObjectNode()
    val up = o.putArray("updated"); updates.keys.toSeq.sorted.foreach(up.add)
    val rm = o.putArray("removed")
    removals.filterNot(missing.contains).foreach(rm.add)
    val ms = o.putArray("missing"); missing.foreach(ms.add)
    o
  }

  /** DropTableRequest; `purge` mirrors the engine catalog's
    * `purgeTable` (files referenced by no other live head deleted). */
  /** POST /tables/rename — the engine catalog's metadata-only commit-map
    * re-key served over REST (the reference throws here,
    * LakeFSCatalog.java:218, because its table identity is a storage
    * path; graft's is a commit-map key). Same-branch only: a
    * cross-branch rename would alias one table's snapshots into another
    * line of history. One commit moves the key; no file or snapshot
    * object is touched, and pre-rename commits still serve the old
    * name.
    */
  private def renameRestTable(repo: GraftRepo,
      b: com.fasterxml.jackson.databind.JsonNode): Unit = {
    def ident(field: String): (Seq[String], String) = {
      val n = Option(b.get(field)).getOrElse(throw new IllegalArgumentException(
        s"rename request needs source and destination; missing: $field"))
      val ns = Option(n.get("namespace"))
        .map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Seq.empty)
      (ns, Option(n.get("name")).map(_.asText()).getOrElse(
        throw new IllegalArgumentException(s"$field.name is required")))
    }
    val (sns, sname) = ident("source")
    val (dns, dname) = ident("destination")
    val (ref, oldKey) = resolveKey(repo, sns, sname)
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      s"renames commit to a branch; $ref is a tag")
    if (dns.size < 2 || dns.head != ref)
      throw new UnsupportedOperationException(
        "rename across branches is not supported — tables are versioned " +
          s"per branch (source @ $ref, destination @ " +
          s"${dns.headOption.getOrElse("?")})")
    val newKey = (dns.drop(1) :+ dname).mkString("/")
    if (newKey == oldKey) return
    repo.commitRetry(ref, s"rest: rename table $oldKey to $newKey") { base =>
      val snapId = base.tables.getOrElse(oldKey,
        throw new NoSuchElementException(s"no such table: $oldKey @ $ref"))
      if (base.tables.contains(newKey))
        throw new RestConflict("AlreadyExistsException",
          s"table already exists: $newKey @ $ref")
      if (base.viewMap.contains(newKey))
        throw new RestConflict("AlreadyExistsException",
          s"view already exists: $newKey @ $ref")
      // implicit db namespace for the destination, like createTable and
      // the engine catalog's rename — without it, namespace-walking
      // clients (SHOW NAMESPACES) never discover the renamed table
      val dbNs = dns.drop(1).mkString("/")
      (base.tables - oldKey + (newKey -> snapId),
        if (base.namespaces.contains(dbNs)) base.namespaces
        else base.namespaces + (dbNs -> Map.empty[String, String]))
    }
    ()
  }

  private def dropTable(repo: GraftRepo, ns: Seq[String], name: String,
      purge: Boolean): Unit = {
    val (ref, key) = resolveKey(repo, ns, name)
    if (!repo.branchExists(ref)) throw new IllegalArgumentException(
      s"drops commit to a branch; $ref is a tag")
    val victim = repo.snapshot(repo.resolve(ref).tables(key))
    repo.commitRetry(ref, s"rest: drop table $key") { base =>
      if (!base.tables.contains(key))
        throw new NoSuchElementException(s"no such table: $key @ $ref")
      (base.tables - key, base.namespaces)
    }
    if (purge) {
      // ALL tables at ALL live heads: zero-copy clones (and zero-copy
      // REST registrations) share the victim's exact file paths under
      // other keys — same all-referents invariant as the engine purge
      val liveHeads = repo.branches.map(repo.headCommit) ++
        repo.tags.map(repo.resolve)
      val stillReferenced = liveHeads
        .flatMap(_.tables.values).distinct.map(repo.snapshot)
        .flatMap(_.files).map(_.path).toSet
      victim.files.filterNot(f => stillReferenced.contains(f.path))
        .foreach { f =>
          repo.dataIO.delete(f.path)
          repo.dataIO.delete(f.path + ".bloom")
        }
    }
  }

  // ---- plumbing ----------------------------------------------------------

  // ---- OAuth2 client_credentials (the spec's token endpoint) -------------

  private def ctEq(a: String, b: String): Boolean =
    java.security.MessageDigest.isEqual(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def bearerOf(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Authorization")).map(_.trim)
      .filter(h => h.length > 7 &&
        h.substring(0, 7).equalsIgnoreCase("Bearer "))
      .map(_.substring(7).trim)

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** A minted token is valid while unexpired; an expired one is evicted
    * on sight, so a replay after expiry 401s exactly like a wrong
    * static token.
    */
  private def mintedValid(t: String): Boolean = {
    val key = sha256Hex(t)
    Option(mintedTokens.get(key)).exists { exp =>
      val live = System.currentTimeMillis() < exp
      if (!live) mintedTokens.remove(key)
      live
    }
  }

  /** The Iceberg REST spec's OAuth2 token endpoint
    * (`POST /v1/oauth/tokens`, form-encoded OAuthTokenRequest): an
    * engine configured with `credential = "<id>:<secret>"` exchanges it
    * here for a short-lived bearer before touching any catalog route —
    * the flow iceberg-core's OAuth2Util / PyIceberg run when given a
    * `credential` instead of a static `token`. Only the
    * `client_credentials` grant is supported; errors answer the OAuth
    * error shape (`{"error", "error_description"}` — RFC 6749 §5.2),
    * NOT the catalog ErrorResponse, because that is what OAuth clients
    * parse. The minted token answers `expires_in` = `oauthTtlSec`.
    */
  private def handleOauth(ex: HttpExchange): Unit = {
    def err(code: Int, e: String, desc: String): Unit = {
      val o = mapper.createObjectNode()
      o.put("error", e); o.put("error_description", desc)
      reply(ex, code, o)
    }
    val raw = new String(ex.getRequestBody.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val form = raw.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else
        (kv.substring(0, i), kv.substring(i + 1))
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    if (credential.isEmpty)
      err(401, "invalid_client",
        "this server exchanges no client credentials (start it with " +
          "the `credential` option, or present the static bearer token)")
    else if (!form.get("grant_type").contains("client_credentials"))
      err(400, "unsupported_grant_type",
        "only grant_type=client_credentials is supported")
    else if (!credential.exists(c => ctEq(
      form.getOrElse("client_id", "") + ":" +
        form.getOrElse("client_secret", ""), c)))
      err(401, "invalid_client", "unknown client_id or wrong secret")
    else {
      val now = System.currentTimeMillis()
      mintedTokens.entrySet().removeIf(e => e.getValue <= now)
      val buf = new Array[Byte](32)
      tokenRng.nextBytes(buf)
      val tok = buf.map("%02x".format(_)).mkString
      mintedTokens.put(sha256Hex(tok), now + oauthTtlSec * 1000L)
      val o = mapper.createObjectNode()
      o.put("access_token", tok)
      o.put("token_type", "bearer")
      o.put("expires_in", oauthTtlSec)
      o.put("issued_token_type",
        "urn:ietf:params:oauth:token-type:access_token")
      reply(ex, 200, o)
    }
  }

  private def reply(ex: HttpExchange, code: Int, body: ObjectNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    if (ex.getRequestMethod == "HEAD") { // a HEAD response has no body
      ex.sendResponseHeaders(code, -1)
    } else {
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
    }
    ex.close()
  }

  /** Spec ErrorResponse: `{"error": {message, type, code}}`. */
  private def replyError(ex: HttpExchange, code: Int, typ: String,
      msg: String): Unit = {
    val o = mapper.createObjectNode()
    val e = o.putObject("error")
    e.put("message", msg); e.put("type", typ); e.put("code", code)
    reply(ex, code, o)
  }
}

/** 409-mapped failures: a commit requirement that stopped holding, or
  * create-on-existing. `typ` is the spec error type the client's
  * exception mapper keys on.
  */
private final class RestConflict(val typ: String, msg: String)
  extends RuntimeException(msg)

object IcebergRestServer {

  /** One parsed and validated REST table change: the body of a
    * CommitTableRequest, or one member of a CommitTransactionRequest
    * (the spec's transaction is a list of the same objects).
    */
  private sealed trait Staged {
    def ref: String
    def key: String
  }

  /** A change the transaction fold ([[land]]) publishes; `message` is
    * its single-table commit message. */
  private sealed trait Landable extends Staged {
    def message: String
  }

  /** A data/metadata change, lowered by [[memberSnapshot]] against the
    * commit base: append, CoW rewrite, equality deletes, positional
    * deletes / DVs (already rewritten in staging), evolve+append, and
    * metadata-only changes. `noop` marks a validated no-op (no
    * snapshot, schema or property update): the single-table route
    * commits nothing for it, a transaction folds it as a pinned member
    * that changes nothing.
    */
  private final case class Member(ref: String, key: String,
      servedGraftSnap: String, entries: Seq[FileEntry],
      eqFilter: Option[org.apache.spark.sql.sources.Filter],
      dropRels: Seq[String],
      schemaChanges: Seq[org.apache.spark.sql.connector.catalog.TableChange],
      setProps: Map[String, String], removeProps: Set[String],
      message: String, noop: Boolean = false) extends Landable

  /** A staged CREATE publish (`stage-create: true`, then a commit with
    * requirement `assert-create`): the posted updates carry the full
    * table build — schema, partition spec, properties, first snapshot's
    * files — and land as ONE graft commit through [[land]], alone or as
    * a transaction member, so a CTAS from an external engine is atomic:
    * concurrent staged creates race on the key and exactly one wins; an
    * abandoned stage never touched the branch and leaves nothing.
    */
  private final case class Create(ref: String, key: String,
      dirs: Seq[String], schema: org.apache.spark.sql.types.StructType,
      spec: Seq[PartitionField], props: Map[String, String],
      entries: Seq[FileEntry], message: String) extends Landable

  /** The updates of one table change, parsed once ([[parseUpdates]]). */
  private final case class Updates(snap: Option[IcebergMeta.Snapshot] = None,
      schema: Option[JsonNode] = None, spec: Option[JsonNode] = None,
      setDefaultSpec: Boolean = false, currentSchema: Option[Int] = None,
      refTarget: Option[Long] = None,
      tagCreate: Option[(String, Long)] = None,
      tagRemove: Option[String] = None,
      setProps: Map[String, String] = Map.empty,
      removeProps: Set[String] = Set.empty,
      viewVersion: Option[JsonNode] = None)

  /** A change only the single-table route takes, as its own commit: a
    * tag ref write, a rollback, a partition-spec change or a `replace`
    * (engine compaction). `run` lands it; a transaction refuses it
    * before anything runs.
    */
  private final case class SingleTable(ref: String, key: String,
      what: String, run: () => Unit) extends Staged

  /** Rewritten-file pieces of a lowered positional-delete commit (see
    * [[materializePosDeletes]]): a [[Member]]'s entries, equality
    * filter and drops, registered by the fold.
    */
  private final case class PosMaterialized(
      rewritten: Seq[FileEntry], dropBaseRels: Seq[String],
      cleanEntries: Seq[FileEntry],
      eqFilter: Option[org.apache.spark.sql.sources.Filter],
      dirtyBase: Int, dirtyAdds: Int)

  /** Start serving ONE `repo` on 127.0.0.1:`port` (0 = ephemeral; read
    * the bound port back from [[IcebergRestServer.port]]). `exportRoot`
    * holds the on-demand per-(ref, table) Iceberg export dests — give a
    * persistent path to keep exports warm across server restarts.
    * `maxSnapshots` / `formatVersion` pass through to
    * [[IcebergExport.export]] (history depth; 0 = auto format).
    */
  def start(repo: GraftRepo, exportRoot: Path,
      spark: Option[SparkSession] = None, port: Int = 0,
      maxSnapshots: Int = 1, formatVersion: Int = 0,
      writable: Boolean = false,
      token: Option[String] = None,
      credential: Option[String] = None,
      oauthTtlSec: Long = 3600L): IcebergRestServer =
    boot(Some(repo), None, exportRoot, spark, port, maxSnapshots,
      formatVersion, writable, token, credential, oauthTtlSec)

  /** Start serving EVERY repo under `reposRoot` (a graft catalog root:
    * each child dir with a `refs/` dir is a repo), routed by the spec's
    * `{prefix}` segment — `/v1/<repo>/namespaces/...`. Clients discover
    * their prefix the spec way: `GET /v1/config?warehouse=<repo>`
    * answers `{"overrides": {"prefix": "<repo>"}}`. Repos created after
    * the server started are served on first touch (no restart).
    */
  def startWarehouse(reposRoot: Path, exportRoot: Path,
      spark: Option[SparkSession] = None, port: Int = 0,
      maxSnapshots: Int = 1, formatVersion: Int = 0,
      writable: Boolean = false,
      token: Option[String] = None,
      credential: Option[String] = None,
      oauthTtlSec: Long = 3600L): IcebergRestServer =
    boot(None, Some(reposRoot), exportRoot, spark, port, maxSnapshots,
      formatVersion, writable, token, credential, oauthTtlSec)

  private def boot(single: Option[GraftRepo], reposRoot: Option[Path],
      exportRoot: Path, spark: Option[SparkSession], port: Int,
      maxSnapshots: Int, formatVersion: Int,
      writable: Boolean, token: Option[String],
      credential: Option[String], oauthTtlSec: Long): IcebergRestServer = {
    credential.foreach(c => require(c.contains(":"),
      "credential must be \"client_id:client_secret\""))
    require(oauthTtlSec > 0, "oauthTtlSec must be positive")
    Files.createDirectories(exportRoot)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val srv = new IcebergRestServer(single, reposRoot, exportRoot, spark,
      maxSnapshots, formatVersion, writable, token, credential, oauthTtlSec,
      server)
    server.createContext("/", (ex: HttpExchange) => srv.handle(ex))
    server.setExecutor(Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-rest-catalog"); t.setDaemon(true); t
    }))
    server.start()
    srv
  }
}
