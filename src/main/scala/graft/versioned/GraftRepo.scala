package graft.versioned

import java.nio.file.Path
import java.security.MessageDigest
import java.util.UUID

/** A graft repository: git-like version graph over table snapshots.
  *
  * Spark-first re-expression of the reference's capability surface —
  * branches/commits/merges over tables (tests/test_iceberg.py:9-57) with
  * the optimistic, lock-free commit protocol of
  * LakeFSTableOperations.java:115-147: metadata objects are immutable and
  * content-addressed; the only mutable state is the branch ref, advanced
  * by atomically publishing `refs/<branch>/v{N+1}` with fail-if-exists.
  * A stale-base committer loses the race and gets CommitConflictException.
  *
  * Nothing here touches data files: branch create is a ref copy
  * (zero-copy, like lakeFS branching), merge moves refs, diff compares
  * table->snapshot maps. Only DML (TableOps) writes data.
  */
final class GraftRepo private (val root: Path, val io: GraftIO,
    val dataRootUri: Option[String]) {
  private def refsDir = root.resolve("refs")
  private def commitsDir = root.resolve("commits")
  private def snapshotsDir = root.resolve("snapshots")
  def dataDir: Path = root.resolve("data")

  /** DATA-PLANE IO seam: where parquet data files and their bloom
    * sidecars live. Default: under the repo root through the repo's
    * own [[GraftIO]] (byte-identical to the pre-seam layout). A repo
    * created with `dataRoot = s3a://bucket/repo` (any Hadoop FS URI,
    * persisted in `config.json` so every opener agrees) routes every
    * data byte — Spark reads/writes, vacuum, purge, sidecars — through
    * the Hadoop FileSystem for that URI instead: the reference's
    * object-store-native FileIO posture (LakeFSFileIO.java:24), with
    * metadata staying on whatever GraftIO backend the catalog picked.
    * Paths recorded in snapshots stay repo-RELATIVE (`data/…`) either
    * way, so moving a repo between substrates is a config change.
    */
  val dataIO: DestIO =
    dataRootUri.map(DestIO.of).getOrElse(new GraftIoDestIO(root, io))

  /** Absolute location (path URI) Spark/Hadoop readers and writers use
    * for a repo-relative data path. */
  def dataLocation(rel: String): String = dataIO.hadoopLocation(rel)

  /** Inverse of [[dataLocation]] for a file Spark reports (written-file
    * path, `input_file_name`): the repo-relative data path. */
  def dataRelOf(location: String): String =
    dataIO.relOf(location).getOrElse(throw new IllegalStateException(
      s"file is not under the repo data root: $location"))

  // ---- immutable object store ------------------------------------------

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def writeCommit(parents: Seq[String], message: String,
      tables: Map[String, String],
      namespaces: Map[String, Map[String, String]],
      views: Map[String, ViewDef] = Map.empty,
      marker: Option[String] = None): Commit = {
    // Past the inline threshold the table map is tree-segmented
    // (Trees.scala): the commit JSON carries O(chunks) refs, unchanged
    // chunks are shared with ancestor commits byte-for-byte, and a
    // single-table resolve reads one chunk — commit metadata cost is
    // O(changed tables), not O(repo tables).
    val segmented = tables.size > Trees.inlineMax
    val (refs, reusedPaths) =
      if (segmented) Trees.write(root, io, tables) else (Nil, Nil)
    val body = Json.write(Map(
      "parents" -> parents, "message" -> message,
      "tables" -> (if (segmented) refs else tables),
      "namespaces" -> namespaces))
    val id = "c" + sha(body + System.nanoTime())
    // generation = 1 + max(parent gens); stamped only when EVERY parent
    // carries one (legacy parents poison descendants to None, keeping
    // the gen-present ⇒ ancestry-gen-present invariant mergeBase's
    // bounded walk relies on). Parent gens come from the per-JVM cache
    // — the parent was almost always just written or loaded here.
    val gen: Option[Long] =
      if (parents.isEmpty) Some(0L)
      else {
        val pg = parents.map(genOf)
        if (pg.forall(_.isDefined)) Some(pg.flatten.max + 1L) else None
      }
    val c = Commit(id, parents, System.currentTimeMillis(), message,
      if (segmented) Map.empty else tables,
      namespaces, if (views.isEmpty) None else Some(views),
      if (segmented) Some(refs) else None, marker, gen)
    genCache.put(id, gen)
    if (!io.createExclusive(commitsDir.resolve(s"$id.json"), Json.write(c)))
      throw new IllegalStateException(s"commit object collision: $id")
    // commit object (the GC root) is published — restore any reused
    // chunk a racing expire pass swept (same protocol as manifests)
    if (segmented) Trees.verifyLive(root, io, reusedPaths, tables)
    if (segmented) c.copy(tables = tables) else c
  }

  def commit(id: String): Commit = {
    GraftRepo.commitReads.incrementAndGet()
    val c = Json.read[Commit](io.readString(commitsDir.resolve(s"$id.json")))
    genCache.put(id, c.genOpt)
    if (c.treeRefs.isEmpty) c
    else c.copy(tables = new Trees.LazyTableMap(root, io, c.treeRefs))
  }

  /** Per-REPO-INSTANCE commit-id → generation cache (commit objects
    * are immutable, so entries never invalidate; two GraftRepo
    * instances on one root each warm their own cache, which only costs
    * re-reads, never staleness). */
  private val genCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[Long]]
  private def genOf(id: String): Option[Long] =
    genCache.getOrElseUpdate(id, commit(id).genOpt)

  def writeSnapshot(table: String, schemaJson: String, files: Seq[FileEntry],
      partitionBy: Option[Seq[PartitionField]] = None,
      physicalNames: Option[Map[String, String]] = None,
      props: Option[Map[String, String]] = None,
      retired: Option[Seq[String]] = None): Snapshot = {
    // retire merge-on-read tombstones no surviving file needs (a full
    // rewrite/compaction materializes them; this is where they vanish).
    // Schema parse only when tombstones actually exist — this runs on
    // every metadata commit of every table.
    val effProps = props.map { p =>
      if (!p.contains(Tombstones.TombProp)) p
      else {
        val physSchema = TableOps.toPhysical(
          org.apache.spark.sql.types.DataType.fromJson(schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType],
          physicalNames.getOrElse(Map.empty))
        Tombstones.prune(p, files, physSchema, Some(dataIO))
      }
    }.filter(_.nonEmpty)
    val id = "s" + UUID.randomUUID().toString.replace("-", "")
    // Past the inline threshold the file list is segmented into
    // content-addressed manifest objects (Manifests.scala): the snapshot
    // JSON then carries only O(chunks) refs, and unchanged chunks are
    // shared with ancestor snapshots byte-for-byte — commit metadata
    // cost becomes O(changed files), not O(table files).
    val segmented = files.size > Manifests.inlineMax
    val (refs, reusedPaths) = files match {
      // metadata-only commit (rename, props, spec change): the caller
      // passed a loaded segmented list straight through — reuse its refs
      // verbatim, zero manifest work (O(1) even on a million-file table)
      case l: Manifests.LazyFileList if segmented && l.sameStore(root) =>
        (l.refs, Nil)
      // append commit (INSERT): base refs reused except the last chunk,
      // only (last chunk + delta) re-serialized — O(delta), not O(table)
      case a: Manifests.AppendedFileList if segmented =>
        Manifests.writeAppended(root, io, a, partitionBy.exists(_.nonEmpty))
          .getOrElse(
            Manifests.write(root, io, files, partitionBy.exists(_.nonEmpty)))
      case _ if segmented =>
        Manifests.write(root, io, files, partitionBy.exists(_.nonEmpty))
      case _ => (Nil, Nil)
    }
    val s = Snapshot(id, table, schemaJson,
      if (segmented) Nil else files, partitionBy, physicalNames,
      effProps, retired, if (segmented) Some(refs) else None)
    if (!io.createExclusive(snapshotsDir.resolve(s"$id.json"), Json.write(s)))
      throw new IllegalStateException(s"snapshot object collision: $id")
    // now that the snapshot object (the GC root) is published, make sure
    // no reused manifest was swept by a racing expire pass. The
    // refs-passthrough branch reuses EVERY chunk, so verify them all:
    // two expire passes between the source snapshot's load and this
    // publish could have swept a chunk whose only referrer died —
    // content-addressed rewrite restores it from the (lazily
    // materialized) entries.
    files match {
      case l: Manifests.LazyFileList if segmented && l.sameStore(root) =>
        val missingPaths =
          Manifests.existsMissing(root, io, refs.map(_.path)).toSet
        val missing = refs.filter(r => missingPaths(r.path))
        if (missing.nonEmpty) {
          // restorable only if the entries are in memory; otherwise the
          // SOURCE snapshot already lost data — fail loud, don't publish
          // silently broken metadata (the ref was already advanced, but
          // the caller's transaction surfaces the corruption)
          if (l.isMaterializedList)
            Manifests.verifyLive(root, io, refs.map(_.path), l.toVector)
          else throw new IllegalStateException(
            s"snapshot $id references swept manifest chunk(s): " +
              missing.map(_.path).mkString(", "))
        }
      case _ if segmented => Manifests.verifyLive(root, io, reusedPaths, files)
      case _ => ()
    }
    // callers chain off the returned snapshot: hand back the same
    // materialized view snapshot(id) would produce
    if (segmented) s.copy(files = files) else s
  }

  def snapshot(id: String): Snapshot = {
    val s = Json.read[Snapshot](io.readString(snapshotsDir.resolve(s"$id.json")))
    if (s.manifestRefs.isEmpty) s
    // lazy: size/isEmpty answer from ref counts, chunks load on first
    // traversal, and partition-pruned planning (TableOps.pruneFiles)
    // loads only the chunks its filters can't disprove
    else s.copy(files = new Manifests.LazyFileList(root, io, s.manifestRefs))
  }

  // ---- refs ------------------------------------------------------------

  def branches: Seq[String] =
    io.list(refsDir).map(_.getFileName.toString).sorted

  def branchExists(name: String): Boolean = io.isDirectory(refsDir.resolve(name))

  /** Head of a branch: (ref version, commit id). */
  def head(branch: String): (Int, String) = {
    val dir = refsDir.resolve(branch)
    require(io.isDirectory(dir), s"no such branch: $branch")
    // ignore in-flight .tmp-* files from concurrent committers
    val vs = io.list(dir)
      .map(_.getFileName.toString)
      .collect { case n if n.matches("v\\d+") => n.stripPrefix("v").toInt }
    // createBranch is mkdirs-then-casRef (not atomic): a reader racing
    // the gap sees the directory with no ref yet — a clean error beats
    // empty.max's UnsupportedOperationException deep in a maintenance
    // pass (expire/vacuum map over every branch)
    if (vs.isEmpty) throw new NoSuchElementException(
      s"branch $branch has no committed ref yet (creation in flight?)")
    val n = vs.max
    (n, io.readString(dir.resolve(s"v$n")).trim)
  }

  def headCommit(branch: String): Commit = commit(head(branch)._2)

  /** Resolve a ref (branch name, tag name, or commit id) to a commit. */
  def resolve(ref: String): Commit =
    if (branchExists(ref)) headCommit(ref)
    else if (tagExists(ref))
      commit(io.readString(root.resolve("tags").resolve(ref)).trim)
    else commit(ref)

  /** Atomically publish `refs/<branch>/v{base+1} = cid` via the backend's
    * set-if-absent primitive ([[GraftIO.createExclusive]] — same role as
    * the reference's `OutputFile.createOrOverwrite` guard against
    * concurrent writers). A lost race is a CommitConflictException.
    */
  private def casRef(branch: String, base: Int, cid: String): Unit = {
    if (!io.createExclusive(refsDir.resolve(branch).resolve(s"v${base + 1}"), cid))
      throw new CommitConflictException(
        s"branch $branch moved past v$base; rebase and retry")
    // successful advance — the single funnel every commit, merge and
    // rollback passes through: standing Iceberg sync registrations
    // follow the new head here (O(1) no-op when none exist)
    IcebergSync.onRefAdvance(this, branch)
  }

  /** Commit with an explicit base ref version — rejected if stale. */
  def commitAt(branch: String, baseVersion: Int, parents: Seq[String],
      message: String, tables: Map[String, String],
      namespaces: Map[String, Map[String, String]],
      views: Map[String, ViewDef] = Map.empty,
      marker: Option[String] = None): Commit = {
    val c = writeCommit(parents, message, tables, namespaces, views, marker)
    casRef(branch, baseVersion, c.id)
    c
  }

  /** The optimistic-retry commit every head-relative writer shares: read
    * the head, apply `mutate` to it, CAS the next ref version; on a lost
    * race re-read the new head and re-apply (table-level rebase —
    * `mutate` only touches its own keys, so replaying onto the new head
    * is the natural rebase).
    */
  private def commitOnHead(branch: String, message: String,
      marker: Option[String])(
      mutate: Commit => (Map[String, String],
        Map[String, Map[String, String]], Map[String, ViewDef])): Commit =
    GraftRepo.casRetry {
      val (v, hid) = head(branch)
      val (tables, namespaces, views) = mutate(commit(hid))
      commitAt(branch, v, Seq(hid), message, tables, namespaces, views, marker)
    }

  /** Table + namespace commit; the base's views ride forward untouched. */
  def commitRetry(branch: String, message: String,
      marker: Option[String] = None)(
      mutate: Commit => (Map[String, String], Map[String, Map[String, String]])): Commit =
    commitOnHead(branch, message, marker) { base =>
      val (tables, namespaces) = mutate(base)
      (tables, namespaces, base.viewMap)
    }

  /** View-map commit; tables and namespaces ride through untouched. */
  def commitRetryViews(branch: String, message: String)(
      mutate: Commit => Map[String, ViewDef]): Commit =
    commitOnHead(branch, message, None)(base =>
      (base.tables, base.namespaces, mutate(base)))

  /** Full-map commit (tables + namespaces + views) — for operations that
    * atomically touch more than one map (dropping a db namespace removes
    * its tables AND its views in ONE commit; two commits would leave a
    * window where ghost views resolve against a dropped namespace).
    */
  def commitRetryAll(branch: String, message: String)(
      mutate: Commit => (Map[String, String],
        Map[String, Map[String, String]], Map[String, ViewDef])): Commit =
    commitOnHead(branch, message, None)(mutate)

  // ---- branch / merge / diff -------------------------------------------

  /** Immutable tag: a named pointer to a commit (lakeFS/git tag analog).
    * Set-if-absent — re-tagging an existing name fails.
    */
  def createTag(name: String, ref: String): Unit = {
    val cid = resolve(ref).id
    val dir = root.resolve("tags")
    io.mkdirs(dir)
    if (!io.createExclusive(dir.resolve(name), cid))
      throw new CommitConflictException(s"tag already exists: $name")
  }

  def tags: Seq[String] =
    io.list(root.resolve("tags")).map(_.getFileName.toString).sorted

  /** Stable signature of the repo's tag set (sorted name=commit
    * pairs) — consumers that bake tag state into derived artifacts
    * (the Iceberg export's `refs` map) compare it to know when a tag
    * create/drop invalidates them. O(tags) small reads, no commit
    * loads. Deliberately REPO-GLOBAL, not per-table: the precise key
    * (each table's resolved tag→snapshot map) would cost a commit load
    * per tag per comparison, while the global key's only downside is
    * one spurious re-export per served table after a (rare,
    * control-plane) tag mutation. A tag dropped between the list and
    * the read is skipped — the momentary signature difference at worst
    * re-exports once more, never fails the caller.
    */
  def tagSignature: String = tagsWithSignature._2

  /** ONE consistent observation of the tag set: the resolved
    * (name, commit id) entries plus the signature derived from those
    * same entries. Consumers that bake both the tag CONTENT and the
    * signature into a derived artifact (the Iceberg export stamps
    * `graft.source-tags` and builds the `refs` map) must read them from
    * a single call — listing tags twice leaves a window where a
    * concurrent create/drop yields a refs map inconsistent with the
    * stamped signature (self-healing but avoidably stale for one load).
    */
  def tagsWithSignature: (Seq[(String, String)], String) = {
    val entries = tags.flatMap(t =>
      scala.util.Try(
        (t, io.readString(root.resolve("tags").resolve(t)).trim)).toOption)
    (entries, sha(entries.map { case (t, c) => s"$t=$c" }.mkString("\n")))
  }

  def tagExists(name: String): Boolean =
    io.isFile(root.resolve("tags").resolve(name))

  /** Drop a tag: removes the named GC root (tags are immutable while
    * they exist — drop-and-recreate is the only way to move one, which
    * keeps every consumer's "a tag never changes under me" assumption).
    * Returns false if the tag did not exist.
    */
  def dropTag(name: String): Boolean =
    io.deleteIfExists(root.resolve("tags").resolve(name))

  /** Zero-copy branch: new ref pointing at `fromRef`'s commit. */
  def createBranch(name: String, fromRef: String): Unit = {
    val cid = resolve(fromRef).id
    val dir = refsDir.resolve(name)
    io.mkdirs(dir)
    casRef(name, 0, cid)
  }

  def dropBranch(name: String): Unit = {
    val dir = refsDir.resolve(name)
    io.list(dir).foreach(io.delete)
    io.delete(dir)
  }

  /** All ancestors of a commit (BFS over parents), including itself. */
  private[versioned] def ancestors(cid: String): Set[String] = {
    val seen = scala.collection.mutable.Set[String]()
    val q = scala.collection.mutable.Queue(cid)
    while (q.nonEmpty) {
      val c = q.dequeue()
      if (seen.add(c)) q.enqueueAll(commit(c).parents)
    }
    seen.toSet
  }

  /** LOWEST common ancestor of two commits — a common ancestor that is
    * not a strict ancestor of any other common ancestor. A
    * first-hit-by-hops BFS is NOT that: in a criss-cross DAG (both
    * directions merged previously) the hop-nearest common commit can be
    * a stale base whose 3-way comparison re-flags already-merged
    * changes as conflicts, or silently picks the wrong property winner.
    * The common set is ancestry-closed (an intersection of two closed
    * sets), so the maximal elements fall out of one mark-the-strict-
    * ancestors pass over it; a true criss-cross can leave several —
    * each already contains both directions' last merge, so any is a
    * sound base — picked deterministically by id.
    */
  def mergeBase(aCid: String, bCid: String): String = {
    // parents memo: every pass below re-walks edges already loaded,
    // zero extra commit reads
    val parentsOf = scala.collection.mutable.Map[String, Seq[String]]()
    val gens = scala.collection.mutable.Map[String, Option[Long]]()
    def load(cid: String): Unit =
      if (!parentsOf.contains(cid)) {
        val c = commit(cid)
        parentsOf(cid) = c.parents
        gens(cid) = c.genOpt
      }
    load(aCid); load(bCid)

    // Bounded walk (git's paint-down-to-common, exact under generation
    // numbers): pop nodes in DESCENDING generation order, painting each
    // side's reachability; a both-painted node is a candidate and turns
    // STALE, which flows to its ancestors — because an ancestor's
    // generation is STRICTLY below its descendants', a node's flags are
    // final when it pops, so emitted candidates are exactly the maximal
    // common ancestors. The walk STOPS when no queued node is
    // non-stale: everything below is reachable only through stale
    // nodes, hence stale. A merge of two branches k commits past their
    // fork therefore loads O(k) commits, not O(history). Requires
    // every reachable commit to carry a generation — guaranteed by the
    // gen-present ⇒ ancestry-gen-present invariant when both HEADS
    // have one; legacy heads take the exhaustive fallback below.
    def bounded(): Option[String] = {
      val P1 = 1; val P2 = 2; val STALE = 4
      val flags = scala.collection.mutable.Map[String, Int]()
      val pq = scala.collection.mutable.PriorityQueue
        .empty[(Long, String)](Ordering.by(_._1))
      val inQueue = scala.collection.mutable.Set[String]()
      val nonStaleQ = scala.collection.mutable.Set[String]()
      def paint(cid: String, add: Int): Unit = {
        val before = flags.getOrElse(cid, 0)
        val after = before | add
        if (after == before) return
        flags(cid) = after
        load(cid)
        if (!inQueue.contains(cid)) {
          val g = gens(cid).getOrElse(throw new IllegalStateException(
            s"commit $cid lacks a generation under a gen-stamped head " +
              "(gen-present ⇒ ancestry-gen-present invariant broken)"))
          pq.enqueue((g, cid))
          inQueue += cid
        }
        if ((after & STALE) != 0) nonStaleQ -= cid else nonStaleQ += cid
      }
      paint(aCid, P1); paint(bCid, P2)
      val candidates = scala.collection.mutable.ListBuffer[String]()
      while (nonStaleQ.nonEmpty) {
        val (_, cid) = pq.dequeue()
        inQueue -= cid; nonStaleQ -= cid
        var f = flags(cid)
        if ((f & (P1 | P2)) == (P1 | P2) && (f & STALE) == 0) {
          candidates += cid
          f |= STALE
          flags(cid) = f
        }
        parentsOf(cid).foreach(p => paint(p, f & (P1 | P2 | STALE)))
      }
      if (candidates.isEmpty) None // disjoint histories — caller throws
      else if (candidates.size == 1) Some(candidates.head)
      else {
        // belt-and-suspenders maximality over the loaded region (the
        // generation argument already implies independence; this keeps
        // a criss-cross tie deterministic and cheap — edges are memoized)
        val candSet = candidates.toSet
        val marked = scala.collection.mutable.Set[String]()
        val q = scala.collection.mutable.Queue.empty[String]
        val seen = scala.collection.mutable.Set[String]()
        candidates.foreach(c => q.enqueueAll(parentsOf.getOrElse(c, Nil)))
        while (q.nonEmpty) {
          val c = q.dequeue()
          if (seen.add(c)) {
            if (candSet(c)) marked += c
            q.enqueueAll(parentsOf.getOrElse(c, Nil))
          }
        }
        Some((candSet -- marked).toSeq.min)
      }
    }

    // Exhaustive fallback (legacy commits without generations):
    // intersect full ancestries, then mark strict ancestors within the
    // common (ancestry-closed) set — the maximal survivors are the
    // LCAs; a criss-cross tie picks deterministically by id.
    def exhaustive(): String = {
      def anc(cid: String): Set[String] = {
        val seen = scala.collection.mutable.Set[String]()
        val q = scala.collection.mutable.Queue(cid)
        while (q.nonEmpty) {
          val c = q.dequeue()
          if (seen.add(c)) { load(c); q.enqueueAll(parentsOf(c)) }
        }
        seen.toSet
      }
      val common = anc(aCid).intersect(anc(bCid))
      if (common.isEmpty) throw new IllegalStateException("no common ancestor")
      val marked = scala.collection.mutable.Set[String]()
      val q = scala.collection.mutable.Queue.empty[String]
      common.foreach(c => q.enqueueAll(parentsOf(c).filter(common)))
      while (q.nonEmpty) {
        val c = q.dequeue()
        if (marked.add(c)) q.enqueueAll(parentsOf(c).filter(common))
      }
      (common -- marked).toSeq.min
    }

    if (gens(aCid).isDefined && gens(bCid).isDefined)
      bounded().getOrElse(
        throw new IllegalStateException("no common ancestor"))
    else exhaustive()
  }

  /** Row-level 3-way merge of one table changed on BOTH branches: when
    * each side only APPENDED files to the base snapshot (no deletes, no
    * rewrites, no tombstones, no schema/spec change), the true merge is
    * the union of both sides' appends — concurrent ingest into the same
    * table on two branches merges cleanly, the way lakeFS users expect
    * (tests/test_iceberg.py's merge flows generalized to both-sides
    * writers). Anything beyond pure appends still conflicts: a delete or
    * rewrite on one side could target rows the other side's reader
    * already consumed — correctness over convenience.
    *
    * Commit-sequence note: both sides stamped their appends against the
    * base's counter, so the merged snapshot takes max(lastSeq). With
    * zero tombstones in play (a fast-path precondition) seqs order
    * nothing yet; the max just keeps the next MoR delete strictly newer
    * than every merged file.
    */
  private def mergeAppendOnly(key: String, baseId: String, srcId: String,
      dstId: String): String = {
    val b = snapshot(baseId); val s = snapshot(srcId); val d = snapshot(dstId)
    def conflict(why: String): Nothing =
      throw new MergeConflictException(
        s"table $key changed on both sides ($why)")
    def shape(x: Snapshot) =
      (x.schemaJson, x.partitionFields, x.nameMapping, x.retiredNames)
    if (shape(s) != shape(b) || shape(d) != shape(b))
      conflict("schema or partition spec diverged")
    if (Tombstones.of(b).nonEmpty || Tombstones.of(s).nonEmpty ||
        Tombstones.of(d).nonEmpty)
      conflict("merge-on-read tombstones present")
    val basePaths = b.files.map(_.path).toSet
    def appendsOf(x: Snapshot): Seq[FileEntry] = {
      val mine = x.files.map(_.path).toSet
      if (!basePaths.subsetOf(mine)) conflict("files deleted or rewritten")
      x.files.filterNot(f => basePaths.contains(f.path))
    }
    val sNew = appendsOf(s); val dNew = appendsOf(d)
    // engine counters merge by max; USER properties merge 3-way and
    // conflict when both sides changed one differently
    val numericMax = Set(Tombstones.SeqProp, TableOps.StreamBatchProp)
    val propKeys = b.properties.keySet ++ s.properties.keySet ++ d.properties.keySet
    val props = propKeys.flatMap { pk =>
      val (pb, ps, pd) = (b.properties.get(pk), s.properties.get(pk),
        d.properties.get(pk))
      val v =
        if (numericMax.contains(pk))
          Seq(ps, pd, pb).flatten.map(_.toLong).maxOption.map(_.toString)
        else if (ps == pb) pd
        else if (pd == pb || ps == pd) ps
        else conflict(s"property $pk changed on both sides")
      v.map(pk -> _)
    }.toMap
    // the two sides' appends are disjoint (UUID file names), but dedupe
    // by path anyway — a snapshot must never list one file twice.
    // Manifests.appended keeps a segmented million-file base O(delta):
    // a plain ++ would materialize the lazy list and re-chunk the
    // whole table's metadata per merge
    val sPaths = sNew.map(_.path).toSet
    writeSnapshot(key, b.schemaJson,
      Manifests.appended(b.files,
        sNew ++ dNew.filterNot(f => sPaths.contains(f.path))),
      b.partitionBy, b.physicalNames,
      if (props.isEmpty) None else Some(props), b.retired).id
  }

  /** Merge `srcBranch` into `dstBranch` (mirrors
    * tests/test_iceberg.py:29-41 delete-on-dev-and-merge semantics).
    * Fast-forward when dst is an ancestor of src; otherwise a 3-way
    * table-level merge: per table take whichever side changed vs the
    * base; both changed -> MergeConflictException.
    * CAS-retried like every ref move.
    */
  def merge(srcBranch: String, dstBranch: String, message: String = ""): Commit =
    GraftRepo.casRetry {
      val srcCid = head(srcBranch)._2
      val (dstV, dstCid) = head(dstBranch)
      val base = if (srcCid == dstCid) srcCid else mergeBase(srcCid, dstCid)
      if (base == srcCid) commit(dstCid) // src already contained
      else if (base == dstCid) { // fast-forward
        casRef(dstBranch, dstV, srcCid)
        commit(srcCid)
      } else {
        val (tables, namespaces, views) = threeWay(base, srcCid, dstCid)
        val msg = if (message.nonEmpty) message else s"merge $srcBranch into $dstBranch"
        commitAt(dstBranch, dstV, Seq(dstCid, srcCid), msg, tables, namespaces, views)
      }
    }

  /** 3-way merge of the table, namespace and view maps of `srcCid` and
    * `dstCid` against their merge base: per key take whichever side
    * changed; both changed -> MergeConflictException (tables first try
    * the row-level append-union, [[mergeAppendOnly]]).
    */
  private def threeWay(baseCid: String, srcCid: String, dstCid: String): (
      Map[String, String], Map[String, Map[String, String]], Map[String, ViewDef]) = {
    val b = commit(baseCid); val s = commit(srcCid); val d = commit(dstCid)
    val keys = b.tables.keySet ++ s.tables.keySet ++ d.tables.keySet
    val merged = keys.flatMap { k =>
      val (bv, sv, dv) = (b.tables.get(k), s.tables.get(k), d.tables.get(k))
      if (sv == bv) dv.map(k -> _)                // src untouched -> dst wins
      else if (dv == bv) sv.map(k -> _)           // dst untouched -> src wins
      else if (sv == dv) sv.map(k -> _)           // both converged
      else (bv, sv, dv) match {
        // both sides changed: row-level 3-way merge when both only
        // APPENDED (the dominant concurrent-ingest case)
        case (Some(bid), Some(sid), Some(did)) =>
          Some(k -> mergeAppendOnly(k, bid, sid, did))
        case _ =>
          throw new MergeConflictException(s"table $k changed on both sides")
      }
    }.toMap
    val nsKeys = b.namespaces.keySet ++ s.namespaces.keySet ++ d.namespaces.keySet
    val mergedNs = nsKeys.flatMap { k =>
      val (bv, sv, dv) = (b.namespaces.get(k), s.namespaces.get(k), d.namespaces.get(k))
      if (sv == bv) dv.map(k -> _) else sv.map(k -> _)
    }.toMap
    // views three-way like tables (a view is one definition — no
    // row-level sub-merge to attempt)
    val vKeys = b.viewMap.keySet ++ s.viewMap.keySet ++ d.viewMap.keySet
    val mergedViews = vKeys.flatMap { k =>
      val (bv, sv, dv) = (b.viewMap.get(k), s.viewMap.get(k), d.viewMap.get(k))
      if (sv == bv) dv.map(k -> _)
      else if (dv == bv || sv == dv) sv.map(k -> _)
      else throw new MergeConflictException(s"view $k changed on both sides")
    }.toMap
    // Tables and views merge independently above, so a table db/x
    // created on one branch and a view db/x on the other would both
    // land in the merged commit — breaking the shared table/view
    // namespace that createTable/createView/CTAS enforce (loadTable
    // and loadView would each resolve the same key). Reject the merge.
    merged.keySet.intersect(mergedViews.keySet).headOption.foreach { k =>
      throw new MergeConflictException(
        s"$k is a table on one side and a view on the other")
    }
    (merged, mergedNs, mergedViews)
  }

  /** Hard-reset a branch head to an older commit (lakeFS `branches reset`,
    * Iceberg `rollback_to_snapshot`). The target must be an ancestor of the
    * current head — rolling forward or sideways would silently adopt another
    * branch's history; use merge for that. Commits after the target stay on
    * disk (other refs may reach them; `expireSnapshots` reclaims them once
    * nothing does). CAS-retried like every ref move.
    */
  def rollback(branch: String, toRef: String): Commit = {
    val target = resolve(toRef)
    GraftRepo.casRetry {
      val (v, hid) = head(branch)
      if (hid != target.id) {
        require(ancestors(hid).contains(target.id),
          s"rollback target ${target.id} is not an ancestor of $branch head $hid")
        casRef(branch, v, target.id)
      }
      target
    }
  }

  /** History-preserving undo (lakeFS/git `revert` of everything since
    * `toRef`): publish a NEW commit whose table state equals `toRef`'s,
    * parented on the current head. Unlike [[rollback]] the undone commits
    * remain reachable, so time travel to them keeps working and no
    * concurrent reader ever sees history rewritten under it.
    */
  def revert(branch: String, toRef: String, message: String = ""): Commit = {
    val target = resolve(toRef)
    val msg = if (message.nonEmpty) message else s"revert $branch to ${target.id}"
    // views restore to the TARGET's view map too (commitRetry would
    // carry the head's forward)
    commitOnHead(branch, msg, None)(_ =>
      (target.tables, target.namespaces, target.viewMap))
  }

  /** Replay a pick's APPEND delta onto an arbitrary head state: legal
    * when the pick only appended files vs its parent, schema/spec/name
    * mapping agree across all three states, and no merge-on-read
    * tombstones are live. Unlike [[mergeAppendOnly]] the head needs NO
    * ancestry relation to the pick's parent — the head may be ahead,
    * behind, or sideways of it; only the pick's own delta must be a pure
    * append. Delta files the head already holds are skipped, which makes
    * re-picking an applied commit a no-op rather than a double-count.
    */
  private def applyAppendDelta(key: String, baseId: String, pickId: String,
      headId: String): String = {
    val b = snapshot(baseId); val p = snapshot(pickId); val h = snapshot(headId)
    def conflict(why: String): Nothing =
      throw new MergeConflictException(
        s"cherry-pick conflict on table $key ($why)")
    def shape(x: Snapshot) =
      (x.schemaJson, x.partitionFields, x.nameMapping, x.retiredNames)
    if (shape(p) != shape(b) || shape(h) != shape(b))
      conflict("schema or partition spec diverged")
    if (Seq(b, p, h).exists(Tombstones.of(_).nonEmpty))
      conflict("merge-on-read tombstones present")
    val basePaths = b.files.map(_.path).toSet
    if (!basePaths.subsetOf(p.files.map(_.path).toSet))
      conflict("pick deleted or rewrote files")
    val headPaths = h.files.map(_.path).toSet
    val delta = p.files.filterNot(f =>
      basePaths.contains(f.path) || headPaths.contains(f.path))
    if (delta.isEmpty) return headId // already applied — keep head snapshot
    // engine counters merge by max (same rule as mergeAppendOnly); with
    // zero tombstones in play the seq stamps order nothing yet
    val numericMax = Set(Tombstones.SeqProp, TableOps.StreamBatchProp)
    val propKeys = h.properties.keySet ++ p.properties.keySet
    val props = propKeys.flatMap { pk =>
      val v =
        if (numericMax.contains(pk))
          Seq(p.properties.get(pk), h.properties.get(pk)).flatten
            .map(_.toLong).maxOption.map(_.toString)
        else h.properties.get(pk).orElse(p.properties.get(pk)) // head wins
      v.map(pk -> _)
    }.toMap
    writeSnapshot(key, h.schemaJson, Manifests.appended(h.files, delta),
      h.partitionBy,
      h.physicalNames, if (props.isEmpty) None else Some(props), h.retired).id
  }

  /** Cherry-pick (git/lakeFS `cherry-pick`): apply ONE commit's delta —
    * its state vs its FIRST parent — onto this branch's head as a NEW
    * commit, without bringing the rest of the source branch's history
    * along (that is merge's job). Per key changed by the pick:
    *   - head still at the parent's version -> take the pick's version
    *     (covers rewrites, deletes, schema changes — an exact replay)
    *   - head already at the pick's version -> no-op (already applied)
    *   - head diverged on a table -> replay the pick's APPEND delta onto
    *     the head ([[applyAppendDelta]] — the head may be ahead, behind
    *     or sideways; only a pick that itself deleted/rewrote files
    *     conflicts, because a rewrite cannot be replayed onto rows it
    *     never saw)
    * Keys the pick did not change are untouched on the target, so a
    * cherry-pick never drags along unrelated state from the source
    * branch. History-preserving (new commit parented on the current
    * head — the picked commit stays where it was) and CAS-retried.
    */
  def cherryPick(branch: String, ref: String, message: String = ""): Commit = {
    val pick = resolve(ref)
    require(pick.parents.nonEmpty, s"cannot cherry-pick root commit ${pick.id}")
    val base = commit(pick.parents.head)
    val msg = if (message.nonEmpty) message
      else s"cherry-pick ${pick.id}: ${pick.message}"
    commitOnHead(branch, msg, None) { h =>
      def conflict(kind: String, k: String): Nothing =
        throw new MergeConflictException(s"cherry-pick conflict on $kind " +
          s"$k: $branch diverged from the pick's parent")
      var tables = h.tables
      (base.tables.keySet ++ pick.tables.keySet).foreach { k =>
        val (bv, pv, hv) = (base.tables.get(k), pick.tables.get(k), h.tables.get(k))
        if (pv != bv && hv != pv) {
          if (hv == bv) tables = pv.fold(tables - k)(x => tables + (k -> x))
          else (bv, pv, hv) match {
            case (Some(bid), Some(pid), Some(hcur)) =>
              tables += (k -> applyAppendDelta(k, bid, pid, hcur))
            case _ => conflict("table", k)
          }
        }
      }
      // namespace metadata: pick wins on divergence, same as merge's
      // src-wins rule for namespaces
      var ns = h.namespaces
      (base.namespaces.keySet ++ pick.namespaces.keySet).foreach { k =>
        val (bv, pv) = (base.namespaces.get(k), pick.namespaces.get(k))
        if (pv != bv && ns.get(k) != pv)
          ns = pv.fold(ns - k)(x => ns + (k -> x))
      }
      var views = h.viewMap
      (base.viewMap.keySet ++ pick.viewMap.keySet).foreach { k =>
        val (bv, pv, hv) = (base.viewMap.get(k), pick.viewMap.get(k), h.viewMap.get(k))
        if (pv != bv && hv != pv) {
          if (hv == bv) views = pv.fold(views - k)(x => views + (k -> x))
          else conflict("view", k)
        }
      }
      // same shared-namespace invariant the merge path enforces
      tables.keySet.intersect(views.keySet).headOption.foreach { k =>
        throw new MergeConflictException(
          s"$k is a table on one side and a view on the other")
      }
      (tables, ns, views)
    }
  }

  /** Expire version metadata unreachable from every branch/tag head
    * (Iceberg `expire_snapshots` / git `gc --prune`): rollbacks, drops and
    * crashed writers leave commit/snapshot JSONs behind that [[vacuum]]'s
    * data-only GC never touches. Deletes unreachable commit + snapshot
    * objects older than `olderThanMs` (the age guard protects a concurrent
    * committer's freshly written objects whose ref publish hasn't landed
    * yet), then vacuums newly-orphaned data files. Reachable history is
    * never truncated — ancestry walks (merge-base, time travel) stay whole.
    * Returns (commits, snapshots, metadata chunks, dataFiles) deleted —
    * chunks are the orphaned manifest/tree segment objects, counted
    * separately so operators don't see phantom snapshot deletions.
    *
    * The default guard is 10 minutes, NOT zero: a writer creates its
    * commit object before publishing the ref, and an unguarded sweep in
    * that window deletes the commit file the ref is about to point at —
    * corrupting the branch. Pass 0 only when no writer can be in flight.
    */
  def expireSnapshots(olderThanMs: Long = 600000L): (Int, Int, Int, Int) = {
    val roots = branches.map(b => head(b)._2) ++ tags.map(t => resolve(t).id)
    val reachable = roots.flatMap(ancestors).toSet
    val liveSnaps: Set[String] =
      reachable.flatMap(cid => commit(cid).tables.values)
    val cutoff = System.currentTimeMillis() - olderThanMs
    def expire(dir: Path, live: String => Boolean): Int = {
      var n = 0
      val victims = io.list(dir)
        .filter(p => p.getFileName.toString.endsWith(".json"))
        .filter(p => !live(p.getFileName.toString.stripSuffix(".json")))
        // <= : at olderThanMs=0 ("no writer in flight") an object
        // stamped in the SAME millisecond as the sweep must count as
        // old, or a fast caller leaves it (and everything it
        // references) one pass behind
        .filter(p => io.mtimeMs(p) <= cutoff)
      victims.foreach { p => io.deleteIfExists(p); n += 1 }
      n
    }
    // Chunk liveness (manifests + trees) is collected over ALL owner
    // objects on disk BEFORE any are deleted (not just reachable ones):
    // a chunk whose only referrer dies in this pass survives until the
    // NEXT pass. Three layers close the reuse-vs-GC race: (1) writers
    // TOUCH a reused chunk, so the mtime guard — re-checked immediately
    // before each delete — spares it for olderThanMs just like a fresh
    // write; (2) before deleting, the sweep re-reads owner objects that
    // appeared AFTER its first scan and drops victims they reference;
    // (3) writers re-verify reused chunks post-publish (verifyLive) and
    // rewrite any that were swept anyway. On backends without mtime
    // support (object stores, where touch no-ops) layers 2+3 still
    // hold. The O(all objects) reference scans run ONLY when the repo
    // actually has segmented metadata (the chunk dirs exist) — an
    // all-inline repo keeps the old list-names-and-mtimes cost.
    val manifestDir = snapshotsDir.resolve("manifests")
    val treesDir = commitsDir.resolve("trees")
    var m = 0
    def sweepChunks(ownerDir: Path, chunkDir: Path,
        refsOf: String => Seq[String]): Unit = {
      if (!io.isDirectory(chunkDir)) return
      def mtimeBelow(p: Path): Boolean = // <= : same boundary as expire
        try io.mtimeMs(p) <= cutoff catch { case _: Exception => false }
      val owners0 = io.list(ownerDir)
        .filter(p => p.getFileName.toString.endsWith(".json"))
      val referenced: Set[String] = owners0
        .flatMap(p => refsOf(io.readString(p)))
        .map(rel => root.resolve(rel).normalize().toString)
        .toSet
      val victims = io.list(chunkDir)
        .filter(p => p.getFileName.toString.endsWith(".json"))
        .filter(p => !referenced.contains(p.normalize().toString))
        .filter(mtimeBelow)
      if (victims.isEmpty) return
      // owners published since the first scan may reference a victim
      val seen = owners0.map(_.normalize().toString).toSet
      val lateRefs: Set[String] = io.list(ownerDir)
        .filter(p => p.getFileName.toString.endsWith(".json"))
        .filterNot(p => seen.contains(p.normalize().toString))
        .flatMap(p => refsOf(io.readString(p)))
        .map(rel => root.resolve(rel).normalize().toString)
        .toSet
      victims
        .filterNot(p => lateRefs.contains(p.normalize().toString))
        .filter(mtimeBelow) // touch-on-reuse may have bumped it since
        .foreach { p => io.deleteIfExists(p); m += 1 }
    }
    sweepChunks(snapshotsDir, manifestDir,
      s => Json.read[Snapshot](s).manifestRefs.map(_.path))
    sweepChunks(commitsDir, treesDir,
      s => Json.read[Commit](s).treeRefs.map(_.path))
    val c = expire(commitsDir, reachable)
    val s = expire(snapshotsDir, liveSnaps)
    (c, s, m, vacuum(olderThanMs))
  }

  /** Garbage-collect data files not referenced by any snapshot of any
    * commit reachable from a branch head (the lakeFS-GC / Iceberg
    * remove-orphan-files analog: immutable files become garbage when a
    * branch drop or a crashed writer makes them unreachable — never from
    * DML itself, since ancestor commits keep their snapshots). Files
    * younger than `olderThanMs` are spared (Iceberg orphan-file-GC age
    * guard): a concurrent writer stages data before its commit publishes,
    * and an unguarded sweep would eat the in-flight batch. Returns
    * deleted file count.
    */
  // default age guard 10 min (same as expireSnapshots): an unguarded
  // sweep (olderThanMs = 0) would delete a concurrent writer's
  // staged-but-uncommitted data files — the commit then publishes a
  // snapshot referencing missing files. Pass 0 only when no writer can
  // be in flight.
  def vacuum(olderThanMs: Long = 600000L): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val roots = branches.map(b => head(b)._2) ++ tags.map(t => resolve(t).id)
    val reachableCommits = roots.flatMap(ancestors).toSet
    def norm(rel: String): String =
      java.nio.file.Paths.get(rel).normalize().toString
    val referenced: Set[String] = reachableCommits
      .flatMap(cid => commit(cid).tables.values)
      .flatMap(sid => snapshot(sid).files.map(f => norm(f.path)))
    var deleted = 0
    if (dataIO.isDirectory("data")) {
      // only data files count; committer markers (_SUCCESS, .crc) are noise
      val all = dataIO.walkFiles("data").filter(_.endsWith(".parquet"))
      // referenced-set check FIRST (pure driver memory — no IO per
      // referenced file); only unreferenced candidates pay a mtime
      // HEAD + delete, batched through the shared manifest IO pool so
      // a remote data root (s3a://) sees parallel round trips, not
      // O(files) serial ones — the same fan-out the metadata sweep uses
      val candidates = all.filterNot(rel => referenced.contains(norm(rel)))
      deleted = Manifests.fanOut(candidates, 4) { rel =>
        val old = try dataIO.mtimeMs(rel) <= cutoff // same boundary as expire
        catch { case _: Exception => false } // vanished under us
        if (old) {
          val d = if (dataIO.delete(rel)) 1 else 0
          // a data file's bloom sidecar dies with it
          dataIO.delete(rel + ".bloom")
          d
        } else 0
      }.sum
      // prune now-empty data subdirectories (deepest first; reverse
      // lexicographic order puts children before their parents)
      dataIO.walkDirs("data").sorted(Ordering[String].reverse)
        .foreach { d => if (dataIO.listNames(d).isEmpty) dataIO.delete(d) }
    }
    deleted
  }

  /** Table-level diff: table -> "added" | "removed" | "changed". */
  def diff(refA: String, refB: String): Map[String, String] = {
    val a = resolve(refA).tables; val b = resolve(refB).tables
    val keys = a.keySet ++ b.keySet
    keys.flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(_)) => Some(k -> "added")
        case (Some(_), None) => Some(k -> "removed")
        case (Some(x), Some(y)) if x != y => Some(k -> "changed")
        case _ => None
      }
    }.toMap
  }
}

object GraftRepo {
  // observability hook for scale specs (the Trees.chunkReadCount
  // pattern): counts commit-object loads process-wide
  private val commitReads = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def commitReadCount: Long = commitReads.get()

  /** Attempts a lost-CAS retry makes before its conflict propagates. */
  private val CasAttempts = 10

  /** The optimistic-retry loop (LakeFSTableOperations.java:115-147): run
    * `body` — read the current version, publish the next one through a
    * set-if-absent CAS — and re-run it from a fresh read while it throws
    * [[CommitConflictException]], up to [[CasAttempts]] times; the last
    * attempt's conflict propagates. Every ref move and every
    * registration publish retries through here.
    */
  @annotation.tailrec
  private[versioned] def casRetry[A](body: => A, attempt: Int = 1): A =
    (try Some(body) catch {
      case _: CommitConflictException if attempt < CasAttempts => None
    }) match {
      case Some(a) => a
      case None => casRetry(body, attempt + 1)
    }

  /** Create a repo with an empty root commit on branch `main`.
    * `dataRoot` (a Hadoop FS URI, e.g. `s3a://bucket/repo`) relocates
    * the DATA plane — parquet files + sidecars — to that store; it is
    * persisted in the repo's `config.json` so every opener agrees.
    * Metadata stays under `root` through `io`.
    */
  def init(root: Path, io: GraftIO = LocalGraftIO.instance,
      dataRoot: Option[String] = None): GraftRepo = {
    Seq("refs", "commits", "snapshots")
      .foreach(d => io.mkdirs(root.resolve(d)))
    dataRoot.foreach { uri =>
      io.createExclusive(root.resolve("config.json"),
        Json.write(Map("dataRoot" -> uri)))
    }
    val repo = new GraftRepo(root, io, dataRoot)
    repo.dataIO.mkdirs("data")
    val c0 = repo.writeCommit(Nil, "repo init", Map.empty, Map.empty)
    io.mkdirs(root.resolve("refs/main"))
    io.createExclusive(root.resolve("refs/main/v1"), c0.id)
    repo
  }

  /** The persisted data-root URI of a repo, if it was created with one. */
  private def configuredDataRoot(root: Path, io: GraftIO): Option[String] =
    if (!io.isFile(root.resolve("config.json"))) None
    else Json.readAny(io.readString(root.resolve("config.json")))
      .asInstanceOf[Map[String, Any]].get("dataRoot").map(_.toString)

  def open(root: Path, io: GraftIO = LocalGraftIO.instance): GraftRepo = {
    require(io.isDirectory(root.resolve("refs")), s"not a graft repo: $root")
    new GraftRepo(root, io, configuredDataRoot(root, io))
  }

  def exists(root: Path, io: GraftIO = LocalGraftIO.instance): Boolean =
    io.isDirectory(root.resolve("refs"))

  def initOrOpen(root: Path, io: GraftIO = LocalGraftIO.instance,
      dataRoot: Option[String] = None): GraftRepo =
    if (exists(root, io)) open(root, io) else init(root, io, dataRoot)
}
