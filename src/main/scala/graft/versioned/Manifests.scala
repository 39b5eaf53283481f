package graft.versioned

import java.nio.file.Path

/** Manifest-segmented snapshot metadata (SURVEY.md §3).
  *
  * Problem at 100 TB: a snapshot over millions of data files, inlined as
  * one JSON array, makes EVERY commit rewrite O(total files) metadata
  * bytes — the exact failure Iceberg's manifest files exist to avoid
  * (and the reference's users get that property through iceberg-core's
  * ManifestFile layer, which its catalog serves untouched). graft keeps
  * the one-funnel snapshot model but segments the file list:
  *
  *  - The ordered [[FileEntry]] list is split into chunks at
  *    content-defined cut points ([[isCut]]: a 64-bit hash of the
  *    entry's path, taken mod the target chunk size). Because the cut
  *    decision depends only on the entry itself, an append perturbs only
  *    the final chunk and a delete only the chunk that held the entry —
  *    every other chunk's byte content, and therefore its address, is
  *    unchanged.
  *  - Each chunk is serialized once and stored CONTENT-ADDRESSED
  *    (`snapshots/manifests/m<sha1>.json`) through the same
  *    [[GraftIO.createExclusive]] set-if-absent primitive as every other
  *    metadata object: a second writer producing an identical chunk
  *    simply observes "already exists" and reuses it. Successive
  *    commits, branches, and even unrelated tables that converge on the
  *    same chunk bytes share the object, git-tree style.
  *  - Loads go through a process-wide LRU [[cache]] keyed by the
  *    immutable object path, so re-planning a table across commits
  *    re-reads only the chunks that actually changed.
  *
  * Commit cost: O(changed files + 1) manifest writes and one small
  * snapshot JSON holding the ref list. Snapshot load cost after warm-up:
  * O(changed chunks). Driver memory: one materialized list per planned
  * snapshot, with chunk objects shared across snapshots via the cache.
  */
object Manifests {

  /** On-disk manifest object body (jackson-scala binds top-level case
    * classes, not bare generic Seqs — Model.scala:30's caveat).
    */
  final case class ManifestBody(entries: Seq[FileEntry])

  /** File lists at or below this many entries stay inline in the
    * snapshot JSON (sys prop `graft.manifest.inline.max`). Inline is
    * strictly better for small tables: one read, no extra objects.
    */
  def inlineMax: Int =
    graft.GraftConf.sysProp("graft.manifest.inline.max", 256, min = 0).toInt

  /** Expected entries per manifest chunk (sys prop
    * `graft.manifest.target`). Cut probability is 1/target per entry;
    * a hard cap of 4× bounds the pathological no-cut run.
    */
  def targetChunk: Int =
    graft.GraftConf.sysProp("graft.manifest.target", 1024, min = 1).toInt

  /** Record a manifest's distinct partition tuples only up to this many
    * (beyond it the summary would approach the size of the chunk
    * itself); None past the cap means "unknown — must load to prune".
    */
  val PartSummaryMax = 64

  private def manifestsDir(root: Path): Path =
    root.resolve("snapshots").resolve("manifests")

  /** The shared bounded IO pool (16 threads, started at first use) for
    * manifest chunk GET/PUT/HEAD fan-out — one pool per JVM, daemon
    * threads, instead of building and tearing down a fresh pool on
    * every commit's load/write/verify pass.
    */
  private lazy val ioPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(16, (r: Runnable) => {
      val t = new Thread(r, "graft-manifest-io")
      t.setDaemon(true)
      t
    })

  /** Map `f` over `items` on the shared pool (serial when the batch is
    * at most `serialAtMost`), unwrapping ExecutionException so callers
    * surface the backend's own failure type, not the pool's wrapper.
    */
  private[versioned] def fanOut[A, B](items: Seq[A], serialAtMost: Int)(
      f: A => B): Seq[B] =
    if (items.size <= serialAtMost) items.map(f)
    else items.map(a => ioPool.submit(new java.util.concurrent.Callable[B] {
      def call(): B = f(a)
    })).map { fut =>
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }

  /** Split an ordered file list into content-defined chunks (cut points
    * from each entry's path hash — [[ChunkStore.chunkBy]]).
    */
  private[graft] def chunk(files: Seq[FileEntry]): Seq[Seq[FileEntry]] =
    ChunkStore.chunkBy(files, (f: FileEntry) => f.path, targetChunk)

  /** Write (or reuse) the manifest objects for `files` and return their
    * refs, in list order. Returns the refs plus the subset of paths that
    * were REUSED (already existed) — the caller re-verifies those after
    * publishing the snapshot (see [[verifyLive]]).
    */
  def write(root: Path, io: GraftIO, files: Seq[FileEntry],
      partitioned: Boolean): (Seq[ManifestRef], Seq[String]) = {
    val dir = manifestsDir(root)
    io.mkdirs(dir)
    def one(entries: Seq[FileEntry]): (ManifestRef, Option[String]) = {
      val body = Json.write(ManifestBody(entries))
      val rel = s"snapshots/manifests/m${ChunkStore.shaHex(body)}.json"
      val reused = !io.createExclusive(root.resolve(rel), body)
      // a reused chunk keeps its OLD mtime — bump it so an age-guarded
      // GC sweep can't take it for a stale orphan while our snapshot
      // publish (and verifyLive) are still in flight
      if (reused) io.touch(root.resolve(rel))
      val parts =
        if (!partitioned) None
        else {
          val distinct = entries.map(_.partValues).distinct
          if (distinct.size <= PartSummaryMax) Some(distinct) else None
        }
      (ManifestRef(rel, entries.size, entries.map(_.rows).sum, parts),
        if (reused) Some(rel) else None)
    }
    // chunks are independent (serialize + hash + conditional PUT each):
    // fan out over the same bounded pool as loads — a large commit's
    // manifest work is then latency/CPU-bound on O(chunks/threads), not
    // a serial driver stall
    val chunks = chunk(files)
    val out: Seq[(ManifestRef, Option[String])] = fanOut(chunks, 1)(one)
    (out.map(_._1), out.flatMap(_._2))
  }

  /** Append view over a loaded segmented list — the INPUT shape of an
    * INSERT's commit (`prior.files` + the new files). [[GraftRepo
    * .writeSnapshot]] recognizes it and reuses every base chunk ref
    * verbatim except the last: content-defined cut decisions run
    * left-to-right and reset at each boundary, so appending can only
    * perturb the final chunk — re-chunking (last chunk's entries ++
    * delta) reproduces exactly what a full re-chunk would, while the
    * commit's serialization work drops from O(table files) to
    * O(delta + one chunk). Never stored in a Snapshot; exists only
    * between the staging call site and writeSnapshot.
    */
  final class AppendedFileList(
      private[versioned] val base: LazyFileList,
      private[versioned] val delta: Vector[FileEntry])
      extends scala.collection.immutable.Seq[FileEntry]
      with java.io.Serializable {
    override def length: Int = base.length + delta.length
    override def knownSize: Int = length
    def apply(i: Int): FileEntry =
      if (i < base.length) base(i) else delta(i - base.length)
    def iterator: Iterator[FileEntry] = base.iterator ++ delta.iterator
    private def writeReplace(): Object = base.toVector ++ delta
  }

  /** The append-staging constructor: keeps the lazy/append structure
    * when `files` is a loaded segmented list, plain concat otherwise.
    */
  def appended(files: Seq[FileEntry], delta: Seq[FileEntry]): Seq[FileEntry] =
    files match {
      case l: LazyFileList if delta.nonEmpty =>
        new AppendedFileList(l, delta.toVector)
      case _ => files ++ delta
    }

  /** Write only the refs an append actually changes: base refs except
    * the last reused verbatim (their paths are returned as "reused" so
    * the caller's post-publish verify covers them), the old last chunk
    * + delta re-chunked and written. None when the base belongs to a
    * different store (caller falls back to a full write).
    */
  private[versioned] def writeAppended(root: Path, io: GraftIO,
      a: AppendedFileList, partitioned: Boolean)
      : Option[(Seq[ManifestRef], Seq[String])] = {
    if (!a.base.sameStore(root) || a.base.refs.isEmpty) return None
    val prefix = a.base.refs.init
    val lastEntries = load(root, io, a.base.refs.last)
    val (tailRefs, tailReused) =
      write(root, io, lastEntries ++ a.delta, partitioned)
    Some((prefix ++ tailRefs, tailReused ++ prefix.map(_.path)))
  }

  /** Close the reuse-vs-GC race: a reused manifest could in principle be
    * an orphan (referenced by no snapshot object) that a concurrent
    * [[GraftRepo.expireSnapshots]] pass deletes between our existence
    * check and our snapshot publish. Called AFTER the snapshot JSON is
    * on disk — from that point any GC pass sees the reference — this
    * rewrites any manifest that vanished in the window. Content
    * addressing makes the rewrite idempotent.
    */
  def verifyLive(root: Path, io: GraftIO, reusedPaths: Seq[String],
      files: Seq[FileEntry]): Unit = {
    val missing = existsMissing(root, io, reusedPaths)
    if (missing.isEmpty) return
    val byPath = chunk(files).map { entries =>
      val body = Json.write(ManifestBody(entries))
      s"snapshots/manifests/m${ChunkStore.shaHex(body)}.json" -> body
    }.toMap
    missing.foreach { p =>
      byPath.get(p) match {
        case Some(body) => io.createExclusive(root.resolve(p), body)
        // re-chunking under different settings can fail to reproduce an
        // old boundary — surfacing that beats silently publishing a
        // snapshot that references a missing chunk
        case None => throw new IllegalStateException(
          s"cannot restore swept manifest $p: current chunk boundaries " +
            "do not reproduce it (graft.manifest.target changed?)")
      }
    }
  }

  /** The subset of `paths` that do NOT exist, checked over the bounded
    * IO pool: an append commit verifies EVERY reused prefix ref after
    * publishing, and on an object store each existence check is a
    * ~10 ms HEAD — serially that would put an O(chunks) latency wall
    * back into the O(delta) commit path.
    */
  private[versioned] def existsMissing(root: Path, io: GraftIO,
      paths: Seq[String]): Seq[String] =
    fanOut(paths, 4)(p => p -> io.isFile(root.resolve(p)))
      .filterNot(_._2).map(_._1)

  /** Load one manifest's entries through the process-wide cache. */
  def load(root: Path, io: GraftIO, ref: ManifestRef): Seq[FileEntry] = {
    val key = root.resolve(ref.path).toAbsolutePath.normalize.toString
    cache.getOrLoad(key)(
      Json.read[ManifestBody](io.readString(root.resolve(ref.path))).entries)
  }

  /** Materialize a segmented snapshot's full file list, in order. */
  def materialize(root: Path, io: GraftIO, snap: Snapshot): Seq[FileEntry] =
    loadAll(root, io, snap.manifestRefs)

  /** Load many chunks, preserving ref order in the result. Cold loads of
    * more than a handful of chunks fan out over a bounded IO pool: on an
    * object store each chunk GET is tens of milliseconds of latency, and
    * a thousand-chunk snapshot loaded serially would turn cold planning
    * into a multi-second driver stall — latency-bound work, so the pool
    * (16 threads) costs nothing
    * locally and collapses cold-load latency to O(chunks/threads)
    * remotely. Cache hits never enter the pool.
    */
  private[versioned] def loadAll(root: Path, io: GraftIO,
      refs: Seq[ManifestRef]): Seq[FileEntry] = {
    val misses = refs.zipWithIndex.filterNot { case (r, _) =>
      cache.get(root.resolve(r.path).toAbsolutePath.normalize.toString).isDefined
    }
    if (misses.size <= 1) return refs.flatMap(load(root, io, _))
    val loaded = fanOut(misses, 1) { case (r, i) =>
      i -> load(root, io, r)
    }.toMap
    refs.zipWithIndex.flatMap { case (r, i) =>
      loaded.getOrElse(i, load(root, io, r))
    }
  }

  /** A segmented snapshot's file list as a LAZY Seq: size/isEmpty answer
    * from the refs' recorded counts without touching a chunk, full
    * traversal materializes once (memoized), and
    * [[LazyFileList.partitionPruned]] loads ONLY the chunks whose
    * partition-tuple summary survives the pushed filters — on a
    * partition-selective scan of a million-file table, planning reads
    * O(matching chunks) metadata rows, not O(all). Under Java
    * serialization the object degrades to the materialized Vector
    * (writeReplace), so a closure capturing a snapshot stays safe even
    * though root/io handles are not serializable.
    */
  // java.io.Serializable is mixed in EXPLICITLY: immutable.Seq itself is
  // not Serializable in 2.13, and writeReplace is only consulted for
  // classes that ARE — without the marker, serializing a Snapshot that
  // holds one throws NotSerializableException instead of degrading.
  final class LazyFileList(root: Path, io: GraftIO,
      private[versioned] val refs: Seq[ManifestRef])
      extends scala.collection.immutable.Seq[FileEntry]
      with java.io.Serializable {
    /** Refs are repo-root-relative: reuse them only inside the same store. */
    private[versioned] def sameStore(r: Path): Boolean =
      root.toAbsolutePath.normalize == r.toAbsolutePath.normalize
    @volatile private var materialized: Vector[FileEntry] = null
    private def underlying: Vector[FileEntry] = {
      if (materialized == null)
        materialized = loadAll(root, io, refs).toVector
      materialized
    }
    private[versioned] def isMaterializedList: Boolean = materialized != null
    override def length: Int =
      if (materialized != null) materialized.length else refs.map(_.count).sum
    override def isEmpty: Boolean = length == 0
    override def knownSize: Int = length
    def apply(i: Int): FileEntry = underlying(i)
    def iterator: Iterator[FileEntry] = underlying.iterator
    /** Entries from chunks whose summary may satisfy ALL `keep` filters
      * (summary-less chunks always load — conservative). The per-file
      * predicate still runs downstream; this only skips whole-chunk
      * loads that the summary PROVES irrelevant.
      */
    private[versioned] def partitionPruned(
        keep: Seq[Map[String, String]] => Boolean): Seq[FileEntry] =
      loadAll(root, io, refs.filter(r => r.partitions.forall(keep)))
    private def writeReplace(): Object = underlying
  }

  // ---- process-wide LRU cache (immutable objects: no invalidation) ----
  // Capped in cached FileEntry rows, not chunk count (sys prop
  // `graft.manifest.cache.entries`, default 1M ≈ a few hundred MB).

  private[graft] def cacheEntries: Long = graft.GraftConf.sysProp(
    "graft.manifest.cache.entries", 1000000L, min = 0, max = Long.MaxValue)

  private val cache =
    new ChunkStore.LruCache[Seq[FileEntry]](() => cacheEntries, _.size)

  /** Test hooks / observability. */
  private[graft] def clearCache(): Unit = cache.clear()
  private[graft] def cacheSize: Int = cache.size
  /** Cache-miss chunk reads since JVM start (specs prove pruned loading). */
  private[graft] def chunkReadCount: Long = cache.readCount
}
