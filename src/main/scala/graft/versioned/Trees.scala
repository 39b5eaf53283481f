package graft.versioned

import java.nio.file.Path

/** Tree-segmented commit table maps — the [[Manifests]] idea one level
  * up (SURVEY.md §3).
  *
  * A commit's `tables` map (table key → snapshot id) is inlined in the
  * commit JSON, so a repo with 10k+ tables rewrites the whole map on
  * EVERY commit and re-parses all of it to resolve one table. Past an
  * inline threshold the map is split instead: entries sorted by key,
  * chunked at content-defined cut points (FNV-1a of the key mod the
  * target size — a pure function of the entry, so changing one table's
  * snapshot perturbs only the chunk holding it), each chunk stored
  * CONTENT-ADDRESSED under `commits/trees/t<sha1>.json` via the same
  * set-if-absent primitive. Successive commits share every unchanged
  * chunk byte-for-byte (git tree objects); commit metadata cost is
  * O(changed tables).
  *
  * Reads are a lazy Map ([[LazyTableMap]]): `get` on an unmaterialized
  * map binary-searches the refs' [firstKey, lastKey] ranges and loads
  * ONE chunk — the `headCommit(branch).tables(key)` hot path of every
  * table resolution reads O(1) chunks, not the whole map. Full
  * iteration (merge, diff, GC) materializes once, memoized.
  */
object Trees {

  /** One chunk of a segmented table map.
    * @param path     repo-root-relative tree object path
    * @param count    entries in the chunk
    * @param firstKey smallest table key in the chunk (sorted order)
    * @param lastKey  largest table key in the chunk
    */
  final case class TreeRef(path: String, count: Int,
      firstKey: String, lastKey: String)

  final case class TreeEntry(k: String, v: String)
  final case class TreeBody(entries: Seq[TreeEntry])

  def inlineMax: Int =
    graft.GraftConf.sysProp("graft.tree.inline.max", 256, min = 0).toInt
  def targetChunk: Int =
    graft.GraftConf.sysProp("graft.tree.target", 512, min = 1).toInt

  private[graft] def chunk(tables: Map[String, String]): Seq[Seq[TreeEntry]] =
    ChunkStore.chunkBy(
      tables.toSeq.sortBy(_._1).map { case (k, v) => TreeEntry(k, v) },
      (e: TreeEntry) => e.k, targetChunk)

  /** Write (or reuse) the tree objects for `tables`; refs in key order.
    * Returns refs + the reused paths (for the caller's post-publish
    * verify, same reuse-vs-GC protocol as [[Manifests.write]]).
    */
  def write(root: Path, io: GraftIO, tables: Map[String, String])
      : (Seq[TreeRef], Seq[String]) = {
    io.mkdirs(root.resolve("commits").resolve("trees"))
    val reused = Seq.newBuilder[String]
    val refs = chunk(tables).map { entries =>
      val body = Json.write(TreeBody(entries))
      val rel = s"commits/trees/t${ChunkStore.shaHex(body)}.json"
      if (!io.createExclusive(root.resolve(rel), body)) {
        reused += rel
        // freshness bump — see Manifests.write (age-guarded GC must not
        // sweep a just-reused chunk out from under the landing commit)
        io.touch(root.resolve(rel))
      }
      TreeRef(rel, entries.size, entries.head.k, entries.last.k)
    }
    (refs, reused.result())
  }

  /** Restore any reused tree object a racing GC swept before the commit
    * object was published (see [[Manifests.verifyLive]]).
    */
  def verifyLive(root: Path, io: GraftIO, reusedPaths: Seq[String],
      tables: Map[String, String]): Unit = {
    val missing = reusedPaths.filterNot(p => io.isFile(root.resolve(p)))
    if (missing.isEmpty) return
    val byPath = chunk(tables).map { entries =>
      val body = Json.write(TreeBody(entries))
      s"commits/trees/t${ChunkStore.shaHex(body)}.json" -> body
    }.toMap
    missing.foreach { p =>
      byPath.get(p) match {
        case Some(body) => io.createExclusive(root.resolve(p), body)
        case None => throw new IllegalStateException(
          s"cannot restore swept tree chunk $p: current chunk boundaries " +
            "do not reproduce it (graft.tree.target changed?)")
      }
    }
  }

  /** Load one tree chunk through the process-wide cache. */
  def load(root: Path, io: GraftIO, ref: TreeRef): Seq[TreeEntry] = {
    val key = root.resolve(ref.path).toAbsolutePath.normalize.toString
    cache.getOrLoad(key)(
      Json.read[TreeBody](io.readString(root.resolve(ref.path))).entries)
  }

  /** The segmented table map as a lazy immutable Map: point lookups load
    * one range-matched chunk; iteration materializes once. Degrades to
    * the materialized Map under Java serialization.
    */
  // Serializable mixed in explicitly — AbstractMap is not Serializable
  // in 2.13, and writeReplace only fires on Serializable classes (see
  // Manifests.LazyFileList).
  final class LazyTableMap(root: Path, io: GraftIO,
      private[versioned] val refs: Seq[TreeRef])
      extends scala.collection.immutable.AbstractMap[String, String]
      with java.io.Serializable {
    @volatile private var materialized: Map[String, String] = null
    @volatile private var sortedSnap: Vector[(String, String)] = null
    private def underlying: Map[String, String] = {
      if (materialized == null)
        materialized = refs.iterator.flatMap(load(root, io, _))
          .map(e => e.k -> e.v).toMap
      materialized
    }
    override def get(key: String): Option[String] =
      if (materialized != null) materialized.get(key)
      else {
        // refs are sorted and disjoint (chunks of a sorted entry list):
        // binary-search the last chunk whose firstKey <= key
        var lo = 0
        var hi = refs.size - 1
        var hit = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (refs(mid).firstKey <= key) { hit = mid; lo = mid + 1 }
          else hi = mid - 1
        }
        if (hit >= 0 && key <= refs(hit).lastKey)
          load(root, io, refs(hit)).find(_.k == key).map(_.v)
        else None
      }
    override def contains(key: String): Boolean = get(key).isDefined
    def iterator: Iterator[(String, String)] = underlying.iterator

    /** Sorted iteration starting STRICTLY AFTER `after` (None = from
      * the first key). On an unmaterialized map this binary-ranges the
      * sorted chunk refs to the seek point and loads chunks LAZILY as
      * the iterator is consumed — one page of a 100k-table listing
      * costs O(log chunks + chunks(pageSize)), the same trick `get`
      * uses, never a full materialization.
      */
    def iteratorFrom(after: Option[String]): Iterator[(String, String)] =
      if (materialized != null) {
        // sorted view memoized alongside `materialized`: listNamespaces
        // issues one seek per namespace child, and re-sorting a 100k-
        // entry map per seek would cost O(children · N log N) — the
        // one-time sort plus an O(log N) binary search keeps the seek
        // win on the materialized path too
        if (sortedSnap == null)
          sortedSnap = materialized.toVector.sortBy(_._1)
        val sorted = sortedSnap
        val from = after match {
          case None => 0
          case Some(a) =>
            // first index with key STRICTLY AFTER `a`
            var lo = 0
            var hi = sorted.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (sorted(mid)._1 <= a) lo = mid + 1 else hi = mid
            }
            lo
        }
        Iterator.range(from, sorted.length).map(sorted)
      } else after match {
        case None =>
          refs.iterator.flatMap(r =>
            load(root, io, r).iterator.map(e => e.k -> e.v))
        case Some(a) =>
          // first chunk whose lastKey > a (refs sorted and disjoint)
          var lo = 0
          var hi = refs.size
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (refs(mid).lastKey <= a) lo = mid + 1 else hi = mid
          }
          refs.iterator.drop(lo).flatMap(r =>
            load(root, io, r).iterator.map(e => e.k -> e.v))
            .dropWhile(_._1 <= a)
      }
    def removed(key: String): Map[String, String] = underlying.removed(key)
    def updated[V1 >: String](key: String, value: V1): Map[String, V1] =
      underlying.updated(key, value)
    override def size: Int =
      if (materialized != null) materialized.size else refs.map(_.count).sum
    override def knownSize: Int = size
    override def isEmpty: Boolean = size == 0
    private def writeReplace(): Object = underlying
  }

  // ---- process-wide LRU cache (immutable objects) ----------------------
  // Capped in cached entries (sys prop `graft.tree.cache.entries`).

  private[graft] def cacheEntries: Long = graft.GraftConf.sysProp(
    "graft.tree.cache.entries", 500000L, min = 0, max = Long.MaxValue)

  private val cache =
    new ChunkStore.LruCache[Seq[TreeEntry]](() => cacheEntries, _.size)

  private[graft] def clearCache(): Unit = cache.clear()
  private[graft] def chunkReadCount: Long = cache.readCount
}
