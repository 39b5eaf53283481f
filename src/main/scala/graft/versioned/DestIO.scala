package graft.versioned

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using

/** IO seam for Iceberg EXPORT DESTINATIONS (IcebergExport/IcebergSync/
  * expireDest). The repo's own metadata goes through [[GraftIO]]; an
  * export dest is a different store entirely — typically the bucket the
  * external readers (Trino, DuckDB-iceberg) mount — so it gets its own
  * seam keyed on dest-relative paths:
  *
  *  - [[NioDestIO]]: local filesystem via java.nio — byte-for-byte the
  *    pre-seam behavior (golden fixtures, specs and local sync dests
  *    are unchanged).
  *  - [[HadoopDestIO]]: ANY Hadoop FileSystem URI — `s3a://bucket/tbl`,
  *    `hdfs://...`, `file:///...` — resolved through the active Spark
  *    session's Hadoop conf (credentials, endpoints), the same
  *    machinery [[HadoopFsObjectStoreClient]] uses for repo metadata.
  *    This is where a 100 TB deployment's external readers look: the
  *    reference's FileIO is object-store-native
  *    (LakeFSFileIO.java:24), and a sync dest must be too.
  *
  * Write contract: `writeAtomic` publishes complete objects under
  * content-addressed or unique names (temp + rename locally; Hadoop
  * object-store connectors publish whole objects at close, then rename
  * is metadata-only) — a crash mid-write never leaves a truncated file
  * under a final name that later emissions would reuse.
  */
private[graft] trait DestIO {
  /** Absolute URI for embedding into Iceberg metadata (file_path,
    * manifest-list entries, table location). */
  def uriOf(rel: String): String
  /** Inverse of [[uriOf]]: the dest-relative path of a URI that points
    * under this dest, None for foreign URIs. */
  def relOf(uri: String): Option[String]
  /** Human/caller-facing path of a written file (local: absolute path,
    * remote: full URI). */
  def displayPath(rel: String): String
  def mkdirs(rel: String): Unit
  def isFile(rel: String): Boolean
  def isDirectory(rel: String): Boolean
  def readString(rel: String): String
  def readBytes(rel: String): Array[Byte]
  /** Overwrite-allowed small-text write (metadata JSON, version hint). */
  def writeString(rel: String, content: String): Unit
  /** Replace the content of a small MUTABLE control file
    * (`version-hint.text`) so a CONCURRENT reader observes either the
    * old or the new content, never a truncated/empty intermediate —
    * external HadoopCatalog readers and the `iceberg-changes` stream
    * poll the hint while sync emissions rewrite it. Default assumes the
    * backend's plain write is already whole-object-atomic (object-store
    * PUT); filesystem backends override with write-temp + atomic
    * rename-over.
    */
  def replaceString(rel: String, content: String): Unit =
    writeString(rel, content)
  /** Publish `bytes` at `rel` as a complete object; concurrent writers
    * of the same content-addressed name race benignly (same bytes). */
  def writeAtomic(rel: String, bytes: Array[Byte]): Unit
  /** Upload a fully written LOCAL file to `rel` (positional-delete
    * parquet staged by Spark), consuming the local file. */
  def uploadAtomic(local: Path, rel: String): Unit
  /** Immediate child NAMES of a directory (empty if absent). */
  def listNames(rel: String): Seq[String]
  /** Dest-relative paths of all regular files under `rel`, recursive. */
  def walkFiles(rel: String): Seq[String]
  /** Dest-relative paths of all directories strictly under `rel`,
    * recursive (empty on stores without real directories). */
  def walkDirs(rel: String): Seq[String]
  def size(rel: String): Long
  def mtimeMs(rel: String): Long
  def delete(rel: String): Boolean
  /** Best-effort mtime bump. An emission touches every content-
    * addressed file it REUSES (chunk manifests, delete parquets, memo
    * indexes) before embedding it in not-yet-published metadata, so a
    * concurrent [[IcebergExport.expireDest]] sweep — whose age guard
    * spares recently-modified files — cannot delete the file inside
    * the reuse-to-publish window even when no surviving version
    * references it yet. Failure is harmless (the guard still covers
    * windows shorter than `olderThanMs`).
    */
  def touch(rel: String): Unit = ()
  /** Location string the parquet-hadoop writers/readers accept for a
    * file at `rel` (HadoopOutputFile/HadoopInputFile). */
  def hadoopLocation(rel: String): String
  /** The Hadoop path of the file at `rel`. Built from the URI form:
    * `Path(String)` would percent-encode an already-encoded location
    * again (a hive-escaped partition directory's `%3A` read as `%253A`). */
  def hadoopPath(rel: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(java.net.URI.create(hadoopLocation(rel)))
}

private[graft] object DestIO {
  // `file:/x` (Hadoop's rendering) and `file:///x` both count
  private val SchemeRe = "^[a-zA-Z][a-zA-Z0-9+.-]*:/.*".r

  /** Does `s` carry a URI scheme (and so route through Hadoop)? */
  def hasScheme(s: String): Boolean = SchemeRe.matches(s)

  /** A dest string with a URI scheme routes through Hadoop; a plain
    * path keeps the local nio fast path. */
  def of(dest: String): DestIO =
    if (hasScheme(dest)) HadoopDestIO(dest)
    else new NioDestIO(java.nio.file.Paths.get(dest))
}

/** Local-filesystem dest — the pre-seam java.nio behavior. */
private[graft] final class NioDestIO(val root: Path) extends DestIO {
  private def p(rel: String): Path =
    if (rel.isEmpty) root else root.resolve(rel)
  override def uriOf(rel: String): String = p(rel).toUri.toString
  override def relOf(uri: String): Option[String] =
    (try Some(java.nio.file.Paths.get(java.net.URI.create(uri))
      .toAbsolutePath.normalize)
    catch { case _: Exception => None })
      .filter(_.startsWith(root.toAbsolutePath.normalize))
      .map(root.toAbsolutePath.normalize.relativize(_).toString)
  override def displayPath(rel: String): String = p(rel).toString
  override def mkdirs(rel: String): Unit = Files.createDirectories(p(rel))
  override def isFile(rel: String): Boolean = Files.isRegularFile(p(rel))
  override def isDirectory(rel: String): Boolean = Files.isDirectory(p(rel))
  override def readString(rel: String): String = Files.readString(p(rel))
  override def readBytes(rel: String): Array[Byte] = Files.readAllBytes(p(rel))
  override def writeString(rel: String, content: String): Unit =
    Files.writeString(p(rel), content)
  override def replaceString(rel: String, content: String): Unit = {
    val dst = p(rel)
    val tmp = dst.resolveSibling(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, content)
    // rename(2) semantics: the name always resolves to a complete file
    try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }
  override def touch(rel: String): Unit =
    try Files.setLastModifiedTime(p(rel),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: java.io.IOException => () }
  override def writeAtomic(rel: String, bytes: Array[Byte]): Unit = {
    val dst = p(rel)
    val tmp = dst.resolveSibling(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, bytes)
    try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
      case e: java.nio.file.FileSystemException =>
        if (Files.exists(dst)) Files.deleteIfExists(tmp) else throw e
    }
  }
  override def uploadAtomic(local: Path, rel: String): Unit = {
    val dst = p(rel)
    // stage as a temp SIBLING (same file store as dst), then atomic
    // rename — the local source may be on another device (/tmp), and a
    // direct cross-device move would expose a partially copied file
    // under the final name. A content-addressed race loser (dst
    // appeared first) just drops its copy.
    val tmp = dst.resolveSibling(s".tmp-${UUID.randomUUID()}")
    try Files.move(local, tmp)
    catch {
      case _: java.nio.file.FileSystemException => // cross-device
        Files.copy(local, tmp); Files.deleteIfExists(local)
    }
    try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
      case e: java.nio.file.FileSystemException =>
        if (Files.exists(dst)) Files.deleteIfExists(tmp) else throw e
    }
  }
  override def listNames(rel: String): Seq[String] =
    if (!Files.isDirectory(p(rel))) Nil
    else Using.resource(Files.list(p(rel)))(
      _.iterator().asScala.map(_.getFileName.toString).toList)
  override def walkFiles(rel: String): Seq[String] =
    if (!Files.isDirectory(p(rel))) Nil
    else Using.resource(Files.walk(p(rel)))(_.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(f => p(rel).relativize(f)).map(r =>
        if (rel.isEmpty) r.toString else s"$rel/$r").toList)
  override def walkDirs(rel: String): Seq[String] =
    if (!Files.isDirectory(p(rel))) Nil
    else Using.resource(Files.walk(p(rel)))(_.iterator().asScala
      .filter(d => Files.isDirectory(d) && d != p(rel))
      .map(d => p(rel).relativize(d)).map(r =>
        if (rel.isEmpty) r.toString else s"$rel/$r").toList)
  override def size(rel: String): Long = Files.size(p(rel))
  override def mtimeMs(rel: String): Long =
    Files.getLastModifiedTime(p(rel)).toMillis
  override def delete(rel: String): Boolean = Files.deleteIfExists(p(rel))
  override def hadoopLocation(rel: String): String = p(rel).toUri.toString
}

/** Hadoop-FileSystem dest: one FileSystem resolved from the dest URI
  * through the active Spark session's Hadoop configuration (falling
  * back to a fresh Configuration off-session), checksums off so object
  * layouts match external expectations (no .crc siblings).
  */
private[graft] final class HadoopDestIO(
    fs: org.apache.hadoop.fs.FileSystem,
    root: org.apache.hadoop.fs.Path) extends DestIO {
  import org.apache.hadoop.fs.{Path => HPath}
  private def p(rel: String): HPath =
    if (rel.isEmpty) root else new HPath(root, rel)
  override def uriOf(rel: String): String = p(rel).toUri.toString
  override def relOf(uri: String): Option[String] = {
    // component-wise compare: `file:/p`, `file:///p` and `file://host/p`
    // are distinct STRINGS for one path — string-prefix matching would
    // wrongly treat a referenced child as foreign (and GC it)
    val u = try new HPath(uri).toUri catch { case _: Exception => return None }
    val r = root.toUri
    def auth(a: String) = Option(a).filter(_.nonEmpty)
    if (u.getScheme != r.getScheme) return None
    if (auth(u.getAuthority) != auth(r.getAuthority)) return None
    val rp = r.getPath.stripSuffix("/") + "/"
    Option(u.getPath).filter(_.startsWith(rp)).map(_.stripPrefix(rp))
  }
  override def displayPath(rel: String): String = uriOf(rel)
  override def mkdirs(rel: String): Unit = fs.mkdirs(p(rel))
  override def isFile(rel: String): Boolean =
    try fs.getFileStatus(p(rel)).isFile
    catch { case _: java.io.FileNotFoundException => false }
  override def isDirectory(rel: String): Boolean =
    try fs.getFileStatus(p(rel)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  override def readString(rel: String): String =
    new String(readBytes(rel), java.nio.charset.StandardCharsets.UTF_8)
  override def readBytes(rel: String): Array[Byte] =
    Using.resource(fs.open(p(rel)))(in =>
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in))
  override def writeString(rel: String, content: String): Unit =
    Using.resource(fs.create(p(rel), true))(
      _.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  override def replaceString(rel: String, content: String): Unit = {
    val dst = p(rel)
    val tmp = new HPath(dst.getParent, s".tmp-${UUID.randomUUID()}")
    Using.resource(fs.create(tmp, true))(
      _.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    // rename-over via FileContext (FileSystem.rename refuses an existing
    // dst on HDFS): readers always resolve a complete hint
    try org.apache.hadoop.fs.FileContext
      .getFileContext(dst.toUri, fs.getConf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case _: Exception =>
        // no AbstractFileSystem binding for this scheme — object-store
        // connectors publish whole objects at close, so the plain
        // overwrite already meets the no-truncated-read contract
        try fs.delete(tmp, false) catch { case _: Exception => () }
        writeString(rel, content)
    }
  }
  override def writeAtomic(rel: String, bytes: Array[Byte]): Unit = {
    // object-store connectors publish the whole object at close; the
    // tmp+rename keeps the same no-partial-final-name guarantee on
    // directory-style filesystems (HDFS, local)
    val dst = p(rel)
    val tmp = new HPath(dst.getParent, s".tmp-${UUID.randomUUID()}")
    Using.resource(fs.create(tmp, true))(_.write(bytes))
    if (!fs.rename(tmp, dst)) {
      // loser of a content-addressed race (same bytes) — drop the temp
      fs.delete(tmp, false)
      if (!isFile(rel)) throw new java.io.IOException(
        s"rename $tmp -> $dst failed and $dst does not exist")
    }
  }
  override def uploadAtomic(local: Path, rel: String): Unit = {
    // stage to a temp sibling first: moveFromLocalFile stream-copies
    // straight into the destination name on HDFS/file, so a crash
    // mid-upload would leave a truncated parquet under the final
    // (content-addressed) name that later emissions' isFile reuse
    // check would treat as complete
    val dst = p(rel)
    val tmp = new HPath(dst.getParent, s".tmp-${UUID.randomUUID()}")
    fs.moveFromLocalFile(new HPath(local.toUri), tmp)
    if (!fs.rename(tmp, dst)) {
      // loser of a content-addressed race (same bytes) — drop the temp
      fs.delete(tmp, false)
      if (!isFile(rel)) throw new java.io.IOException(
        s"rename $tmp -> $dst failed and $dst does not exist")
    }
  }
  override def listNames(rel: String): Seq[String] =
    if (!isDirectory(rel)) Nil
    else fs.listStatus(p(rel)).toSeq.map(_.getPath.getName)
  override def walkFiles(rel: String): Seq[String] = {
    if (!isDirectory(rel)) return Nil
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(p(rel), true)
    while (it.hasNext) {
      val st = it.next()
      // component-wise relOf, NOT string-prefix matching: the listing
      // qualifies paths through the filesystem (`file:///x`) while the
      // root may render differently (`file:/x`) — same URI, different
      // strings
      if (st.isFile) relOf(st.getPath.toString).foreach(out += _)
    }
    out.result()
  }
  override def walkDirs(rel: String): Seq[String] = {
    if (!isDirectory(rel)) return Nil
    val out = Seq.newBuilder[String]
    def go(r: String): Unit =
      fs.listStatus(p(r)).foreach { st =>
        if (st.isDirectory) {
          val child =
            if (r.isEmpty) st.getPath.getName else s"$r/${st.getPath.getName}"
          out += child
          go(child)
        }
      }
    go(rel)
    out.result()
  }
  override def size(rel: String): Long = fs.getFileStatus(p(rel)).getLen
  /** Whether this FileSystem actually honors setTimes — s3a's is a
    * SILENT no-op (FileSystem's default empty impl), which would leave
    * the touch-on-reuse expire shield nonfunctional on the primary
    * remote dest. Probed ONCE per dest with a throwaway object and a
    * distinctive marker mtime. Stores that fail the probe SKIP the
    * touch (the contract allows it): re-publishing the object instead
    * would download + re-upload every reused content-addressed file —
    * O(reused bytes) of network per sync emission — and stage a
    * rewrite of a file concurrent emissions are reading. The expire
    * sweep's pre-delete reference re-check ([[IcebergExport
    * .expireDest]]) covers such backends: a version published between
    * the sweep's reachability walk and its deletes still spares the
    * files it references.
    */
  private lazy val canSetTimes: Boolean = {
    val probe = new HPath(root, s".tmp-touch-probe-${UUID.randomUUID()}")
    try {
      Using.resource(fs.create(probe, true))(_.write(1))
      val marker = System.currentTimeMillis() - 12345678L
      fs.setTimes(probe, marker, -1)
      math.abs(fs.getFileStatus(probe).getModificationTime - marker) < 1000L
    } catch { case _: Exception => false }
    finally { try fs.delete(probe, false) catch { case _: Exception => () } }
  }
  override def touch(rel: String): Unit =
    try if (canSetTimes) fs.setTimes(p(rel), System.currentTimeMillis(), -1)
    catch { case _: Exception => () } // best-effort per the contract
  override def mtimeMs(rel: String): Long =
    fs.getFileStatus(p(rel)).getModificationTime
  override def delete(rel: String): Boolean =
    try fs.delete(p(rel), false)
    catch { case _: java.io.FileNotFoundException => false }
  override def hadoopLocation(rel: String): String = p(rel).toString
  override def hadoopPath(rel: String): HPath = p(rel)
}

private[graft] object HadoopDestIO {
  def apply(destUri: String): HadoopDestIO = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val uri = java.net.URI.create(destUri)
    // file:// goes through the RAW local FS (no .crc sidecars polluting
    // the export layout, no mutation of the cached shared instance —
    // same choice as HadoopFsObjectStoreClient.local()); other schemes
    // use the cached FileSystem for the URI's authority
    val fs =
      if (uri.getScheme == "file")
        org.apache.hadoop.fs.FileSystem.getLocal(conf).getRaw
      else org.apache.hadoop.fs.FileSystem.get(uri, conf)
    new HadoopDestIO(fs, new org.apache.hadoop.fs.Path(destUri))
  }
}

/** DATA-PLANE view over the repo's own [[GraftIO]] — the DEFAULT data
  * backend when a repo has no URI data root: parquet data files and
  * their bloom sidecars live under the repo root, accessed through
  * whatever GraftIO backend the catalog selected (local FS,
  * object-store adapter). Byte-identical to the pre-seam behavior;
  * [[GraftRepo.dataIO]] swaps in [[HadoopDestIO]] when the repo was
  * created with `dataRoot = s3a://…` (the reference's object-store-
  * native FileIO posture, LakeFSFileIO.java:24).
  *
  * `relOf` must invert what Spark's `input_file_name`/written-file
  * paths report for files under the repo root. It deliberately does
  * NOT round-trip through java.net.URI: hive-escaped partition
  * directories (`__p_c=a%25b`) contain percent sequences that a URI
  * parse would decode, corrupting the stored relative path.
  */
private[graft] final class GraftIoDestIO(val root: Path, io: GraftIO)
    extends DestIO {
  private val normRoot = root.toAbsolutePath.normalize
  private def p(rel: String): Path =
    if (rel.isEmpty) root else root.resolve(rel)
  override def uriOf(rel: String): String = p(rel).toUri.toString
  override def relOf(location: String): Option[String] = {
    val raw =
      if (location.startsWith("file:"))
        "/" + location.stripPrefix("file:").dropWhile(_ == '/')
      else location
    (try Some(java.nio.file.Paths.get(raw).toAbsolutePath.normalize)
    catch { case _: Exception => None })
      .filter(_.startsWith(normRoot))
      .map(normRoot.relativize(_).toString)
  }
  override def displayPath(rel: String): String = p(rel).toString
  override def mkdirs(rel: String): Unit = io.mkdirs(p(rel))
  override def isFile(rel: String): Boolean = io.isFile(p(rel))
  override def isDirectory(rel: String): Boolean = io.isDirectory(p(rel))
  override def readString(rel: String): String = io.readString(p(rel))
  override def readBytes(rel: String): Array[Byte] = io.readBytes(p(rel))
  override def writeString(rel: String, content: String): Unit =
    io.overwrite(p(rel), content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  override def writeAtomic(rel: String, bytes: Array[Byte]): Unit = {
    // honor the trait's no-truncated-final-name contract: stage under a
    // temp sibling, then move (LocalGraftIO.overwrite is a plain
    // Files.write straight to the final name)
    val dst = p(rel)
    val tmp = dst.resolveSibling(s".tmp-${java.util.UUID.randomUUID()}")
    io.overwrite(tmp, bytes)
    try io.move(tmp, dst)
    catch {
      case e: Exception =>
        // loser of a content-addressed race (same bytes) — drop the temp
        io.deleteIfExists(tmp)
        if (!io.isFile(dst)) throw e
    }
  }
  override def uploadAtomic(local: Path, rel: String): Unit = {
    writeAtomic(rel, Files.readAllBytes(local))
    Files.deleteIfExists(local)
  }
  override def listNames(rel: String): Seq[String] =
    io.list(p(rel)).map(_.getFileName.toString)
  override def walkFiles(rel: String): Seq[String] =
    io.walk(p(rel)).filter(io.isFile)
      .map(f => p(rel).relativize(f)).map(r =>
        if (rel.isEmpty) r.toString else s"$rel/$r")
  override def walkDirs(rel: String): Seq[String] =
    io.walk(p(rel)).filter(d => io.isDirectory(d) && d != p(rel))
      .map(d => p(rel).relativize(d)).map(r =>
        if (rel.isEmpty) r.toString else s"$rel/$r")
  override def size(rel: String): Long = io.size(p(rel))
  override def mtimeMs(rel: String): Long = io.mtimeMs(p(rel))
  override def touch(rel: String): Unit = io.touch(p(rel))
  override def delete(rel: String): Boolean = io.deleteIfExists(p(rel))
  override def hadoopLocation(rel: String): String = p(rel).toUri.toString
}
