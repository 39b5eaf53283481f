package graft.versioned

import java.nio.file.Path

import scala.jdk.CollectionConverters._

/** S3-shaped object-store client surface — exactly the operations the
  * metadata plane needs (cf. the reference's FileIO seam,
  * LakeFSFileIO.java:24-67, which scopes a Hadoop FS to repo+ref; here
  * the store is a flat key space and the REPO path prefix is the scope).
  *
  * `put(ifNoneMatch = true)` models S3's `If-None-Match: *` conditional
  * PUT (the commit primitive); `PreconditionFailed` is the 412/409 "key
  * already exists" outcome. Transient faults (500/SlowDown/network
  * timeouts) surface as [[ObjectStoreTransientException]] — CRUCIALLY,
  * a request may have been APPLIED server-side before the client saw
  * the failure (the ambiguous-timeout case every real object store
  * has), and [[ObjectStoreGraftIO]] must stay correct either way.
  */
trait ObjectStoreClient {
  import ObjectStoreClient._
  /** Whole-object put. With `ifNoneMatch`, atomically fails with
    * [[PutResult.PreconditionFailed]] if `key` exists; the object is
    * never partially visible. */
  def put(key: String, bytes: Array[Byte], ifNoneMatch: Boolean): PutResult
  def get(key: String): Option[(Array[Byte], Long)] // (bytes, mtimeMs)
  /** Every key with this string prefix (S3 ListObjectsV2 without
    * delimiter; strongly consistent). */
  def listKeys(prefix: String): Seq[String]
  /** Idempotent: true iff the key existed. */
  def deleteKey(key: String): Boolean
}

object ObjectStoreClient {
  sealed trait PutResult
  object PutResult {
    case object Ok extends PutResult
    case object PreconditionFailed extends PutResult
  }
}

/** A retryable store/network failure. `applied` is NOT visible to real
  * clients (HTTP gives no such bit) — the fake store uses it internally
  * to decide whether to apply the mutation before throwing; the adapter
  * must never read it.
  */
final class ObjectStoreTransientException(msg: String)
    extends RuntimeException(msg)

/** Strict in-memory S3 emulation with an injectable fault plan.
  *
  * Semantics mirrored: flat key space; conditional PUT is an atomic
  * compare-and-publish (`putIfAbsent`); whole objects only (no partial
  * visibility — the byte array lands in one reference store); strongly
  * consistent list-after-put (S3 since 2020); deletes idempotent.
  *
  * `faults(op, key, attempt)` (attempt counts per (op,key), from 1)
  * returns what the nth request experiences:
  *  - [[Fault.None]]            — request succeeds normally
  *  - [[Fault.FailBefore]]      — 500 before the mutation applies
  *  - [[Fault.FailAfterApply]]  — the AMBIGUOUS case: mutation applies,
  *    then the response is lost (client sees a transient failure). For
  *    a conditional PUT this is the trap: the writer's own retry then
  *    gets 412 for the object IT published.
  */
final class InMemoryObjectStore(
    faults: (String, String, Int) => InMemoryObjectStore.Fault =
      (_, _, _) => InMemoryObjectStore.Fault.None)
    extends ObjectStoreClient {
  import InMemoryObjectStore._
  import ObjectStoreClient._

  private val objects =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[Byte], Long)]()
  private val attempts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()

  /** Requests observed per (op, key) — lets specs assert retries happened. */
  def requestCount(op: String, key: String): Int =
    Option(attempts.get((op, key))).fold(0)(_.intValue)

  private def faultFor(op: String, key: String): Fault = {
    val n = attempts.merge((op, key), 1, (a, b) => a + b)
    faults(op, key, n)
  }

  override def put(key: String, bytes: Array[Byte],
      ifNoneMatch: Boolean): PutResult = {
    def apply(): PutResult =
      if (ifNoneMatch) {
        if (objects.putIfAbsent(key,
            (bytes.clone(), System.currentTimeMillis())) == null) PutResult.Ok
        else PutResult.PreconditionFailed
      } else {
        objects.put(key, (bytes.clone(), System.currentTimeMillis()))
        PutResult.Ok
      }
    faultFor("put", key) match {
      case Fault.None => apply()
      case Fault.FailBefore =>
        throw new ObjectStoreTransientException(s"500 before put $key")
      case Fault.FailAfterApply =>
        apply() // lands server-side...
        throw new ObjectStoreTransientException(s"timeout after put $key")
    }
  }

  override def get(key: String): Option[(Array[Byte], Long)] = {
    faultFor("get", key) match {
      case Fault.None => ()
      case _ => throw new ObjectStoreTransientException(s"500 get $key")
    }
    Option(objects.get(key)).map { case (b, t) => (b.clone(), t) }
  }

  override def listKeys(prefix: String): Seq[String] = {
    // reads have no mutation, so FailAfterApply degenerates to FailBefore
    faultFor("list", prefix) match {
      case Fault.None => ()
      case _ => throw new ObjectStoreTransientException(s"500 list $prefix")
    }
    objects.keySet().asScala.filter(_.startsWith(prefix)).toSeq.sorted
  }

  override def deleteKey(key: String): Boolean = {
    faultFor("delete", key) match {
      case Fault.None => objects.remove(key) != null
      case Fault.FailBefore =>
        throw new ObjectStoreTransientException(s"500 before delete $key")
      case Fault.FailAfterApply =>
        objects.remove(key)
        throw new ObjectStoreTransientException(s"timeout after delete $key")
    }
  }
}

object InMemoryObjectStore {
  sealed trait Fault
  object Fault {
    case object None extends Fault
    case object FailBefore extends Fault
    case object FailAfterApply extends Fault
  }
}

/** GraftIO over an S3-style object store — the production-shaped backend
  * the reference gets from Hadoop's S3A FS (LakeFSFileIO.java:24-67),
  * built directly on the conditional-PUT commit primitive the GraftIO
  * contract documents.
  *
  * Key mapping is [[InMemoryGraftIO]]'s: a path is its normalized
  * string; "directories" exist iff keys live under their prefix, plus
  * explicit `<dir>/` marker objects from mkdirs (the S3-console folder
  * convention — real keys never end in '/', so markers are
  * unambiguous).
  *
  * Failure model handled per the remote-store reality:
  *
  *  - '''Transient faults retry with bounded attempts.''' Reads and
  *    unconditional maintenance writes are idempotent — plain retry.
  *  - '''createExclusive survives the ambiguous timeout.''' A
  *    conditional PUT whose response is lost MAY have published. The
  *    retry then sees 412 — from its own object or from a racing
  *    winner. Resolution: GET the object and compare bytes to the
  *    content THIS call tried to publish; equal ⇒ this call won (commit
  *    payloads embed fresh UUIDs, so byte-equality identifies the
  *    writer — the same commit-status probe Iceberg performs after an
  *    ambiguous metadata swap). A clean first-attempt 412 skips the
  *    probe: it can only mean "already existed".
  *  - '''No partial visibility''' is the store's contract (whole-object
  *    puts), so a crashed writer leaves either nothing or the full
  *    object — never bytes to clean up, unlike the local temp-file
  *    dance.
  */
final class ObjectStoreGraftIO(client: ObjectStoreClient) extends GraftIO {
  import ObjectStoreClient.PutResult
  import ObjectStoreGraftIO.MaxAttempts

  private def k(p: Path): String = p.toAbsolutePath.normalize.toString
  private def marker(key: String): String = key + "/"

  /** The transient-fault retry loop: repeat `f` while the store answers
    * with [[ObjectStoreTransientException]], up to [[MaxAttempts]] times. */
  @annotation.tailrec
  private def retrying[A](what: String, attempt: Int = 1)(f: => A): A =
    (try Right(f) catch {
      case e: ObjectStoreTransientException => Left(e)
    }) match {
      case Right(a) => a
      case Left(e) if attempt >= MaxAttempts => throw new java.io.IOException(
        s"$what: $MaxAttempts attempts exhausted", e)
      case Left(_) => retrying(what, attempt + 1)(f)
    }

  /** Conditional PUT that survives the ambiguous timeout: true iff THIS
    * call published `bytes` at `key`. A 412 after a transient failure may
    * be our own earlier attempt that landed, so only then is the object
    * read back and byte-compared; a 412 with a clean history is a
    * foreign object. */
  private def putIfAbsent(key: String, bytes: Array[Byte]): Boolean = {
    var ambiguous = false // a lost response may have published our object
    retrying(s"put-if-absent $key") {
      try client.put(key, bytes, ifNoneMatch = true) match {
        case PutResult.Ok => true
        case PutResult.PreconditionFailed =>
          ambiguous && retrying(s"get $key")(client.get(key))
            .exists(o => java.util.Arrays.equals(o._1, bytes))
      } catch {
        case e: ObjectStoreTransientException => ambiguous = true; throw e
      }
    }
  }

  override def createExclusive(path: Path, content: String): Boolean =
    putIfAbsent(k(path), content.getBytes("UTF-8"))

  override def overwrite(path: Path, content: Array[Byte]): Unit =
    retrying(s"put ${k(path)}") {
      client.put(k(path), content, ifNoneMatch = false); ()
    }

  private def getOrThrow(path: Path): (Array[Byte], Long) =
    retrying(s"get ${k(path)}")(client.get(k(path)))
      .getOrElse(throw new java.nio.file.NoSuchFileException(k(path)))

  override def readString(path: Path): String =
    new String(getOrThrow(path)._1, "UTF-8")
  override def readBytes(path: Path): Array[Byte] = getOrThrow(path)._1

  // prefix scans mirror InMemoryGraftIO: children derived from the key
  // space (real keys and '/'-suffixed dir markers both contribute).
  // LIST is idempotent — plain retry, same as get.
  private def keysUnder(key: String): Seq[String] =
    retrying(s"list $key/")(client.listKeys(key + "/"))

  override def list(path: Path): Seq[Path] = {
    val key = k(path)
    keysUnder(key)
      .map(_.substring(key.length + 1).takeWhile(_ != '/'))
      .filter(_.nonEmpty).distinct.sorted
      .map(n => java.nio.file.Paths.get(key, n))
  }

  override def walk(path: Path): Seq[Path] = {
    val self = k(path)
    val under = keysUnder(self).map(_.stripSuffix("/")) ++
      (if (isFile(path) || isDirectory(path)) Seq(self) else Nil)
    val withParents = under.flatMap { s =>
      Iterator.iterate(s)(x => x.substring(0, x.lastIndexOf('/')))
        .takeWhile(x => x.length >= self.length && x.contains('/'))
        .toSeq :+ self
    }
    withParents.distinct.sorted.map(java.nio.file.Paths.get(_))
  }

  override def isDirectory(path: Path): Boolean =
    keysUnder(k(path)).nonEmpty ||
      retrying(s"get ${marker(k(path))}")(client.get(marker(k(path)))).isDefined

  override def isFile(path: Path): Boolean =
    retrying(s"get ${k(path)}")(client.get(k(path))).isDefined

  override def size(path: Path): Long = getOrThrow(path)._1.length.toLong
  override def mtimeMs(path: Path): Long = getOrThrow(path)._2

  override def mkdirs(path: Path): Unit = {
    var p = path.toAbsolutePath.normalize
    while (p != null && p.getParent != null) {
      retrying(s"put ${marker(k(p))}") {
        client.put(marker(k(p)), Array.emptyByteArray, ifNoneMatch = false)
      }
      p = p.getParent
    }
  }

  override def delete(path: Path): Unit =
    if (!deleteIfExists(path))
      throw new java.nio.file.NoSuchFileException(k(path))

  override def deleteIfExists(path: Path): Boolean = {
    val key = k(path)
    if (retrying(s"delete $key")(client.deleteKey(key))) true
    else {
      val hasChildren = keysUnder(key).exists(!_.stripPrefix(key + "/").isEmpty)
      val hadMarker = retrying(s"get ${marker(key)}")(
        client.get(marker(key))).isDefined
      if (hasChildren && hadMarker)
        throw new java.nio.file.DirectoryNotEmptyException(key)
      if (hadMarker) retrying(s"delete ${marker(key)}")(
        client.deleteKey(marker(key)))
      else false
    }
  }

  /** Copy-then-delete — NOT atomic (object stores have no rename): a
    * crash between the put and the delete leaves both keys, which the
    * GraftIO contract documents as permissible for move on stores
    * without rename. The conditional-PUT leg is createExclusive's
    * [[putIfAbsent]]: a lost response may have published OUR copy, so a
    * 412 after a transient failure triggers the byte-equality probe
    * instead of a spurious FileAlreadyExistsException (which would also
    * leave the source undeleted — a duplicate object).
    */
  override def move(path: Path, to: Path): Unit = {
    val bytes = getOrThrow(path)._1
    if (k(path) != k(to)) {
      if (!putIfAbsent(k(to), bytes))
        throw new java.nio.file.FileAlreadyExistsException(k(to))
      retrying(s"delete ${k(path)}")(client.deleteKey(k(path)))
    }
  }
}

object ObjectStoreGraftIO {
  /** Requests one store operation makes before a transient fault surfaces
    * as an IOException. */
  private val MaxAttempts = 5
}
