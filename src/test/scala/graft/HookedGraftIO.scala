package graft

import java.nio.file.Path

import graft.versioned.GraftIO

/** Forwarding [[GraftIO]] that runs `beforePublish(path)` ahead of every
  * `createExclusive` — the seam specs use to land a concurrent writer's
  * publish at the exact moment between an operation's read and its own
  * CAS, deterministically and on one thread.
  */
final class HookedGraftIO(inner: GraftIO)(beforePublish: Path => Unit)
    extends GraftIO {
  override def createExclusive(path: Path, content: String): Boolean = {
    beforePublish(path)
    inner.createExclusive(path, content)
  }
  override def overwrite(path: Path, content: Array[Byte]): Unit =
    inner.overwrite(path, content)
  override def readString(path: Path): String = inner.readString(path)
  override def readBytes(path: Path): Array[Byte] = inner.readBytes(path)
  override def list(path: Path): Seq[Path] = inner.list(path)
  override def walk(path: Path): Seq[Path] = inner.walk(path)
  override def isDirectory(path: Path): Boolean = inner.isDirectory(path)
  override def isFile(path: Path): Boolean = inner.isFile(path)
  override def size(path: Path): Long = inner.size(path)
  override def mtimeMs(path: Path): Long = inner.mtimeMs(path)
  override def mkdirs(path: Path): Unit = inner.mkdirs(path)
  override def delete(path: Path): Unit = inner.delete(path)
  override def deleteIfExists(path: Path): Boolean = inner.deleteIfExists(path)
  override def touch(path: Path): Unit = inner.touch(path)
  override def move(path: Path, to: Path): Unit = inner.move(path, to)
}
