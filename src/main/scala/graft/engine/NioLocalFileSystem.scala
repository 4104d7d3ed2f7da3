package graft.engine

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem (`file://`) with a fork-free
  * `setPermission`.
  *
  * Without native libhadoop, `RawLocalFileSystem.setPermission` runs a `chmod`
  * process, and the local filesystem calls it for every directory and file it
  * creates (`.crc` files included): a raw landing, each parquet part file and
  * `_SUCCESS` marker, every directory the commit protocol makes, every copied
  * file. Each call is a process spawn, a reader thread and a wait: ~2.7 ms
  * from a 4 GB JVM on a 4-core host, against ~0.01 ms for the java.nio call.
  * [[NioLocalFileSystem.Raw]] sets the same mode bits, sticky bit included,
  * through the `unix:mode` attribute instead. Everything else is Hadoop's:
  * umask handling, checksums, listing, `getFileStatus`.
  *
  * Hadoop's own path still runs on a filesystem without the `unix` attribute
  * view. [[GraftSession.configure]] registers this class as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      try Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Int.box(permission.toShort.toInt))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
