package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.AccessControlException
import org.apache.hadoop.util.Progressable

/** Local disk under the `graftro://` scheme whose `_serving` directories
  * refuse every write while [[ReadOnlyServingFs.readOnly]] is set, as a zone
  * with a read-only cache prefix would. Permission bits cannot stand in for
  * it: they do not bind a process running as root. */
class ReadOnlyServingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftro:///")

  private def writable(p: Path): Unit =
    if (ReadOnlyServingFs.readOnly && p.toUri.getPath.contains("/_serving"))
      throw new AccessControlException(s"read-only: $p")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writable(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writable(f); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writable(src); writable(dst); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writable(p); super.delete(p, recursive)
  }
}

object ReadOnlyServingFs {
  @volatile var readOnly = false
}
