package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.engine.NioLocalFileSystem

/** Local disk under the `graftcrash://` scheme that counts every mutating
  * call (`create`, `rename`, `delete`) under [[CrashFs.root]] and throws at
  * call [[CrashFs.crashAt]], leaving the tree as a process killed at that
  * step would. Driver and task calls both count: in local mode tasks share
  * the driver's filesystem instances. */
class CrashFs extends NioLocalFileSystem.Raw {
  override def getUri: URI = URI.create("graftcrash:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step("rename", src); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step("delete", p); super.delete(p, recursive)
  }
}

object CrashFs {
  val Scheme = "graftcrash"
  /** Local path prefix whose mutations count; null counts nothing. */
  @volatile var root: String = null
  /** The call that throws; 0 never throws. */
  @volatile var crashAt = 0
  val calls = new AtomicInteger

  private def step(op: String, p: Path): Unit = {
    val r = root
    if (r != null && p.toUri.getPath.startsWith(r)) {
      val n = calls.incrementAndGet()
      if (n == crashAt)
        throw new java.io.IOException(s"injected crash at mutating call $n: $op $p")
    }
  }

  /** Runs `body` counting the mutating calls under `under` and crashing at
    * call `at` (0: never); returns the body's outcome and the call count. */
  def counting[T](under: String, at: Int)(body: => T): (Either[Throwable, T], Int) = {
    calls.set(0); crashAt = at; root = under
    try (try Right(body) catch { case e: Exception => Left(e) }, calls.get())
    finally { root = null; crashAt = 0 }
  }
}
