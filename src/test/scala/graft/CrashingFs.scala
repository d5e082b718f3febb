package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, except that its `k`-th mutating call (`create`,
  * `rename`, `delete`) lands and then throws [[CrashingFs.Crash]]: the
  * process dies right after that step. A crash right after `create`
  * leaves an empty file. A `k` past the last mutating call never fires. */
final class CrashingFs(k: Int)
    extends FilterFileSystem(FileSystem.getLocal(new Configuration())) {
  private var calls = 0

  private def landed[T](result: T): T = {
    calls += 1
    if (calls == k) throw new CrashingFs.Crash(k)
    result
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    if (calls + 1 == k) out.close()
    landed(out)
  }

  override def rename(src: Path, dst: Path): Boolean =
    landed(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    landed(super.delete(f, recursive))
}

object CrashingFs {
  final class Crash(k: Int)
      extends RuntimeException(s"injected crash after mutating call $k")

  /** Run `body` against a filesystem that crashes after its `k`-th
    * mutating call; true when the crash fired. */
  def crashed(k: Int)(body: FileSystem => Unit): Boolean =
    try { body(new CrashingFs(k)); false }
    catch { case _: Crash => true }
}
