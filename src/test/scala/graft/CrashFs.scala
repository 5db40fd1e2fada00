package graft

import java.net.URI
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only local file system under the `crash:` scheme: every create,
  * rename and delete first passes through the [[CrashFs.hooks]] of the
  * directories it falls under, which a spec arms to throw — a crash at exactly that step of a store op. Sessions
  * pick it up through `spark.hadoop.fs.crash.impl` (see [[SparkSuite]]);
  * no production option knows about it. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crash:///")
  override def getScheme: String = "crash"

  private def mutate(op: String, p: Path): Unit = {
    val path = p.toUri.getPath
    CrashFs.hooks.forEach((dir, hook) => if (path.startsWith(dir + "/")) hook(op, path))
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    mutate("rename", src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    mutate("delete", p)
    super.delete(p, recursive)
  }
}

object CrashFs {
  final class Crash(at: String) extends java.io.IOException(s"injected crash: $at")

  /** Hooks by local directory: each is called with (operation, local path)
    * before every mutation below its directory. */
  val hooks = new java.util.concurrent.ConcurrentHashMap[String, (String, String) => Unit]()
}
