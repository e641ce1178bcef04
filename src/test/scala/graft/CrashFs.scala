package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `crash://` scheme, able to die at a
  * chosen step: the fault injector of [[PublishSpec]] and of the
  * stores' parked-crash recovery tests.
  *
  * A step is one create, rename or delete issued on the driver while
  * armed: the publish's own renames and deletes, and the job commits of
  * its staged writes (an adaptive plan commits on a query-stage
  * thread); executor tasks are not counted. At the armed step the call
  * throws before it touches anything, and from then on every mutating
  * call on any thread throws, as if the process had died, until
  * [[CrashFs.disarm]].
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crash:///")
  override def getScheme: String = "crash"

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
    CrashFs.step("rename", dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step("delete", p)
    super.delete(p, recursive)
  }

  // directory creation is not a step of its own, but a dead process
  // creates nothing
  override def mkdirs(p: Path): Boolean = {
    CrashFs.step("mkdirs", p, counted = false)
    super.mkdirs(p)
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    CrashFs.step("mkdirs", p, counted = false)
    super.mkdirs(p, permission)
  }
}

object CrashFs {
  @volatile private var armed = false
  @volatile private var crashAt = 0
  @volatile private var crashWhen: String => Boolean = _ => false
  @volatile private var dead = false
  private val trace = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Count the driver's steps from now on; crash at step `at` (1-based;
    * 0 never crashes), or at the first step that `when` names.
    */
  def arm(at: Int, when: String => Boolean = _ => false): Unit = synchronized {
    trace.clear(); crashAt = at; crashWhen = when; dead = false; armed = true
  }

  /** Stop counting and revive; the steps taken since [[arm]]. */
  def disarm(): Seq[String] = synchronized {
    armed = false; dead = false
    trace.toList
  }

  /** Register the scheme on `spark`'s Hadoop configuration. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl",
      classOf[CrashFs].getName)

  /** The step that renames a path onto `path`. */
  def renameOnto(path: String): String => Boolean = { s =>
    s.startsWith("rename ") &&
      new Path(s.stripPrefix("rename ")).toUri.getPath == new Path(path).toUri.getPath
  }

  /** Run `body` and kill it at its first step that `when` names: the
    * state left behind is the one a process dying there leaves.
    */
  def crashWhere(when: String => Boolean)(body: => Unit): Unit = {
    arm(0, when)
    val ran = scala.util.Try(body)
    val steps = disarm()
    require(ran.isFailure && steps.lastOption.exists(when),
      s"no crash where asked among: ${steps.mkString("; ")}")
  }

  private def step(op: String, p: Path, counted: Boolean = true): Unit = {
    if (dead) throw new IOException(s"crashed: $op $p after the injected crash")
    if (counted && armed && org.apache.spark.TaskContext.get() == null) synchronized {
      trace += s"$op $p"
      if (trace.size == crashAt || crashWhen(trace.last)) {
        dead = true
        throw new IOException(s"injected crash at step ${trace.size}: $op $p")
      }
    }
  }
}
