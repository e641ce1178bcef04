package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one crash-safe way a store replaces paths: [[StateStore]],
  * [[AnnIndex]], [[BpeStore]], [[SegmentStore]]'s compaction and the
  * query-layer partition stores all publish through it. It is the
  * directory form of the reference's MULTI/EXEC write-back, which
  * commits a distribution's bins together with its `_Z`/`_T`
  * (goforget/redis_utils.go:124-196).
  *
  * A publish of the store rooted at `root` runs in a hidden transaction
  * directory, the sibling `.<name>.publish` of the root:
  *
  *   1. the caller writes every new path under the transaction
  *      directory and names the [[Move]]s: a staged path replaces a
  *      live one, or a live one is retired;
  *   2. the COMMIT POINT is one marker file that names the moves,
  *      published by a create-if-absent rename ([[createIfAbsent]]).
  *      A staged path that is missing fails the publish before it;
  *   3. each move renames the live path (when there is one) into the
  *      transaction directory, then the staged path into place;
  *   4. the transaction directory is deleted last.
  *
  * Nothing live changes before the marker exists, so a staged write may
  * read the very paths it replaces. Every entry point of a store first
  * runs [[recover]], which finishes a committed transaction: after a
  * crash at any step the next read sees exactly the old store or exactly
  * the new one. An uncommitted transaction is left to the store's next
  * write ([[recoverForWrite]]), which drops it: a read cannot tell a
  * crashed writer's staging from a live writer's, so reads may run
  * while a publish stages. A read racing the moves themselves finishes
  * them alongside the writer: every move refuses to overwrite and skips
  * a move already made.
  *
  * One writer per store at a time: two concurrent publishes of one
  * root share its transaction directory.
  *
  * On Hadoop's local filesystem (`file:`) every move and the marker's
  * rename are a `java.nio.file.Files.move` that refuses an existing
  * destination: the same check then `rename(2)` that `FileContext`'s
  * `Rename.NONE` makes there, without its link-status lookup, which
  * runs a `readlink` subprocess per call. A standalone probe on a
  * 4-core Linux host timed a `FileContext` rename at 15–16 ms and
  * `Files.move` at 0.07 ms; a store upsert makes 7–9 moves. Every
  * other scheme renames through `FileContext`.
  */
object Publish {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.sources.Publish")

  /** The commit point: present iff the transaction's moves must happen. */
  private[graft] val Marker = "_COMMITTED"

  /** One move of a publish: `staged` takes the place of `live`; with no
    * staged path the move retires `live` (a vacated partition).
    */
  final case class Move(staged: Option[String], live: String)

  /** The move that puts `staged` in place of `live`. */
  def replace(staged: String, live: String): Move = Move(Some(staged), live)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The transaction directory of the store rooted at `root`: a hidden
    * sibling, so no read of the store lists it and a move may retire
    * the root itself.
    */
  private[graft] def txnDir(root: String): Path = {
    val p = new Path(root)
    new Path(p.getParent, s".${p.getName}.publish")
  }

  /** Publish one transaction of the store rooted at `root`. `stage`
    * receives the transaction directory, writes the new paths under it
    * and returns the moves.
    */
  def commit(spark: SparkSession, root: String)(
      stage: String => Seq[Move]): Unit = {
    recoverForWrite(spark, root)
    val txn = txnDir(root)
    val f = fsOf(spark, txn)
    val moves = stage(txn.toString)
    moves.flatMap(_.staged).foreach { s =>
      if (!f.exists(new Path(s)))
        throw new java.io.FileNotFoundException(s"publish: staged path $s is missing")
    }
    f.mkdirs(new Path(txn, "retired"))
    val plan = moves.map(m => s"${m.staged.getOrElse("")}\t${m.live}\n").mkString
    require(createIfAbsent(f, new Path(txn, Marker), plan.getBytes("UTF-8")),
      s"publish: $txn is already committed")
    finish(f, txn)
  }

  /** Finish a committed publish of the store rooted at `root`; leave an
    * uncommitted one, which may still be staging. One `exists` when
    * there is none.
    */
  def recover(spark: SparkSession, root: String): Unit = {
    val txn = txnDir(root)
    val f = fsOf(spark, txn)
    if (f.exists(new Path(txn, Marker))) {
      log.warn(s"publish recovery: store $root, transaction $txn: rolling the committed publish forward")
      finish(f, txn)
    }
  }

  /** What a write of the store rooted at `root` runs first: [[recover]],
    * then drop an uncommitted publish, the single writer's own crashed
    * staging. [[commit]] runs it, and so does a store write that
    * publishes nothing ([[SegmentStore]]'s appends).
    */
  def recoverForWrite(spark: SparkSession, root: String): Unit = {
    recover(spark, root)
    val txn = txnDir(root)
    val f = fsOf(spark, txn)
    if (f.exists(txn)) {
      log.warn(s"publish recovery: store $root, transaction $txn: dropping the uncommitted publish")
      f.delete(txn, true)
    }
  }

  /** The parquet table at `path`, after finishing a committed publish of
    * it: how a partition store published by [[replaceParts]] is read.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    recover(spark, path)
    spark.read.parquet(path)
  }

  /** Carry out a committed transaction's moves, then delete it.
    * Idempotent: a move whose staged path is gone has happened, and a
    * live path retired already is not retired again. Every path the
    * marker names is on the transaction's filesystem, and is read as a
    * path on `f` whatever URI the writer reached it by.
    */
  private def finish(f: FileSystem, txn: Path): Unit = {
    val plan =
      try {
        val in = f.open(new Path(txn, Marker))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => return } // finished by another
    def onF(p: String) = Path.getPathWithoutSchemeAndAuthority(new Path(p))
    plan.zipWithIndex.foreach { case (line, i) =>
      val Array(staged, live) = line.split("\t", -1)
      val s = Option(staged).filter(_.nonEmpty).map(onF)
      val l = onF(live)
      val retired = new Path(txn, s"retired/$i")
      if (s.forall(f.exists) && f.exists(l) && !f.exists(retired))
        moveOnce(f, l, retired)
      s.foreach { p =>
        f.mkdirs(l.getParent)
        moveOnce(f, p, l)
      }
    }
    f.delete(txn, true)
  }

  /** Rename `from` to `to` unless that has happened: a source that is
    * gone, a destination that is taken or a destination parent that is
    * gone means another finisher made the move. The rename refuses an
    * existing destination, as [[createIfAbsent]]'s does: the old API's
    * rename would move a directory INTO an existing one.
    */
  private[graft] def moveOnce(f: FileSystem, from: Path, to: Path): Unit = {
    val (src, dst) = (f.makeQualified(from), f.makeQualified(to))
    val moved = localPath(f, src) match {
      case Some(s) =>
        // a file's checksum sidecar goes first, so a crash between the
        // two leaves an unchecked file, never a stale checksum
        f match {
          case c: ChecksumFileSystem =>
            localPath(f, c.getChecksumFile(src)).filter(Files.exists(_))
              .foreach(cs => localMove(cs, localPath(f, c.getChecksumFile(dst)).get))
          case _ =>
        }
        localMove(s, localPath(f, dst).get)
      case None =>
        try {
          FileContext.getFileContext(dst.toUri, f.getConf)
            .rename(src, dst, Options.Rename.NONE)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.nio.file.FileAlreadyExistsException |
               _: java.io.FileNotFoundException => false
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            f.exists(src) && !f.exists(dst) && f.exists(dst.getParent) &&
              f.rename(src, dst)
        }
    }
    if (!moved && f.exists(src) && !f.exists(dst) && f.exists(dst.getParent))
      throw new java.io.IOException(s"publish: cannot rename $src to $dst")
  }

  /** `p` on the local disk when `f` is Hadoop's local filesystem under
    * the `file` scheme (whichever subclass serves it; not another
    * scheme's, such as the tests' fault-injecting `crash`).
    */
  private def localPath(f: FileSystem, p: Path): Option[java.nio.file.Path] = f match {
    case _: LocalFileSystem | _: RawLocalFileSystem if f.getUri.getScheme == "file" =>
      Some(java.nio.file.Paths.get(f.makeQualified(p).toUri))
    case _ => None
  }

  /** `Files.move` without `REPLACE_EXISTING`: check the destination,
    * then `rename(2)`, as `FileContext`'s `Rename.NONE` does on this
    * filesystem, without its `readlink` subprocess. False when the
    * destination exists or the source or the destination's parent is
    * missing.
    */
  private def localMove(src: java.nio.file.Path, dst: java.nio.file.Path): Boolean =
    try { Files.move(src, dst); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.NoSuchFileException => false
    }

  /** The moves that replace `live`'s `partCol=<v>` directories with those
    * staged under `staged`: every directory the staged write produced,
    * and a retirement for each `touched` value the write left empty.
    */
  def partMoves(spark: SparkSession, staged: String, live: String,
      partCol: String, touched: Seq[Long]): Seq[Move] = {
    val p = new Path(staged)
    val f = fsOf(spark, p)
    val written =
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"$partCol="))
    written.map(n => replace(s"$staged/$n", s"$live/$n")) ++
      touched.map(v => s"$partCol=$v").distinct.filterNot(written.toSet)
        .map(n => Move(None, s"$live/$n"))
  }

  /** Replace the `touched` partitions of the `partCol`-partitioned
    * `table` with `rows`, one directory per partition, as one publish
    * rooted at the table. `rows` may read `table` itself.
    */
  def replaceParts(spark: SparkSession, table: String, partCol: String,
      touched: Seq[Long], rows: DataFrame): Unit =
    commit(spark, table) { txn =>
      val staged = s"$txn/parts"
      rows.repartition(col(partCol)).write.partitionBy(partCol).parquet(staged)
      partMoves(spark, staged, table, partCol, touched)
    }

  /** Create `dst` holding `bytes` unless it already exists: write a
    * per-attempt temp sibling, then rename it into place refusing an
    * existing destination. False when `dst` existed (the other attempt's
    * content stands).
    *
    * The rename is `FileContext.rename(..., Options.Rename.NONE)`, not
    * `FileSystem.rename`: the old API's rename OVERWRITES an existing
    * destination on RawLocalFileSystem (and other FS), so a racing
    * attempt could silently replace a published file. Rename.NONE
    * refuses an existing destination on every Hadoop FS (atomically on
    * HDFS; inside the rename call elsewhere). On Hadoop's local
    * filesystem the temp is written with `java.nio` (no checksum
    * sidecar) and moved by [[localMove]], the same check then
    * `rename(2)`. The temp name is per
    * attempt: two racing attempts must not share it, or the loser's
    * truncating re-create could be what the winner's rename publishes.
    * A crashed attempt's temp is inert (dot-prefixed, never listed).
    */
  private[graft] def createIfAbsent(f: FileSystem, dst: Path,
      bytes: Array[Byte]): Boolean = {
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
    localPath(f, tmp) match {
      case Some(t) =>
        Files.createDirectories(t.getParent)
        Files.write(t, bytes)
        localMove(t, localPath(f, dst).get) || { Files.deleteIfExists(t); false }
      case None => createIfAbsentHadoop(f, tmp, dst, bytes)
    }
  }

  /** [[createIfAbsent]] through Hadoop's API, from the temp `tmp`. */
  private def createIfAbsentHadoop(f: FileSystem, tmp: Path, dst: Path,
      bytes: Array[Byte]): Boolean = {
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    try {
      FileContext.getFileContext(dst.toUri, f.getConf)
        .rename(tmp, dst, Options.Rename.NONE)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.ParentNotDirectoryException =>
        f.delete(tmp, true)
        false
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // No AbstractFileSystem for this scheme: the old API offers no
        // atomic no-overwrite rename, so re-check the destination
        // immediately before renaming and verify the published file is
        // OURS after. The residual window (two attempts passing the
        // re-check in the same instant on an overwriting-rename FS)
        // cannot be closed from this API; on such schemes the caller
        // must not race itself. A file we cannot READ back is not
        // evidence of a race (our rename returned true): report true
        // on unreadable, false only on a genuine content mismatch.
        if (f.exists(dst)) { f.delete(tmp, true); false }
        else if (!f.rename(tmp, dst)) { f.delete(tmp, true); false }
        else scala.util.Try {
          val in = f.open(dst)
          try {
            val buf = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
            buf.toByteArray
          } finally in.close()
        }.map(_.sameElements(bytes)).getOrElse(true)
      case e: Throwable =>
        // an FS signalling dest-exists through another type must not
        // leave the temp behind: rename either moved it (the delete is
        // a no-op) or left it — then propagate
        scala.util.Try(f.delete(tmp, true))
        throw e
    }
  }
}
