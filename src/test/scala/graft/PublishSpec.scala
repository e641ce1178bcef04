package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ForgetParams, ForgetTable}
import graft.sources.{AnnIndex, BpeStore, Publish, SegmentStore, StateStore, Tables}

/** Fault injection for [[Publish]]: every store's publish is crashed at
  * each of its filesystem steps in turn ([[CrashFs]]), and the store's
  * next read must see exactly the old state or exactly the new one —
  * the old one iff the crash came before the commit marker. A read
  * finishes a committed transaction and leaves an uncommitted one as it
  * is; the store's next write drops that one. Neither leaves a
  * transaction directory behind.
  */
class PublishSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = graft.sources.GraftSession.local()
    CrashFs.register(s)
    s
  }

  private val Buckets = 4

  /** The WARN lines [[Publish]] logs while `body` runs. */
  private def publishWarnings[T](body: => T): (T, Seq[String]) = {
    val lines = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("publish-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val logger = LogManager.getLogger("graft.sources.Publish").asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    try (body, lines.asScala.toList)
    finally { logger.removeAppender(appender); appender.stop() }
  }

  /** Spark logs each crash injected into a job commit with its full
    * stack: an ERROR from the writer and two WARNs from the commit
    * protocol's aborts. [[crashEverywhere]] silences these two loggers
    * while it runs; every other test keeps logging write failures.
    */
  private def quietInjectedCrashes[T](body: => T): T = {
    val loggers = Seq("org.apache.spark.sql.execution.datasources.FileFormatWriter",
      "org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol")
    val levels = loggers.map(n => n -> LogManager.getLogger(n).getLevel)
    loggers.foreach(Configurator.setLevel(_, Level.OFF))
    try body
    finally levels.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
  }

  /** Every file under `p` with its length: a transaction's content. */
  private def tree(p: Path): Set[(String, Long)] = {
    val root = Paths.get(p.toUri.getPath)
    if (!Files.exists(root)) Set.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => (f.toString, Files.size(f))).toSet
  }

  /** Crash `publish` at every step. `prepare` builds the store before
    * the publish; `observe` is a read of the store, returning its
    * visible state; `publish` is rerun as the store's next write.
    * `root` maps the store to the root the publish replaces under, and
    * `check` runs against the published store once it is whole.
    */
  private def crashEverywhere[S](name: String, root: String => String = identity,
      check: String => Unit = _ => ())(prepare: String => Unit)(
      publish: String => Unit)(observe: String => S): Unit = quietInjectedCrashes {
    val base = Files.createTempDirectory(s"graft_crash_${name}_").toString
    def store(d: String) = s"crash://$base/$d"
    prepare(store("seed"))
    copyTree(s"$base/seed", s"$base/clean")
    val old = observe(store("clean"))
    CrashFs.arm(0)
    publish(store("clean"))
    val steps = CrashFs.disarm()
    val (neu, healthy) = publishWarnings(observe(store("clean")))
    assert(healthy.isEmpty, s"$name: a healthy read logged $healthy")
    assert(neu != old, s"$name: the publish changed nothing")
    check(store("clean"))
    val marker = steps.indexWhere(s =>
      s.startsWith("rename ") && s.endsWith(s"/${Publish.Marker}")) + 1
    assert(marker > 0, s"$name: no commit marker among ${steps.mkString("; ")}")
    assert(steps.drop(marker).count(_.startsWith("rename ")) >= 2 &&
      steps.last.startsWith("delete "), s"$name: ${steps.mkString("; ")}")
    for (k <- 1 to steps.size) {
      val dir = store(s"k$k")
      copyTree(s"$base/seed", s"$base/k$k")
      val txn = Publish.txnDir(root(dir))
      val fs = txn.getFileSystem(spark.sparkContext.hadoopConfiguration)
      CrashFs.arm(k)
      val crashed = scala.util.Try(publish(dir))
      CrashFs.disarm()
      val at = s"$name, crash at step $k of ${steps.size} (${steps(k - 1)})"
      assert(crashed.isFailure, s"$at: the publish did not crash")
      val parkedTxn = fs.exists(txn)
      val parked = tree(txn)
      val (got, warned) = publishWarnings(observe(dir))
      assert(got == (if (k <= marker) old else neu),
        s"$at: the next read saw ${if (got == old) "the OLD" else if (got == neu) "the NEW" else "a MIXED"} state")
      def recovered(lines: Seq[String], action: String): Unit =
        assert(lines.size == 1 && lines.head.startsWith("WARN ") &&
          lines.head.contains(dir) && lines.head.contains(txn.toString) &&
          lines.head.contains(action), s"$at: logged $lines")
      if (k > marker) {
        assert(!fs.exists(txn), s"$at: $txn left behind")
        if (parkedTxn) recovered(warned, "rolling the committed")
        else assert(warned.isEmpty, s"$at: logged $warned")
      } else {
        // the read cannot tell this staging from a live writer's
        assert(warned.isEmpty, s"$at: the read logged $warned")
        assert(tree(txn) == parked, s"$at: the read changed the uncommitted $txn")
        val (_, dropped) = publishWarnings(publish(dir))
        assert(!fs.exists(txn), s"$at: the next write left $txn behind")
        assert(observe(dir) == neu, s"$at: the next write did not publish")
        if (parkedTxn) recovered(dropped, "dropping the uncommitted")
        else assert(dropped.isEmpty, s"$at: logged $dropped")
      }
      check(dir)
    }
  }

  private def fixture: ForgetTable =
    ForgetTable.fromEvents(Tables.events(spark, "/root/testdata/sf0.001"))

  private def stateOf(dir: String): (Set[Row], Set[Row]) = {
    val ft = StateStore.load(spark, dir)
    (ft.counts.collect().toSet, ft.meta.collect().toSet)
  }

  test("StateStore save: a crash at any step leaves the old store or the new one") {
    val ft = fixture
    val halved = new ForgetTable(
      ft.counts.select(col("dist"), col("bin"), (col("count") / 2 + 1).cast("long").as("count")),
      ft.meta.withColumn("t", col("t") + 1))
    crashEverywhere("save")(StateStore.save(ft, _, Buckets))(
      StateStore.save(halved, _, Buckets))(stateOf)
  }

  test("StateStore upsert with a lazy snaps over the same store: a crash at any step leaves the old store or the new one") {
    val names = fixture.meta.select("dist").orderBy("dist").collect()
      .map(_.getString(0)).take(2).toSeq
    crashEverywhere("upsert")(StateStore.save(fixture, _, Buckets)) { dir =>
      val ft = StateStore.load(spark, dir)
      val snaps = ft.counts.filter(col("dist").isin(names: _*))
        .join(ft.meta.select("dist", "z", "t"), "dist")
        .select(col("dist"), col("bin"), (col("count") + 1).as("count"),
          (col("z") + 1).as("z"), (col("t") + 60).as("t"))
      StateStore.upsertDistributions(spark, dir, snaps)
    }(stateOf)
  }

  test("StateStore compact: a crash at any step leaves the old store or the new one") {
    val params = ForgetParams(rate = 0.001, nowEpoch = 1706659200L)
    crashEverywhere("compact")(StateStore.save(fixture, _, Buckets))(
      StateStore.compact(spark, _, params))(stateOf)
  }

  test("AnnIndex IVF retrain: a crash at any step leaves the old index or the new one") {
    val dim = 16
    def vecs(from: Long, n: Long, shift: Int): DataFrame =
      spark.range(from, from + n).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dim)), j =>
          (pmod(col("id") * lit(31) + j * lit(17 + shift), lit(100)) - lit(50))
            .cast("double") / lit(50.0)).as("v"))
    val queries = vecs(0, 3, 0).select(col("vec_id").as("q_id"), col("v").as("q_v"))
    crashEverywhere("ivf") { dir =>
      AnnIndex.saveIvf(vecs(0, 60, 0), k = 4, sampleSize = 40, iters = 2,
        dim = dim, salt = 7, dir = dir)
      AnnIndex.upsertIvf(spark, dir, vecs(1000, 30, 5))
    }(AnnIndex.retrainIvf(spark, _, k = 4, sampleSize = 40, iters = 2,
        dim = dim, salt = 7)) { dir =>
      (AnnIndex.ivfCentroids(spark, dir).collect().toSet,
        AnnIndex.probeIvf(spark, dir, queries, 5, 2).collect().toSet)
    }
  }

  test("BpeStore retrain: a crash at any step leaves the old tokenizer or the new one") {
    val v1 = Seq[BpeStore.Round]((1L, "a", "b", 9L, 30L, 4L), (2L, "ab", "c", 5L, 25L, 5L))
    val v2 = Seq[BpeStore.Round]((1L, "b", "a", 7L, 28L, 4L))
    crashEverywhere("bpe")(BpeStore.retrainSwap(spark, _, v1, Seq("a", "b", "c"),
      BpeStore.Meta(1L, 10L, 30L)))(BpeStore.retrainSwap(spark, _, v2,
      Seq("a", "b"), BpeStore.Meta(2L, 12L, 28L))) { dir =>
      (BpeStore.load(spark, dir), BpeStore.loadAlphabet(spark, dir),
        BpeStore.loadMeta(spark, dir))
    }
  }

  private def segBatch(rows: (String, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "c")
  }

  /** A segment store's visible state: its merged rows, and per subtree
    * (the root, or each writer's) the live segment ids with the
    * `_GRAFT_*` markers each holds.
    */
  private def segState(dir: String, subs: Seq[String]) = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (SegmentStore.merged(spark, dir, Seq("k"), "c").collect().toSet,
      subs.map(sub => SegmentStore.segmentIds(spark, sub).map { id =>
        id -> fs.listStatus(new Path(s"$sub/seg=$id")).map(_.getPath.getName)
          .filter(_.startsWith("_GRAFT_")).toSet
      }))
  }

  test("SegmentStore compact of a flat exactly-once store: a crash at any step leaves the old segments or the fold") {
    // a re-delivered batch stays ingested once, folded or not
    crashEverywhere("segment", check = dir => for (b <- 0L to 1L)
      assert(!SegmentStore.appendExactlyOnce(segBatch("a" -> 9L), dir, b), s"batch $b re-ingested")) { dir =>
      assert(SegmentStore.appendExactlyOnce(segBatch("a" -> 1L, "b" -> 2L), dir, 0L))
      assert(SegmentStore.appendExactlyOnce(segBatch("a" -> 4L, "c" -> 0L), dir, 1L))
    }(SegmentStore.compact(spark, _, Seq("k"), "c")) { dir =>
      val st = segState(dir, Seq(dir))
      assert(Set(Seq(0L -> Set("_GRAFT_XO"), 1L -> Set("_GRAFT_XO")),
        Seq(1L -> Set("_GRAFT_XO", "_GRAFT_FOLD"))).contains(st._2.head), st)
      assert(st._1 == Set(Row("a", 5L), Row("b", 2L), Row("c", 0L)), st)
      st
    }
  }

  test("SegmentStore compactWriter on a two-writer store: a crash at any step leaves the old subtree or the fold") {
    crashEverywhere("writer", root = SegmentStore.writerPath(_, "wa"), check = dir => for (b <- 0L to 1L)
      assert(!SegmentStore.appendExactlyOnce(segBatch("a" -> 9L), dir, "wa", b), s"batch $b re-ingested")) { dir =>
      assert(SegmentStore.appendExactlyOnce(segBatch("a" -> 1L), dir, "wa", 0L))
      assert(SegmentStore.appendExactlyOnce(segBatch("a" -> 2L, "b" -> 3L), dir, "wa", 1L))
      assert(SegmentStore.appendExactlyOnce(segBatch("b" -> 5L), dir, "wb", 0L))
    }(SegmentStore.compactWriter(spark, _, "wa", Seq("k"), "c")) { dir =>
      val st = segState(dir, Seq("wa", "wb").map(SegmentStore.writerPath(dir, _)))
      assert(Set(Seq(0L -> Set("_GRAFT_XO"), 1L -> Set("_GRAFT_XO")),
        Seq(1L -> Set("_GRAFT_XO", "_GRAFT_FOLD"))).contains(st._2.head), st)
      assert(st._1 == Set(Row("a", 3L), Row("b", 8L)), st)
      st
    }
  }

  private def rows(path: String): Set[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).toSet

  test("a read while a publish stages leaves the staging alone; the publish then commits it whole") {
    val root = Files.createTempDirectory("graft_pub_inflight_").toString + "/store"
    spark.range(3).write.parquet(s"$root/a")
    spark.range(3).write.parquet(s"$root/b")
    Publish.commit(spark, root) { txn =>
      spark.range(5).write.parquet(s"$txn/a")
      // what every read entry point runs first, here mid-staging
      val (_, warned) = publishWarnings(Publish.recover(spark, root))
      assert(warned.isEmpty, s"a read logged $warned")
      assert(rows(s"$root/a") == (0L until 3L).toSet, "the read saw the staging")
      spark.range(7).write.parquet(s"$txn/b")
      Seq(Publish.replace(s"$txn/a", s"$root/a"), Publish.replace(s"$txn/b", s"$root/b"))
    }
    assert(rows(s"$root/a") == (0L until 5L).toSet && rows(s"$root/b") == (0L until 7L).toSet)
    val fs = Publish.txnDir(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(Publish.txnDir(root)))
  }

  test("a publish whose staged path is lost fails before its marker and changes nothing live") {
    val root = Files.createTempDirectory("graft_pub_lost_").toString + "/store"
    spark.range(3).write.parquet(s"$root/a")
    val lost = intercept[java.io.FileNotFoundException] {
      Publish.commit(spark, root) { txn =>
        spark.range(5).write.parquet(s"$txn/b")
        Seq(Publish.replace(s"$txn/a", s"$root/a"), Publish.replace(s"$txn/b", s"$root/b"))
      }
    }
    assert(lost.getMessage.contains("staged path"))
    val fs = Publish.txnDir(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(rows(s"$root/a") == (0L until 3L).toSet && !fs.exists(new Path(s"$root/b")))
    assert(!fs.exists(new Path(Publish.txnDir(root), Publish.Marker)))
  }

  /** A directory `name` under `parent` holding one file `f` with `text`. */
  private def dirWith(parent: java.nio.file.Path, name: String, text: String): Path = {
    val d = Files.createDirectories(parent.resolve(name))
    Files.write(d.resolve("f"), text.getBytes("UTF-8"))
    new Path(d.toUri)
  }

  private def text(p: Path, name: String = "f"): String =
    new String(Files.readAllBytes(Paths.get(p.toUri).resolve(name)), "UTF-8")

  test("a local move refuses an existing destination and takes a missing source as moved") {
    val base = Files.createTempDirectory("graft_pub_move_")
    val fs = new Path(base.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getUri.getScheme == "file")
    val src = dirWith(base, "src", "new")
    val dirDst = dirWith(base, "dirDst", "old")
    val fileDst = new Path(base.resolve("fileDst").toUri)
    Files.write(Paths.get(fileDst.toUri), "old".getBytes("UTF-8"))
    // a taken destination means another finisher made the move: the
    // move leaves both paths as they are
    for (dst <- Seq(dirDst, fileDst)) {
      Publish.moveOnce(fs, src, dst)
      assert(text(src) == "new", s"$dst: the source moved")
    }
    assert(text(dirDst) == "old" && !Files.exists(Paths.get(dirDst.toUri).resolve("src")))
    assert(new String(Files.readAllBytes(Paths.get(fileDst.toUri)), "UTF-8") == "old")
    val dst = new Path(base.resolve("dst").toUri)
    Publish.moveOnce(fs, src, dst)
    assert(text(dst) == "new" && !fs.exists(src))
    // the source is gone: another finisher made this move
    Publish.moveOnce(fs, src, dst)
    assert(text(dst) == "new")
  }

  test("a second finish of a committed local transaction is a no-op") {
    val root = Files.createTempDirectory("graft_pub_refinish_").toString + "/store"
    spark.range(3).write.parquet(s"$root/a")
    Publish.commit(spark, root) { txn =>
      spark.range(5).write.parquet(s"$txn/a")
      Seq(Publish.replace(s"$txn/a", s"$root/a"))
    }
    // what a finisher that dies before its final delete leaves: the
    // marker, with every move made
    val txn = Publish.txnDir(root)
    val fs = txn.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Publish.createIfAbsent(fs, new Path(txn, Publish.Marker),
      s"$txn/a\t$root/a\n".getBytes("UTF-8")))
    val (_, warned) = publishWarnings(Publish.recover(spark, root))
    assert(warned.size == 1, warned)
    assert(rows(s"$root/a") == (0L until 5L).toSet && !fs.exists(txn))
  }

  test("no checksum file is left beside a local Publish or SegmentStore marker") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pub_crc_")
    val fs = new Path(dir.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getUri.getScheme == "file")
    val marker = new Path(new Path(dir.toUri), Publish.Marker)
    assert(Publish.createIfAbsent(fs, marker, "plan\n".getBytes("UTF-8")))
    assert(!Publish.createIfAbsent(fs, marker, "other\n".getBytes("UTF-8")))
    def names(d: java.nio.file.Path) = Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet
    assert(names(dir) == Set(Publish.Marker))
    assert(new String(Files.readAllBytes(dir.resolve(Publish.Marker)), "UTF-8") == "plan\n")
    val seg = dir.resolve("segments").toString
    assert(SegmentStore.appendExactlyOnce(Seq(("u1", 3L)).toDF("k", "c"), seg, "wa", 0L))
    assert(SegmentStore.commitEpoch(spark, seg, 0L))
    assert(names(Paths.get(seg, ".epochs")) == Set("epoch-0"))
  }
}
