package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.graft.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ForgetParams, ForgetTable}
import graft.sources.{StateStore, Tables}

/** Bucketed persistent layout: round-trip fidelity and single-dist
  * partition pruning (one bucket directory scanned, not all).
  */
class StateStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private def tmpDir = Files.createTempDirectory("graft_state_").toString

  /** Spark jobs of an upsert: the bucket collect (deduped per
    * partition, no shuffle), then the counts and the meta write, each a
    * shuffle and its write.
    */
  private val UpsertJobs = 5

  private def fixture: ForgetTable =
    ForgetTable.fromEvents(Tables.events(spark, "/root/testdata/sf0.001"))

  /** The Spark jobs `body` launches. */
  private def jobsIn[T](body: => T): (T, Int) = Bus.jobsIn(spark.sparkContext)(body)

  /** The root paths of the plan's file scans, as local paths. */
  private def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten

  /** `dist`, `get` and `topK` on `one`, a [[StateStore.loadDist]] of
    * `name`, equal the same reads on the full in-memory table `ft`, row
    * for row.
    */
  private def assertSameReads(one: ForgetTable, ft: ForgetTable, name: String,
      params: ForgetParams): Unit = {
    def same(what: String, fromStore: DataFrame, direct: DataFrame): Unit = {
      val (got, exp) = (fromStore.collect(), direct.collect())
      assert(exp.nonEmpty && got.sameElements(exp),
        s"$name $what: ${got.take(3).mkString(" ")} vs ${exp.take(3).mkString(" ")}")
    }
    same("dist(None)", one.dist(params), ft.dist(params, Some(name)))
    same("dist(Some)", one.dist(params, Some(name)), ft.dist(params, Some(name)))
    val bins = ft.counts.filter(col("dist") === name).orderBy("bin").collect()
      .map(_.getString(1)).take(3).toSeq :+ "absent"
    same("get", one.get(name, bins, params), ft.get(name, bins, params))
    same("topK", one.topK(4, params, Some(name)), ft.topK(4, params, Some(name)))
  }

  private def bucketDirs(dir: String): Map[String, Set[(String, Long)]] = {
    val root = new Path(s"$dir/counts")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).filter(_.isDirectory).map { d =>
      d.getPath.getName -> fs.listStatus(d.getPath)
        .map(f => (f.getPath.getName, f.getModificationTime)).toSet
    }.toMap
  }

  /** The `dist_bucket` values of the partitions the plan's file scans
    * select.
    */
  private def scannedBuckets(df: DataFrame): Set[Long] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
      s.selectedPartitions.filePartitionIterator.map(_.values.getLong(0)).toSet
    }.flatten.toSet

  /** The buckets with a directory in the store's `counts`. */
  private def presentBuckets(dir: String): Set[Long] =
    bucketDirs(dir).keySet.map(_.stripPrefix("dist_bucket=").toLong)

  test("property: the driver-side bucketOf equals the bucket the writer computes") {
    import org.scalacheck.{Arbitrary, Gen, Prop, Test, rng}
    import spark.implicits._
    val nameGen = Gen.frequency(
      1 -> Gen.const(""),
      3 -> Gen.alphaNumStr,
      3 -> Gen.asciiStr,
      3 -> Arbitrary.arbitrary[String],
      2 -> Gen.listOf(Gen.oneOf("é", "ß", "Ω", "日本", "🙂", "x")).map(_.mkString))
    val ns = Seq(1, 8, 256)
    // one case = a batch of names, evaluated in ONE DataFrame; an RDD
    // source keeps the projection on the codegen path the writer uses
    val prop = Prop.forAllNoShrink(Gen.listOfN(2000, nameGen)) { names =>
      val batch = ("" +: "click" +: names).distinct
      val written = spark.sparkContext.parallelize(batch, 4).toDF("name")
        .select(col("name") +: ns.map(n =>
          pmod(xxhash64(col("name")), lit(n.toLong)).as(s"b$n")): _*)
        .collect()
      written.length == batch.size && written.forall { r =>
        val name = r.getString(0)
        ns.zipWithIndex.forall { case (n, i) =>
          StateStore.bucketOf(name, n) == r.getLong(i + 1)
        }
      }
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(1).withInitialSeed(rng.Seed(20261018L)), prop)
    assert(res.passed, res)
  }

  test("save/load round-trips counts and meta exactly") {
    val dir = tmpDir
    val ft = fixture
    StateStore.save(ft, dir, nBuckets = 8)
    val back = StateStore.load(spark, dir)
    assert(back.counts.orderBy("dist", "bin").collect()
      .sameElements(ft.counts.orderBy("dist", "bin").collect()))
    assert(back.meta.orderBy("dist").collect()
      .sameElements(ft.meta.orderBy("dist").collect()))
  }

  test("loadDist prunes to one bucket partition") {
    val dir = tmpDir
    StateStore.save(fixture, dir, nBuckets = 8)
    val (one, jobs) = jobsIn(StateStore.loadDist(spark, dir, "click"))
    // building the point read runs no Spark job (no listing, no schema
    // inference), and its scan is rooted at the dist's one bucket
    assert(jobs == 0, s"loadDist launched $jobs Spark jobs")
    val b = StateStore.bucketOf("click", 8)
    assert(scanRoots(one.counts) == Seq(s"$dir/counts/dist_bucket=$b"))
    val formatted = one.counts.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // partition filter present and only matching-bucket files selected
    assert(formatted.contains("PartitionFilters: [isnotnull(dist_bucket"), formatted)
    assert(formatted.contains("PushedFilters: [IsNotNull(dist), EqualTo(dist,click)"), formatted)
    // values: identical to filtering the in-memory table
    val expected = fixture.counts.filter(col("dist") === "click")
      .orderBy("bin").collect()
    assert(one.counts.orderBy("bin").collect().sameElements(expected))
  }

  test("loadDist of a dist whose bucket directory is absent is typed-empty and runs no job") {
    val dir = tmpDir
    StateStore.save(fixture, dir, nBuckets = 8)
    val present = bucketDirs(dir).keySet
    assert(present.nonEmpty && present.size < 8, present)
    val name = Iterator.from(0).map(i => s"absent$i")
      .find(n => !present.contains(s"dist_bucket=${StateStore.bucketOf(n, 8)}")).get
    val (ft, jobs) = jobsIn(StateStore.loadDist(spark, dir, name))
    assert(jobs == 0, s"loadDist launched $jobs Spark jobs")
    assert(ft.counts.schema.map(f => (f.name, f.dataType)) ==
      Seq(("dist", StringType), ("bin", StringType), ("count", LongType)))
    assert(ft.counts.schema == StateStore.load(spark, dir).counts.schema)
    assert(ft.counts.count() == 0 && ft.meta.count() == 0)
  }

  test("an upsert rewrites only the touched bucket; untouched bucket files stay as they were") {
    import spark.implicits._
    val dir = tmpDir
    StateStore.save(fixture, dir, nBuckets = 8)
    val before = bucketDirs(dir)
    val touched = s"dist_bucket=${StateStore.bucketOf("click", 8)}"
    assert(before.contains(touched) && before.size > 1, before.keySet)
    val snaps = Seq(("click", "1", 5L, 5L, 1706659200L))
      .toDF("dist", "bin", "count", "z", "t")
    StateStore.upsertDistributions(spark, dir, snaps)
    val after = bucketDirs(dir)
    assert(after.keySet == before.keySet)
    // same file names, same modification times: never rewritten
    for (d <- before.keySet - touched) assert(after(d) == before(d), d)
    assert(after(touched).map(_._1).intersect(before(touched).map(_._1)).isEmpty,
      "the touched bucket must be rewritten")
  }

  test("an upsert given a lazy snaps that reads the same store leaves the same store as a materialized snaps") {
    val (lazyDir, eagerDir) = (tmpDir, tmpDir)
    Seq(lazyDir, eagerDir).foreach(StateStore.save(fixture, _, nBuckets = 8))
    val names = fixture.meta.select("dist").orderBy("dist").collect()
      .map(_.getString(0)).take(2).toSeq
    // the write-back of an increment: the touched dists' stored bins,
    // each bumped, with refreshed z/t — read from the store it replaces
    def snaps(dir: String): DataFrame = {
      val ft = StateStore.load(spark, dir)
      ft.counts.filter(col("dist").isin(names: _*))
        .join(ft.meta.select("dist", "z", "t"), "dist")
        .select(col("dist"), col("bin"), (col("count") + 1).as("count"),
          (col("z") + 1).as("z"), (col("t") + 60).as("t"))
    }
    StateStore.upsertDistributions(spark, lazyDir, snaps(lazyDir))
    StateStore.upsertDistributions(spark, eagerDir,
      snaps(eagerDir).localCheckpoint(true))
    def state(dir: String) = {
      val ft = StateStore.load(spark, dir)
      (ft.counts.collect().toSet, ft.meta.collect().toSet)
    }
    val (counts, meta) = state(lazyDir)
    assert((counts, meta) == state(eagerDir))
    val before = fixture.counts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts.size == before.size && counts.forall { r =>
      val old = before((r.getString(0), r.getString(1)))
      r.getLong(2) == (if (names.contains(r.getString(0))) old + 1 else old)
    })
  }

  test("a filter naming distributions over a loaded store scans only their buckets") {
    val dir = tmpDir
    val ft = fixture
    StateStore.save(ft, dir, nBuckets = 8)
    val present = presentBuckets(dir)
    val names = ft.meta.select("dist").orderBy("dist").collect().map(_.getString(0)).toSeq
    def check(what: String, cond: org.apache.spark.sql.Column, buckets: Set[Long]): Unit = {
      val df = StateStore.load(spark, dir).counts.filter(cond)
      assert(scannedBuckets(df) == buckets, s"$what: ${df.queryExecution.sparkPlan}")
      assert(df.collect().toSet == ft.counts.filter(cond).collect().toSet, what)
    }
    def bucketsOf(ns: Seq[String]) = ns.map(StateStore.bucketOf(_, 8)).toSet
    check("===", col("dist") === names.head, bucketsOf(names.take(1)))
    check("isin", col("dist").isin(names.take(2): _*), bucketsOf(names.take(2)))
    // more than 10 values: the optimizer turns the IN into an InSet
    val many = names ++ (0 until 8).map(i => s"absent$i")
    check("isin > 10", col("dist").isin(many: _*), bucketsOf(many) intersect present)
    check("isin and a bin test", col("dist").isin(names.take(2): _*) && col("bin") === "1",
      bucketsOf(names.take(2)))
    // nothing to prune by
    check("non-literal", col("dist") === col("bin"), present)
    check("or another column", col("dist") === names.head || col("bin") === "1", present)
    val all = StateStore.load(spark, dir).counts
    assert(scannedBuckets(all) == present)
    assert(all.collect().toSet == ft.counts.collect().toSet)
  }

  test("the bucket-pruning rule adds its predicate once and leaves loadDist's own filter alone") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, In, InSet}
    val dir = tmpDir
    StateStore.save(fixture, dir, nBuckets = 8)
    def bucketTests(df: DataFrame): Seq[Expression] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case e @ In(a, _) if a.references.exists(_.name == "dist_bucket") => e
        case e @ InSet(a, _) if a.references.exists(_.name == "dist_bucket") => e
      }))
    val pruned = StateStore.load(spark, dir).counts.filter(col("dist").isin("click", "view"))
    assert(bucketTests(pruned).size == 1, pruned.queryExecution.optimizedPlan)
    val plan = pruned.queryExecution.optimizedPlan
    assert(graft.plans.StoreBucketPruning(plan).fastEquals(plan))
    val one = StateStore.loadDist(spark, dir, "click")
    assert(bucketTests(one.counts).isEmpty, one.counts.queryExecution.optimizedPlan)
    val onePlan = one.counts.queryExecution.optimizedPlan
    assert(graft.plans.StoreBucketPruning(onePlan).fastEquals(onePlan))
  }

  test("a store records its bucket count: an upsert after a save at 8 buckets replaces the dist in its bucket") {
    import spark.implicits._
    val dir = tmpDir
    // a name whose bucket at 8 differs from its bucket at the default
    val name = Iterator.from(0).map(i => s"d$i").find(n =>
      StateStore.bucketOf(n, 8) != StateStore.bucketOf(n, StateStore.DefaultBuckets)).get
    StateStore.save(new ForgetTable(
      Seq((name, "x", 5L), (name, "y", 3L)).toDF("dist", "bin", "count"),
      Seq((name, 8L, 1706659200L, 0.25)).toDF("dist", "z", "t", "rate")), dir, nBuckets = 8)
    StateStore.upsertDistributions(spark, dir,
      Seq((name, "x", 6L, 9L, 1706659260L), (name, "y", 3L, 9L, 1706659260L))
        .toDF("dist", "bin", "count", "z", "t"))
    val stored = StateStore.load(spark, dir).counts.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(stored.sorted == Seq((name, "x", 6L), (name, "y", 3L)), stored)
    assert(presentBuckets(dir) == Set(StateStore.bucketOf(name, 8)))
    val one = StateStore.loadDist(spark, dir, name)
    assert(one.counts.collect().map(r => (r.getString(1), r.getLong(2))).toSeq.sorted ==
      Seq(("x", 6L), ("y", 3L)))
    assert(one.meta.collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq ==
      Seq((9L, 1706659260L, 0.25)))
  }

  test("a store with data but no bucket-count record fails every entry point, naming the record") {
    import spark.implicits._
    val dir = tmpDir
    StateStore.save(fixture, dir, nBuckets = 8)
    val rec = new Path(s"$dir/_buckets")
    val fs = rec.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(rec, false))
    val snaps = Seq(("click", "1", 5L, 5L, 1706659200L)).toDF("dist", "bin", "count", "z", "t")
    val params = ForgetParams(rate = 0.001, nowEpoch = 1706659200L)
    Seq[(String, () => Any)](
      "load" -> (() => StateStore.load(spark, dir)),
      "loadDist" -> (() => StateStore.loadDist(spark, dir, "click")),
      "upsert" -> (() => StateStore.upsertDistributions(spark, dir, snaps)),
      "compact" -> (() => StateStore.compact(spark, dir, params))).foreach { case (what, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(rec.toUri.getPath), s"$what: ${e.getMessage}")
    }
  }

  test("an upsert into an empty directory creates a store with the default bucket count") {
    import spark.implicits._
    val dir = tmpDir
    StateStore.upsertDistributions(spark, dir,
      Seq(("d1", "b1", 5L, 5L, 1706659200L)).toDF("dist", "bin", "count", "z", "t"))
    val rec = new Path(s"$dir/_buckets")
    val in = rec.getFileSystem(spark.sparkContext.hadoopConfiguration).open(rec)
    val n = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
    assert(n == StateStore.DefaultBuckets.toString)
    assert(presentBuckets(dir) == Set(StateStore.bucketOf("d1", StateStore.DefaultBuckets)))
    assert(StateStore.loadDist(spark, dir, "d1").counts.collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq == Seq(("b1", 5L)))
  }

  test("an upsert plans one shuffle per table") {
    import spark.implicits._
    val dir = tmpDir
    StateStore.save(fixture, dir, nBuckets = 8)
    val snaps = Seq(("click", "1", 5L, 5L, 1706659200L), ("newdist", "x", 3L, 3L, 1706659200L))
      .toDF("dist", "bin", "count", "z", "t").localCheckpoint(true)
    val (_, jobs) = jobsIn(StateStore.upsertDistributions(spark, dir, snaps))
    assert(jobs == UpsertJobs, s"the upsert ran $jobs jobs")
  }

  test("single-dist query over the store matches the unpartitioned path") {
    val dir = tmpDir
    val ft = fixture
    StateStore.save(ft, dir, nBuckets = 8)
    val params = ForgetParams(rate = 0.002, nowEpoch = 1706659200L)
    val names = ft.meta.select("dist").orderBy("dist").collect().map(_.getString(0))
    assert(names.length == 5, names.toSeq)
    for (name <- names)
      assertSameReads(StateStore.loadDist(spark, dir, name), ft, name, params)
  }

  test("point reads on a saved store: get runs at most 3 jobs, topK and dist at most 2") {
    val dir = tmpDir
    StateStore.save(fixture, dir, nBuckets = 8)
    val params = ForgetParams(rate = 0.002, nowEpoch = 1706659200L)
    def read(body: ForgetTable => DataFrame): Int =
      jobsIn(body(StateStore.loadDist(spark, dir, "click")).collect())._2
    // the jobs are the broadcasts of the join inputs and the collect:
    // no exchange, no self-join of a per-dist aggregate
    val get = read(_.get("click", Seq("1", "3", "absent"), params))
    val topK = read(_.topK(10, params, Some("click")))
    val dist = read(_.dist(params, Some("click")))
    assert(get <= 3 && topK <= 2 && dist <= 2, s"get $get, topK $topK, dist $dist jobs")
  }

  test("a bucket bigger than one split keeps its parallel scan and reads the same rows") {
    val dir = tmpDir
    val ft = fixture
    StateStore.save(ft, dir, nBuckets = 8)
    val params = ForgetParams(rate = 0.002, nowEpoch = 1706659200L)
    def coalesced(df: DataFrame): Boolean =
      df.queryExecution.sparkPlan.exists(_.isInstanceOf[CoalesceExec])
    // at the default split size the bucket is one split: single-partition
    assert(coalesced(StateStore.loadDist(spark, dir, "click").counts))
    val bucket = new Path(s"$dir/counts/dist_bucket=${StateStore.bucketOf("click", 8)}")
    val fs = bucket.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(bucket).map(_.getLen).sum
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, (bytes / 4).toString)
    try {
      val one = StateStore.loadDist(spark, dir, "click")
      assert(!coalesced(one.counts), one.counts.queryExecution.sparkPlan)
      assert(one.counts.rdd.getNumPartitions > 1)
      assertSameReads(one, ft, "click", params)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("compact drops expired distributions (persistent Redis-EXPIRE analog)") {
    val dir = tmpDir
    val ft = fixture
    StateStore.save(ft, dir, nBuckets = 8)
    // rate 0.001 at sf0.001: 2 of the 5 dists outlive their TTL
    val params = ForgetParams(rate = 0.001, nowEpoch = 1706659200L)
    val expectedAlive = ft.alive(params).collect().map(_.getString(0)).toSet
    val allDists = ft.meta.select("dist").collect().map(_.getString(0)).toSet
    assert(expectedAlive.nonEmpty && expectedAlive != allDists,
      s"fixture must have both alive and expired dists: $expectedAlive of $allDists")
    val nAlive = StateStore.compact(spark, dir, params)
    assert(nAlive == expectedAlive.size)
    val back = StateStore.load(spark, dir)
    assert(back.meta.select("dist").collect().map(_.getString(0)).toSet == expectedAlive)
    assert(back.counts.select("dist").distinct()
      .collect().map(_.getString(0)).toSet == expectedAlive)
    // surviving rows are untouched (compact only deletes, never rewrites values)
    val kept = expectedAlive.head
    assert(back.counts.filter(col("dist") === kept).orderBy("bin").collect()
      .sameElements(ft.counts.filter(col("dist") === kept).orderBy("bin").collect()))
  }

  test("a compact that expires EVERY dist leaves a loadable typed-empty store that still accepts upserts") {
    // an empty partitioned parquet write leaves no part directories, so
    // schema inference has nothing to read — the all-expired store is
    // legal state (sf0.001 hit this: rate 0.006 expires all 5 dists)
    // and every read path must type it instead of throwing
    val dir = tmpDir
    StateStore.save(fixture, dir, nBuckets = 8)
    val nAlive = StateStore.compact(spark, dir,
      ForgetParams(rate = 100.0, nowEpoch = 1706659200L))
    assert(nAlive == 0, s"$nAlive dists survived a TTL meant to expire all")
    val back = StateStore.load(spark, dir)
    assert(back.counts.count() == 0 && back.meta.count() == 0)
    assert(StateStore.loadDist(spark, dir, "click").counts.count() == 0)
    // the empty store is a working store: an upsert repopulates it
    import spark.implicits._
    val snaps = Seq(("d1", "b1", 5L, 5L, 1706659200L))
      .toDF("dist", "bin", "count", "z", "t")
    StateStore.upsertDistributions(spark, dir, snaps)
    val re = StateStore.load(spark, dir)
    assert(re.counts.count() == 1 && re.meta.count() == 1)
    assert(re.meta.head().getAs[Double]("rate") == 0.5) // reference default
  }

  test("warm restart: stream resumes from store-loaded initial state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{BinSnapshot, ForgetStream, FtRequest}
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir
    val T0 = 1706659200L
    val ft = fixture
    StateStore.save(ft, dir, nBuckets = 8)
    val restored = StateStore.load(spark, dir)
    val clickBefore = ft.counts.filter(col("dist") === "click")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap

    val mem = MemoryStream[FtRequest]
    val out = ForgetStream.requests(mem.toDS(), ForgetStream.Params(rate = 0.0),
      clock = () => T0, withExpiry = false,
      initial = Some(ForgetStream.initialStateFrom(restored.counts, restored.meta)))
    val q = out.writeStream.outputMode(
        org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("warm_restart").start()
    try {
      mem.addData(FtRequest.incr("click", "1", 5L, T0))
      q.processAllAvailable()
      val got = spark.table("warm_restart").as[BinSnapshot].collect()
        .map(r => r.bin -> r.count).toMap
      // the store's full click distribution came back as state: bin "1"
      // merged on top of its stored count, every other stored bin intact
      assert(got == clickBefore.updated("1", clickBefore.getOrElse("1", 0L) + 5L))
      assert(got.size == clickBefore.size || !clickBefore.contains("1"))
    } finally q.stop()
  }

  test("warm restart at a non-zero rate: the stream's read-repair equals the batch Sampled compaction") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.core.DecayMode
    import graft.streaming.{BinSnapshot, ForgetStream, FtRequest}
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir
    StateStore.save(fixture, dir, nBuckets = 8)
    val restored = StateStore.load(spark, dir)
    val last = restored.meta.orderBy(col("t").desc, col("dist")).head()
    val (name, now) = (last.getString(0), last.getLong(2) + 1000L)
    // lambda = 0.5 over the dist's 1000 s: each bin's draw, and so its
    // count, turns on its own seed
    val rate = 0.0005
    val batch = StateStore.load(spark, dir)
      .compacted(ForgetParams(rate = rate, nowEpoch = now, mode = DecayMode.Sampled))
      .counts.filter(col("dist") === name)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val stored = restored.counts.filter(col("dist") === name)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(batch != stored, "the decay changed no bin; the test cannot see the seed")

    val mem = MemoryStream[FtRequest]
    val out = ForgetStream.requests(mem.toDS(), ForgetStream.Params(rate = rate),
      clock = () => now, withExpiry = false,
      initial = Some(ForgetStream.initialStateFrom(restored.counts, restored.meta)))
    val q = out.writeStream.outputMode(
        org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("warm_restart_decay").start()
    try {
      mem.addData(FtRequest.dist(name, now))
      q.processAllAvailable()
      val got = spark.table("warm_restart_decay").as[BinSnapshot].collect()
        .map(r => r.bin -> r.count).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming write-back: micro-batches replace whole distributions in the store") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{ForgetStream, FtRequest}
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir
    val T0 = 1706659200L
    StateStore.save(fixture, dir, nBuckets = 8)
    val beforeView = StateStore.load(spark, dir).counts
      .filter(col("dist") === "view").orderBy("bin").collect()

    val mem = MemoryStream[FtRequest]
    val out = ForgetStream.requests(mem.toDS(), ForgetStream.Params(rate = 0.0),
      clock = () => T0, withExpiry = false)
    val q = StateStore.streamInto(out, dir,
      Files.createTempDirectory("graft_wb_ckpt_").toString)
    try {
      // batch 1: the stream takes ownership of "click" (replacing the
      // batch-written rows — the stream's state IS the dist now) and
      // creates a brand-new distribution
      mem.addData(FtRequest.incr("click", "1", 5L, T0), FtRequest.incr("newdist", "x", 3L, T0))
      q.processAllAvailable()
      val after1 = StateStore.load(spark, dir)
      assert(after1.counts.filter(col("dist") === "click")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap == Map("1" -> 5L))
      assert(after1.counts.filter(col("dist") === "newdist")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap == Map("x" -> 3L))
      // untouched dist in an untouched-or-rewritten bucket survives intact
      assert(after1.counts.filter(col("dist") === "view").orderBy("bin")
        .collect().sameElements(beforeView))
      // meta: new z/t from the stream, rate preserved / defaulted
      val meta1 = after1.meta.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
      assert(meta1("click") == (5L, 0.5))
      assert(meta1("newdist") == (3L, 0.5))

      // batch 2: stream state carries bin 1 forward; store shows the FULL
      // surviving set after the second micro-batch
      mem.addData(FtRequest.incr("click", "2", 1L, T0))
      q.processAllAvailable()
      val after2 = StateStore.load(spark, dir)
      assert(after2.counts.filter(col("dist") === "click")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap ==
        Map("1" -> 5L, "2" -> 1L))
    } finally q.stop()
  }
}
