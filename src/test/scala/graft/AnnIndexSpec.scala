package graft

import java.nio.file.Files

import org.apache.spark.graft.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}
import graft.sources.{AnnIndex, Publish}

/** The persisted ANN index: a probe served FROM the stored layout must
  * return exactly what the session-computed path returns, while reading
  * only the probed partition directories.
  */
class AnnIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private val Dim = 64
  private val NBits = 6
  private val K = 5

  /** Deterministic 64-dim vector expression over an id column. */
  private def vExpr(id: org.apache.spark.sql.Column) =
    transform(sequence(lit(1), lit(Dim)),
      j => (pmod(id * lit(31) + j * lit(17), lit(100)) - lit(50)).cast("double") / lit(50.0))

  /** n deterministic 64-dim vectors (values in [-1, 1)). */
  private def synthVecs(n: Int): DataFrame =
    spark.range(n.toLong).select(col("id").as("vec_id"), vExpr(col("id")).as("v"))

  private def queriesOf(vecs: DataFrame): DataFrame =
    vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))

  /** Session-computed reference: bucket both sides in memory, join, rank. */
  private def sessionLsh(vecs: DataFrame, masks: Seq[Long]): Set[(Long, Long, Long)] = {
    val signs = Similarity.signMatrix(NBits, Dim)
    val bucketed = vecs.withColumn("bucket", Similarity.lshBucket(col("v"), signs))
    val q = queriesOf(vecs)
      .withColumn("bucket", Similarity.lshBucket(col("q_v"), signs))
      .select(col("q_id"), col("q_v"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val scored = q.join(
        bucketed.select(col("vec_id").as("c_id"), col("v").as("c_v"), col("bucket")),
        Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K).select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("LSH: stored-index probe == session-computed result (identity probe)") {
    val vecs = synthVecs(400)
    val dir = Files.createTempDirectory("graft_annidx_").toString
    AnnIndex.saveLsh(vecs, NBits, Dim, dir)
    val got = AnnIndex.probeLsh(spark, dir, queriesOf(vecs), K)
      .select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == sessionLsh(vecs, Seq(0L)))
    assert(got.nonEmpty)
  }

  test("LSH: multi-probe masks widen the candidate set identically") {
    val vecs = synthVecs(400)
    val dir = Files.createTempDirectory("graft_annidx_").toString
    AnnIndex.saveLsh(vecs, NBits, Dim, dir)
    val masks = 0L +: (0 until NBits).map(i => 1L << i)
    val got = AnnIndex.probeLsh(spark, dir, queriesOf(vecs), K, masks)
      .select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == sessionLsh(vecs, masks))
  }

  test("LSH: probe scan is partition-pruned to the probed buckets") {
    val vecs = synthVecs(400)
    val dir = Files.createTempDirectory("graft_annidx_").toString
    AnnIndex.saveLsh(vecs, NBits, Dim, dir)
    val s = AnnIndex.probeLsh(spark, dir, queriesOf(vecs), K)
      .queryExecution.executedPlan.toString
    assert(s.contains("PartitionFilters: [part"), s.take(4000))
  }

  test("LSH upsert: incremental build converges to the full rebuild") {
    val all = synthVecs(400)
    val dir = Files.createTempDirectory("graft_annidx_ups_").toString
    // build on the first 300, upsert the remaining 100
    AnnIndex.saveLsh(all.filter(col("vec_id") < 300), NBits, Dim, dir)
    AnnIndex.upsertLsh(spark, dir, all.filter(col("vec_id") >= 300))
    val got = AnnIndex.probeLsh(spark, dir, queriesOf(all), K)
      .select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == sessionLsh(all, Seq(0L)))
    // index holds each vec_id exactly once
    val ids = AnnIndex.lshCorpus(spark, dir).groupBy("vec_id")
      .count().filter(col("count") > 1).count()
    assert(ids == 0L)
  }

  test("LSH upsert: re-inserted vec_id takes the new vector, old row gone") {
    val all = synthVecs(200)
    val dir = Files.createTempDirectory("graft_annidx_ups2_").toString
    AnnIndex.saveLsh(all, NBits, Dim, dir)
    // replace vec 7 with a completely different vector (vec 150's data)
    val replacement = all.filter(col("vec_id") === 150)
      .select(lit(7L).as("vec_id"), col("v"))
    AnnIndex.upsertLsh(spark, dir, replacement)
    val corpus = AnnIndex.lshCorpus(spark, dir)
    assert(corpus.filter(col("vec_id") === 7).count() == 1L)
    val v7 = corpus.filter(col("vec_id") === 7).select("v")
      .collect().head.getSeq[Double](0)
    val v150 = corpus.filter(col("vec_id") === 150).select("v")
      .collect().head.getSeq[Double](0)
    assert(v7 == v150)
    assert(corpus.count() == 200L)
  }

  test("LSH upsert: a directory emptied by a moved vector is dropped") {
    val one = synthVecs(1)
    val dir = Files.createTempDirectory("graft_annidx_ups3_").toString
    AnnIndex.saveLsh(one, NBits, Dim, dir)
    // negating the vector flips every hyperplane projection sign =>
    // a different bucket, so the old (now empty) directory must go
    val moved = one.select(col("vec_id"),
      transform(col("v"), x => -x).as("v"))
    AnnIndex.upsertLsh(spark, dir, moved)
    val corpus = AnnIndex.lshCorpus(spark, dir).collect()
    assert(corpus.length == 1)
    assert(corpus.head.getAs[Long]("vec_id") == 0L)
  }

  test("LSH upsert: streaming foreachBatch maintenance converges to the batch build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = synthVecs(300)
    val dir = Files.createTempDirectory("graft_annidx_stream_").toString
    AnnIndex.saveLsh(all.filter(col("vec_id") < 100), NBits, Dim, dir)
    // new vectors arrive as a stream; each micro-batch upserts the index
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val stream = mem.toDF().toDF("vec_id")
      .select(col("vec_id"), vExpr(col("vec_id")).as("v"))
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        AnnIndex.upsertLsh(spark, dir, batch)
      }.start()
    try {
      mem.addData(100L until 200L: _*)
      q.processAllAvailable()
      mem.addData(200L until 300L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = AnnIndex.probeLsh(spark, dir, queriesOf(all), K)
      .select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == sessionLsh(all, Seq(0L)))
    assert(AnnIndex.lshCorpus(spark, dir).count() == 300L)
  }

  test("LSH delete: add→retract converges to the build WITHOUT the retracted vectors; probes stop seeing them") {
    import spark.implicits._
    val all = synthVecs(300)
    val delDir = Files.createTempDirectory("graft_lshdel_").toString
    val refDir = Files.createTempDirectory("graft_lshdel_").toString
    AnnIndex.saveLsh(all, NBits, Dim, delDir)
    AnnIndex.deleteLsh(spark, delDir,
      all.filter(col("vec_id") % 3 === 1).select("vec_id"))
    AnnIndex.saveLsh(all.filter(col("vec_id") % 3 =!= 1), NBits, Dim, refDir)
    def rows(dir: String) = AnnIndex.lshCorpus(spark, dir)
      .select(col("vec_id"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(delDir) == rows(refDir))
    assert(rows(delDir).size == 200)
    // no probe result may name a retracted id
    val got = AnnIndex.probeLsh(spark, delDir, queriesOf(all), K)
      .select("c_id").collect().map(_.getLong(0))
    assert(got.nonEmpty && got.forall(_ % 3 != 1))
    // unknown ids are a no-op
    AnnIndex.deleteLsh(spark, delDir, Seq(987654L).toDF("vec_id"))
    assert(rows(delDir).size == 200)
  }

  test("LSH streaming takedown: upserts and deletes interleave on ONE stream; converges to the build-without") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = synthVecs(300)
    val dir = Files.createTempDirectory("graft_lshstream_del_").toString
    AnnIndex.saveLsh(all.filter(col("vec_id") < 100), NBits, Dim, dir)
    // signed maintenance records on one stream (the production shape:
    // a takedown arrives like any other record): op = +1 upsert,
    // -1 delete; each micro-batch applies upserts then deletes, so an
    // id added and retracted in the SAME batch ends up absent
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Int)]
    val stream = mem.toDF().toDF("vec_id", "op")
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.localCheckpoint(true) // split into two passes
        AnnIndex.upsertLsh(spark, dir, b.filter(col("op") > 0)
          .select(col("vec_id"), vExpr(col("vec_id")).as("v")))
        AnnIndex.deleteLsh(spark, dir,
          b.filter(col("op") < 0).select("vec_id"))
      }.start()
    try {
      mem.addData((100L until 200L).map(_ -> 1): _*)
      q.processAllAvailable()
      // takedowns hit bulk-loaded AND stream-upserted ids
      mem.addData((0L until 200L).filter(_ % 5 == 2).map(_ -> -1): _*)
      q.processAllAvailable()
      // mixed batch: new arrivals plus takedowns of ids arriving in it
      mem.addData((200L until 300L).map(_ -> 1) ++
        (250L until 300L).filter(_ % 9 == 0).map(_ -> -1): _*)
      q.processAllAvailable()
    } finally q.stop()
    val keepIds = (0L until 300L).filter(id =>
      !(id < 200 && id % 5 == 2) && !(id >= 250 && id % 9 == 0))
    val refDir = Files.createTempDirectory("graft_lshstream_ref_").toString
    AnnIndex.saveLsh(all.filter(col("vec_id").isin(keepIds: _*)),
      NBits, Dim, refDir)
    def rows(d: String) = AnnIndex.lshCorpus(spark, d)
      .select(col("vec_id"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(dir) == rows(refDir) && rows(dir).size == keepIds.size)
  }

  test("re-delivery idempotence: a repeated upsert batch is a no-op on both store classes") {
    import spark.implicits._
    // key-replace (LSH): anti-join + union makes the repeat identical
    val all = synthVecs(200)
    val lshDir = Files.createTempDirectory("graft_lshredel_").toString
    AnnIndex.saveLsh(all.filter(col("vec_id") < 100), NBits, Dim, lshDir)
    val lshBatch = all.filter(col("vec_id") >= 100)
    AnnIndex.upsertLsh(spark, lshDir, lshBatch)
    val once = AnnIndex.lshCorpus(spark, lshDir)
      .select("vec_id", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    AnnIndex.upsertLsh(spark, lshDir, lshBatch) // foreachBatch re-delivery
    val twice = AnnIndex.lshCorpus(spark, lshDir)
      .select("vec_id", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(twice == once, "key-replace upsert re-delivery changed the index")
    // additive postings (phash): already-present doc_ids must be
    // dropped, or the repeat double-posts every row
    def media(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(256)(b => ((b * 7 + i * 13) % 251).toByte))
    }.toDF("doc_id", "payload")
    val phDir = Files.createTempDirectory("graft_phredel_").toString
    AnnIndex.trainPhash(spark, phDir,
      graft.operators.Multimodal.phashPatches(40L))
    AnnIndex.upsertPhash(spark, phDir, media(0L until 25L))
    val batch = media(25L until 40L)
    AnnIndex.upsertPhash(spark, phDir, batch)
    val n1 = spark.read.parquet(s"$phDir/postings").count()
    AnnIndex.upsertPhash(spark, phDir, batch) // re-delivery
    val n2 = spark.read.parquet(s"$phDir/postings").count()
    assert(n2 == n1, s"posting store double-posted a re-delivered batch: $n1 -> $n2")
    // a genuinely new doc still lands
    AnnIndex.upsertPhash(spark, phDir, media(Seq(500L)))
    assert(spark.read.parquet(s"$phDir/postings").count() > n2)
  }

  test("pHash delete: postings after retraction equal a bulk load of the corpus-without at the frozen width") {
    import spark.implicits._
    def media(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(256)(b => ((b * 7 + i * 13) % 251).toByte))
    }.toDF("doc_id", "payload")
    val ids = 0L until 60L
    val delDir = Files.createTempDirectory("graft_phdel_").toString
    val refDir = Files.createTempDirectory("graft_phdel_").toString
    val nPatch = graft.operators.Multimodal.phashPatches(ids.size.toLong)
    AnnIndex.trainPhash(spark, delDir, nPatch)
    AnnIndex.trainPhash(spark, refDir, nPatch) // SAME frozen width
    AnnIndex.upsertPhash(spark, delDir, media(ids))
    AnnIndex.deletePhash(spark, delDir,
      ids.filter(_ % 4 == 2).toDF("doc_id"))
    AnnIndex.upsertPhash(spark, refDir, media(ids.filterNot(_ % 4 == 2)))
    def postings(dir: String) = spark.read.parquet(s"$dir/postings")
      .select(col("doc_id"), col("band"), col("key"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(postings(delDir) == postings(refDir))
    assert(postings(delDir).nonEmpty)
    // the takedown's point: a RE-UPLOAD of a retracted payload (same
    // bytes, new id) no longer matches anything — its only twin's
    // postings are gone...
    def reupload(srcIds: Seq[Long]) = srcIds.map { i =>
      (i + 100000L, Array.tabulate(256)(b => ((b * 7 + i * 13) % 251).toByte))
    }.toDF("doc_id", "payload")
    // (unrelated hash collisions at the frozen width may legitimately
    // pair — the contract is about the ORIGINAL: that exact pair must
    // be gone for retracted sources, present for surviving ones)
    def pairsOf(srcIds: Seq[Long]) =
      AnnIndex.probePhash(spark, delDir, reupload(srcIds), hammingMax = 0)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val retractedSrc = ids.filter(_ % 4 == 2)
    val reRetracted = pairsOf(retractedSrc)
    retractedSrc.foreach { i =>
      assert(!reRetracted.contains((i, i + 100000L)),
        s"re-upload of retracted $i still matches its deleted original")
    }
    // ...while a re-upload of a SURVIVING payload still pairs with its
    // stored original (the probe path itself is alive — the absence
    // above is the takedown, not a broken probe)
    val survivorSrc = ids.filter(_ % 4 == 0).take(3)
    val reSurvivor = pairsOf(survivorSrc)
    survivorSrc.foreach { i =>
      assert(reSurvivor.contains((i, i + 100000L)),
        s"surviving original $i no longer pairs with its re-upload")
    }
  }

  /** A maintained index under a duplicate-key upsert: `build` writes it
    * into a fresh directory, `upsert` lands a batch into it.
    */
  private case class DupKeyLayout(name: String, build: String => Unit,
      batch: () => DataFrame, upsert: (String, DataFrame) => Unit)

  /** Every file under `dir` (its tables' hidden transaction directories
    * included), by relative path, with its bytes.
    */
  private def fileBytes(dir: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  /** 51 vectors (ids 100..149) with id 120 twice. */
  private def dupVecBatch(): DataFrame = synthVecs(150).filter(col("vec_id") >= 100)
    .unionByName(synthVecs(150).filter(col("vec_id") === 120))

  private val dupKeyLayouts: Seq[DupKeyLayout] = {
    def vecs = synthVecs(100)
    def docs = spark.range(30).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta epsilon zeta eta theta iota kappa doc"),
        col("id").cast("string")).as("text"))
    def ivf(d: String) = AnnIndex.saveIvf(vecs, k = 8, sampleSize = 128,
      iters = 2, dim = Dim, salt = 7, dir = d)
    def pq(d: String) = AnnIndex.savePq(vecs, m = 4, sub = 16, k = 8,
      sampleSize = 128, iters = 2, salt = 11, dir = d)
    def ivfPq(d: String) = AnnIndex.saveIvfPq(vecs, ivfK = 8, sampleSize = 128,
      iters = 2, dim = Dim, ivfSalt = 7, m = 4, sub = 16, pqK = 8, pqSalt = 11,
      dir = d)
    Seq(
      DupKeyLayout("LSH", AnnIndex.saveLsh(vecs, NBits, Dim, _), dupVecBatch,
        AnnIndex.upsertLsh(spark, _, _)),
      DupKeyLayout("IVF", ivf, dupVecBatch, AnnIndex.upsertIvf(spark, _, _)),
      DupKeyLayout("PQ", pq, dupVecBatch, AnnIndex.upsertPq(spark, _, _)),
      DupKeyLayout("IVF+PQ", ivfPq, dupVecBatch, AnnIndex.upsertIvfPq(spark, _, _)),
      DupKeyLayout("MinHash", AnnIndex.saveMinhash(docs, 16, 4, 4, _),
        () => docs.filter(col("doc_id") >= 20)
          .unionByName(docs.filter(col("doc_id") === 25)),
        AnnIndex.upsertMinhash(spark, _, _)),
      DupKeyLayout("IVF policy", ivf, dupVecBatch, (d, b) =>
        AnnIndex.upsertIvfWithPolicy(spark, d, b, 8, 128, 2, Dim, 7, -1.0)),
      DupKeyLayout("PQ policy", pq, dupVecBatch, (d, b) =>
        AnnIndex.upsertPqWithPolicy(spark, d, vecs, b, 128, 2, 11, -1.0)),
      DupKeyLayout("IVF+PQ policy", ivfPq, dupVecBatch, (d, b) =>
        AnnIndex.upsertIvfPqWithPolicy(spark, d, vecs, b, 8, 128, 2, Dim, 7, 11,
          -1.0)))
  }

  /** The anti-join merge removes STORED rows only, so a within-batch
    * dupe would break the "each key exactly once" invariant silently:
    * the upsert must throw, and before it touches a byte of the store.
    */
  private def assertDupBatchRejected(layout: DupKeyLayout): Unit = {
    val dir = Files.createTempDirectory("graft_dupidx_").toString
    layout.build(dir)
    val before = fileBytes(dir)
    assertThrows[IllegalArgumentException] {
      layout.upsert(dir, layout.batch())
    }
    val after = fileBytes(dir)
    val changed = (after.keySet ++ before.keySet).filter(k => after.get(k) != before.get(k))
    assert(changed.isEmpty, s"${layout.name}: the rejected batch changed $changed")
  }

  test("LSH upsert: a batch with duplicate vec_ids is rejected") {
    assertDupBatchRejected(dupKeyLayouts.head)
  }

  test("every other upsert and quantizer policy arm rejects a duplicate-key batch and leaves the store byte-identical") {
    dupKeyLayouts.tail.foreach(assertDupBatchRejected)
  }

  /** Spark jobs of one upsert of 120 vectors (20 of them re-inserted
    * ids) into a 300-vector index, for a content-derived partition (LSH
    * bucket) and an id-derived one (PQ `pmod(vec_id, parts)`). Shared:
    * the stage's checkpoint (1), its key check (2), the stored table's
    * schema read (1), the touched-partition collect (2; 3 for LSH,
    * whose collect also runs the locate scan) and the publish's write
    * (3). LSH adds its meta read (1) and its empty-batch probe (1); PQ
    * its meta and codebook reads (2). Those small tables are read with
    * the schema in their footer, so neither runs a schema-inference job.
    */
  private val LshUpsertJobs = 12
  private val PqUpsertJobs = 11

  test("upsert job counts: LSH and PQ") {
    val all = synthVecs(400)
    val batch = all.filter(col("vec_id") >= 280)
    val lshDir = Files.createTempDirectory("graft_lshjobs_").toString
    AnnIndex.saveLsh(all.filter(col("vec_id") < 300), NBits, Dim, lshDir)
    val (_, lshJobs) = Bus.jobsIn(spark.sparkContext)(
      AnnIndex.upsertLsh(spark, lshDir, batch))
    val pqDir = Files.createTempDirectory("graft_pqjobs_").toString
    AnnIndex.savePq(all.filter(col("vec_id") < 300), m = 4, sub = 16, k = 8,
      sampleSize = 128, iters = 2, salt = 11, dir = pqDir)
    val (_, pqJobs) = Bus.jobsIn(spark.sparkContext)(
      AnnIndex.upsertPq(spark, pqDir, batch))
    assert((lshJobs, pqJobs) == (LshUpsertJobs, PqUpsertJobs))
    assert(AnnIndex.lshCorpus(spark, lshDir).count() == 400L)
    assert(spark.read.parquet(s"$pqDir/codes").count() == 400L)
  }

  /** Spark jobs of one quantizer policy call with the batch dial at its
    * default `-∞`, where it can never trip and its gauge is skipped; the
    * store dial is due (`checkEvery = 1`) and does not trip. Same
    * 120-vector batch into a 300-vector index as the upsert counts.
    */
  private val PolicyUpsertJobs = Map("IVF" -> 15, "PQ" -> 17, "IVF+PQ" -> 21)

  test("policy upsert job counts at the default batch dial: IVF, PQ and IVF+PQ") {
    val all = synthVecs(400)
    val batch = all.filter(col("vec_id") >= 280)
    val base = all.filter(col("vec_id") < 300)
    def jobs(save: String => Unit, upsert: String => Boolean): Int = {
      val dir = Files.createTempDirectory("graft_policyjobs_").toString
      save(dir)
      val (retrained, n) = Bus.jobsIn(spark.sparkContext)(upsert(dir))
      assert(!retrained)
      n
    }
    val counts = Map(
      "IVF" -> jobs(d => AnnIndex.saveIvf(base, k = 8, sampleSize = 128, iters = 2,
          dim = Dim, salt = 7, dir = d),
        AnnIndex.upsertIvfWithPolicy(spark, _, batch, 8, 128, 2, Dim, 7, -1.0)),
      "PQ" -> jobs(d => AnnIndex.savePq(base, m = 4, sub = 16, k = 8, sampleSize = 128,
          iters = 2, salt = 11, dir = d),
        AnnIndex.upsertPqWithPolicy(spark, _, all, batch, 128, 2, 11, -1.0)),
      "IVF+PQ" -> jobs(d => AnnIndex.saveIvfPq(base, ivfK = 8, sampleSize = 128,
          iters = 2, dim = Dim, ivfSalt = 7, m = 4, sub = 16, pqK = 8, pqSalt = 11,
          dir = d),
        AnnIndex.upsertIvfPqWithPolicy(spark, _, all, batch, 8, 128, 2, Dim, 7, 11,
          -1.0)))
    assert(counts == PolicyUpsertJobs)
  }

  test("IVF: stored-index probe == the session quantizer path") {
    val vecs = synthVecs(500)
    val dir = Files.createTempDirectory("graft_ivfidx_").toString
    AnnIndex.saveIvf(vecs, k = 8, sampleSize = 128, iters = 2, dim = Dim,
      salt = 7, dir = dir)
    // session path: same quantizer, same assignment, same probe ranking
    val cents = broadcast(Similarity.kmeansCentroids(vecs, 8, 128, 2, Dim, 7))
    val wA = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_id"))
    val ranked = vecs.crossJoin(cents)
      .withColumn("ccos", Dedup.cosine(col("v"), col("cv")))
      .withColumn("crn", row_number().over(wA))
    val assign = ranked.filter(col("crn") === 1)
      .select(col("vec_id").as("c_id"), col("cent_id").as("cell"), col("v").as("c_v"))
    val probes = ranked.filter(col("vec_id") < 3 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"), col("v").as("q_v"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    val want = probes.join(assign, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K).select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = AnnIndex.probeIvf(spark, dir, queriesOf(vecs), K, nProbe = 2)
      .select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("IVF upsert: stored assignment equals a one-pass assignment against the stored centroids") {
    val all = synthVecs(500)
    val dir = Files.createTempDirectory("graft_ivfidx_ups_").toString
    AnnIndex.saveIvf(all.filter(col("vec_id") < 300), k = 8, sampleSize = 128,
      iters = 2, dim = Dim, salt = 7, dir = dir)
    AnnIndex.upsertIvf(spark, dir, all.filter(col("vec_id") >= 300))
    // reference: assign ALL vectors against the STORED (frozen) centroids
    val cents = AnnIndex.ivfCentroids(spark, dir)
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_id"))
    val expected = all.crossJoin(broadcast(cents))
      .withColumn("ccos", Dedup.cosine(col("v"), col("cv")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stored = spark.read.parquet(s"$dir/assign")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == expected)
    assert(stored.size == 500)
    // duplicate keys are rejected on the RAW batch — the assignment's
    // rank window would otherwise collapse them silently
    val dup = all.filter(col("vec_id") === 7)
    assertThrows[IllegalArgumentException] {
      AnnIndex.upsertIvf(spark, dir, dup.unionByName(dup))
    }
  }

  test("IVF+PQ: probe scan partition-prunes to the probed cells; codes table is 1 row/vector") {
    val vecs = synthVecs(500)
    val dir = Files.createTempDirectory("graft_ivfpqidx_").toString
    AnnIndex.saveIvfPq(vecs, ivfK = 8, sampleSize = 128, iters = 2, dim = Dim,
      ivfSalt = 7, m = 4, sub = 16, pqK = 8, pqSalt = 11, dir = dir)
    // layout: every vector encoded exactly once, cells bounded by ivfK
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == 500)
    assert(codes.select("vec_id").distinct().count() == 500)
    assert(codes.select("cell").distinct().count() <= 8)
    // the routing manifests as parquet partition pruning in the plan —
    // the scan must carry a PartitionFilters entry on cell, and the
    // result must be the full two-stage shape (rnk 1..K per query)
    val res = AnnIndex.probeIvfPq(spark, dir, queriesOf(vecs), vecs, K,
      nProbe = 2, m = 4, sub = 16, shortK = 50)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.take(4000))
    val rows = res.select("q_id", "rnk").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 3 * K)
    assert(rows.groupBy(_._1).values.forall(_.map(_._2).sorted.sameElements(1L to K)))
  }

  test("PQ upsert: train + bulk-load + append converges to the one-shot build") {
    val all = synthVecs(500)
    val upsDir = Files.createTempDirectory("graft_pqidx_ups_").toString
    val fullDir = Files.createTempDirectory("graft_pqidx_full_").toString
    AnnIndex.savePq(all, m = 4, sub = 16, k = 8, sampleSize = 128, iters = 2,
      salt = 11, dir = fullDir)
    // same training corpus, codes arriving in two batches via upsert
    AnnIndex.trainPq(all, m = 4, sub = 16, k = 8, sampleSize = 128, iters = 2,
      salt = 11, dir = upsDir)
    AnnIndex.upsertPq(spark, upsDir, all.filter(col("vec_id") % 3 =!= 0))
    AnnIndex.upsertPq(spark, upsDir, all.filter(col("vec_id") % 3 === 0))
    def codes(dir: String) = spark.read.parquet(s"$dir/codes")
      .select("vec_id", "code0", "code1", "code2", "code3")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(codes(upsDir) == codes(fullDir))
    assert(codes(upsDir).size == 500)
    // and the probe served from the maintained index matches too
    val got = AnnIndex.probePq(spark, upsDir, all.filter(col("vec_id") < 3), K,
        m = 4, sub = 16)
      .select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = AnnIndex.probePq(spark, fullDir, all.filter(col("vec_id") < 3), K,
        m = 4, sub = 16)
      .select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("PQ upsert: re-inserted vec_id takes the new codes; dup batch rejected") {
    val all = synthVecs(200)
    val dir = Files.createTempDirectory("graft_pqidx_ups2_").toString
    AnnIndex.savePq(all, m = 4, sub = 16, k = 8, sampleSize = 128, iters = 2,
      salt = 11, dir = dir)
    // replace vec 7 with vec 150's data: its codes must become 150's
    val replacement = all.filter(col("vec_id") === 150)
      .select(lit(7L).as("vec_id"), col("v"))
    AnnIndex.upsertPq(spark, dir, replacement)
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == 200)
    def codeRow(id: Long) = codes.filter(col("vec_id") === id)
      .select("code0", "code1", "code2", "code3")
      .collect().map(_.toSeq).head
    assert(codeRow(7L) == codeRow(150L))
    assertThrows[IllegalArgumentException] {
      AnnIndex.upsertPq(spark, dir, replacement.unionByName(replacement))
    }
  }

  test("IVF+PQ upsert: converges to the one-shot build; probe partition-prunes") {
    val all = synthVecs(500)
    val upsDir = Files.createTempDirectory("graft_ivfpq_ups_").toString
    val fullDir = Files.createTempDirectory("graft_ivfpq_full_").toString
    AnnIndex.saveIvfPq(all, ivfK = 8, sampleSize = 128, iters = 2, dim = Dim,
      ivfSalt = 7, m = 4, sub = 16, pqK = 8, pqSalt = 11, dir = fullDir)
    AnnIndex.trainIvfPq(all, ivfK = 8, sampleSize = 128, iters = 2, dim = Dim,
      ivfSalt = 7, m = 4, sub = 16, pqK = 8, pqSalt = 11, dir = upsDir)
    AnnIndex.upsertIvfPq(spark, upsDir, all.filter(col("vec_id") % 3 =!= 0))
    AnnIndex.upsertIvfPq(spark, upsDir, all.filter(col("vec_id") % 3 === 0))
    def codes(dir: String) = spark.read.parquet(s"$dir/codes")
      .select(col("vec_id"), col("cell").cast("long"),
        col("code0"), col("code1"), col("code2"), col("code3"))
      .collect().map(_.toSeq).toSet
    assert(codes(upsDir) == codes(fullDir))
    assert(codes(upsDir).size == 500)
    val res = AnnIndex.probeIvfPq(spark, upsDir, queriesOf(all), all, K,
      nProbe = 2, m = 4, sub = 16, shortK = 50)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.take(4000))
    val want = AnnIndex.probeIvfPq(spark, fullDir, queriesOf(all), all, K,
        nProbe = 2, m = 4, sub = 16, shortK = 50)
      .select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = res.select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("PQ upsert: streaming foreachBatch maintenance converges to the one-shot build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = synthVecs(300)
    val upsDir = Files.createTempDirectory("graft_pqidx_stream_").toString
    val fullDir = Files.createTempDirectory("graft_pqidx_sfull_").toString
    AnnIndex.savePq(all, m = 4, sub = 16, k = 8, sampleSize = 128, iters = 2,
      salt = 11, dir = fullDir)
    // quantizer trained once on the same corpus snapshot; codes arrive
    // as a stream, each micro-batch encode-appending via upsertPq
    AnnIndex.trainPq(all, m = 4, sub = 16, k = 8, sampleSize = 128, iters = 2,
      salt = 11, dir = upsDir)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val stream = mem.toDF().toDF("vec_id")
      .select(col("vec_id"), vExpr(col("vec_id")).as("v"))
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        AnnIndex.upsertPq(spark, upsDir, batch)
      }.start()
    try {
      mem.addData(0L until 150L: _*)
      q.processAllAvailable()
      mem.addData(150L until 300L: _*)
      q.processAllAvailable()
    } finally q.stop()
    def codes(dir: String) = spark.read.parquet(s"$dir/codes")
      .select("vec_id", "code0", "code1", "code2", "code3")
      .collect().map(_.toSeq).toSet
    assert(codes(upsDir) == codes(fullDir))
    assert(codes(upsDir).size == 300)
  }

  test("IVF+PQ upsert: a moved vec_id's old cell directory rewrites (no stale row)") {
    val all = synthVecs(300)
    val dir = Files.createTempDirectory("graft_ivfpq_ups2_").toString
    AnnIndex.saveIvfPq(all, ivfK = 8, sampleSize = 128, iters = 2, dim = Dim,
      ivfSalt = 7, m = 4, sub = 16, pqK = 8, pqSalt = 11, dir = dir)
    // negating vec 5 flips its cosine to every centroid => near-certain
    // cell move; either way the invariant is one row for vec 5 with the
    // re-encoded codes
    val moved = all.filter(col("vec_id") === 5)
      .select(col("vec_id"), transform(col("v"), x => -x).as("v"))
    AnnIndex.upsertIvfPq(spark, dir, moved)
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == 300)
    assert(codes.filter(col("vec_id") === 5).count() == 1)
  }

  test("MinHash: stored signatures reproduce the session candidate pairs") {
    import spark.implicits._
    val docs = (0L until 60L).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta eta theta iota kappa doc$i"
      (i, if (i % 3 == 0) base.stripSuffix(s" doc$i") + " doc_shared" else base)
    }.toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_mhidx_").toString
    AnnIndex.saveMinhash(docs, k = 16, bands = 4, rowsPerBand = 4, dir = dir)
    val stored = AnnIndex.minhashSigs(spark, dir)
    val session = docs
      .withColumn("sh", Dedup.shingleSet(col("text")))
      .withColumn("sig", Dedup.minhashSignature(col("sh"), 16))
      .withColumn("keys", Dedup.bandKeys(col("sig"), 4, 4))
    def pairsOf(df: DataFrame) =
      Dedup.candidatePairs(df, "doc_id", "keys", 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOf(stored) == pairsOf(session))
    assert(pairsOf(stored).nonEmpty)
  }

  test("MinHash upsert: incremental build converges to the full rebuild") {
    import spark.implicits._
    val docs = (0L until 80L).map { i =>
      (i, s"alpha beta gamma delta epsilon zeta eta theta iota kappa doc$i")
    }.toDF("doc_id", "text")
    val incDir = Files.createTempDirectory("graft_mhidx_").toString
    val fullDir = Files.createTempDirectory("graft_mhidx_").toString
    AnnIndex.saveMinhash(docs.filter(col("doc_id") < 50), 16, 4, 4, incDir)
    AnnIndex.upsertMinhash(spark, incDir, docs.filter(col("doc_id") >= 50))
    AnnIndex.saveMinhash(docs, 16, 4, 4, fullDir)
    def rows(dir: String) = AnnIndex.minhashSigs(spark, dir)
      .select(col("doc_id"), col("sig").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(incDir) == rows(fullDir))
    assert(rows(incDir).size == 80)
  }

  test("IVF/PQ/IVFPQ delete: quantizers stay frozen, post-delete tables are exactly the survivors' rows, probes stop naming retracted ids") {
    import spark.implicits._
    val all = synthVecs(200)
    val retract = all.filter(col("vec_id") % 5 === 2).select("vec_id")
    def survivors(rows: Set[Seq[Any]], idIdx: Int) =
      rows.filterNot(r => r(idIdx).asInstanceOf[Long] % 5 == 2)
    // IVF: cell-partitioned assignment
    val ivfDir = Files.createTempDirectory("graft_ivfdel_").toString
    AnnIndex.saveIvf(all, k = 8, sampleSize = 128, iters = 2, dim = Dim,
      salt = 7, dir = ivfDir)
    val ivfBefore = spark.read.parquet(s"$ivfDir/assign")
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(_.toSeq).toSet
    val centsBefore = spark.read.parquet(s"$ivfDir/centroids")
      .collect().map(_.toSeq).toSet
    AnnIndex.deleteIvf(spark, ivfDir, retract)
    val ivfAfter = spark.read.parquet(s"$ivfDir/assign")
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(_.toSeq).toSet
    assert(ivfAfter == survivors(ivfBefore, 0))
    assert(spark.read.parquet(s"$ivfDir/centroids")
      .collect().map(_.toSeq).toSet == centsBefore) // frozen quantizer
    val ivfGot = AnnIndex.probeIvf(spark, ivfDir, queriesOf(all), K, nProbe = 2)
      .select("c_id").collect().map(_.getLong(0))
    assert(ivfGot.nonEmpty && ivfGot.forall(_ % 5 != 2))
    // PQ: pmod(vec_id)-partitioned codes — touched dirs from ids alone
    val pqDir = Files.createTempDirectory("graft_pqdel_").toString
    AnnIndex.savePq(all, m = 4, sub = 16, k = 8, sampleSize = 128, iters = 2,
      salt = 11, dir = pqDir)
    val pqBefore = spark.read.parquet(s"$pqDir/codes")
      .select((col("vec_id") +: (0 until 4).map(m => col(s"code$m"))): _*)
      .collect().map(_.toSeq).toSet
    AnnIndex.deletePq(spark, pqDir, retract)
    val pqAfter = spark.read.parquet(s"$pqDir/codes")
      .select((col("vec_id") +: (0 until 4).map(m => col(s"code$m"))): _*)
      .collect().map(_.toSeq).toSet
    assert(pqAfter == survivors(pqBefore, 0))
    val pqGot = AnnIndex.probePq(spark, pqDir, queriesOf(all)
        .select(col("q_id").as("vec_id"), col("q_v").as("v")), K, m = 4, sub = 16)
      .select("c_id").collect().map(_.getLong(0))
    assert(pqGot.nonEmpty && pqGot.forall(_ % 5 != 2))
    // IVF+PQ: cell-partitioned codes
    val ipDir = Files.createTempDirectory("graft_ipdel_").toString
    AnnIndex.saveIvfPq(all, ivfK = 8, sampleSize = 128, iters = 2, dim = Dim,
      ivfSalt = 7, m = 4, sub = 16, pqK = 8, pqSalt = 11, dir = ipDir)
    val ipBefore = spark.read.parquet(s"$ipDir/codes")
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(_.toSeq).toSet
    AnnIndex.deleteIvfPq(spark, ipDir, retract)
    val ipAfter = spark.read.parquet(s"$ipDir/codes")
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(_.toSeq).toSet
    assert(ipAfter == survivors(ipBefore, 0))
    val ipGot = AnnIndex.probeIvfPq(spark, ipDir, queriesOf(all),
        all.filter(col("vec_id") % 5 =!= 2), K, nProbe = 2, m = 4, sub = 16,
        shortK = 3 * K)
      .select("c_id").collect().map(_.getLong(0))
    assert(ipGot.nonEmpty && ipGot.forall(_ % 5 != 2))
  }

  test("MinHash delete: add→retract converges to the build WITHOUT the retracted docs; vacated dirs drop; unknown ids no-op") {
    import spark.implicits._
    val docs = (0L until 80L).map { i =>
      (i, s"alpha beta gamma delta epsilon zeta eta theta iota kappa doc$i")
    }.toDF("doc_id", "text")
    val delDir = Files.createTempDirectory("graft_mhdel_").toString
    val refDir = Files.createTempDirectory("graft_mhdel_").toString
    // staged add (save half, upsert rest) then retract every 4th doc
    AnnIndex.saveMinhash(docs.filter(col("doc_id") < 50), 16, 4, 4, delDir)
    AnnIndex.upsertMinhash(spark, delDir, docs.filter(col("doc_id") >= 50))
    AnnIndex.deleteMinhash(spark, delDir,
      docs.filter(col("doc_id") % 4 === 0).select("doc_id"))
    AnnIndex.saveMinhash(docs.filter(col("doc_id") % 4 =!= 0), 16, 4, 4, refDir)
    def rows(dir: String) = AnnIndex.minhashSigs(spark, dir)
      .select(col("doc_id"), col("sig").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(delDir) == rows(refDir))
    assert(rows(delDir).size == 60)
    // deleting unknown ids is a no-op
    AnnIndex.deleteMinhash(spark, delDir, Seq(9999L).toDF("doc_id"))
    assert(rows(delDir).size == 60)
    // vacated-dir cleanup: default parts hash by pmod(doc_id) — delete
    // EVERY doc of one part and the dir must be gone, not stale
    val meta = spark.read.parquet(s"$delDir/meta").head()
    val parts = meta.getAs[Int]("parts")
    val victims = (0L until 80L).filter(i => i % 4 != 0 && i % parts == 1)
    AnnIndex.deleteMinhash(spark, delDir,
      victims.toDF("doc_id"))
    val dirs = new java.io.File(s"$delDir/sigs").listFiles()
      .map(_.getName).filter(_.startsWith("part=")).toSet
    assert(!dirs.contains("part=1"), s"vacated dir survived: $dirs")
    assert(rows(delDir).size == 60 - victims.size)
  }

  test("MinHash upsert: re-inserted doc_id takes the new text; dup batch rejected") {
    import spark.implicits._
    val docs = (0L until 30L).map { i =>
      (i, s"alpha beta gamma delta epsilon zeta eta theta iota kappa doc$i")
    }.toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_mhidx_").toString
    AnnIndex.saveMinhash(docs, 16, 4, 4, dir)
    val changed = Seq((7L, "totally different words now live here for doc seven only"))
      .toDF("doc_id", "text")
    AnnIndex.upsertMinhash(spark, dir, changed)
    val stored = AnnIndex.minhashSigs(spark, dir)
    assert(stored.count() == 30) // replaced, not duplicated
    val newSig = changed
      .withColumn("sh", Dedup.shingleSet(col("text")))
      .withColumn("sig", Dedup.minhashSignature(col("sh"), 16))
      .select(col("sig").cast("string")).head().getString(0)
    assert(stored.filter(col("doc_id") === 7L)
      .select(col("sig").cast("string")).head().getString(0) == newSig)
    assertThrows[IllegalArgumentException] {
      AnnIndex.upsertMinhash(spark, dir, changed.unionByName(changed))
    }
  }

  test("OPQ index: frozen permutation applied at train/encode/probe equals the one-shot permuted build, identical code bytes") {
    val all = synthVecs(400)
    val perm = Similarity.opqPermutation(all, Dim, 4)
    assert(perm.sorted == (1 to Dim), "opqPermutation is not a permutation")
    val opqDir = Files.createTempDirectory("graft_opqidx_").toString
    val flatDir = Files.createTempDirectory("graft_opqflat_").toString
    AnnIndex.trainPq(all, m = 4, sub = 16, k = 8, sampleSize = 128, iters = 2,
      salt = 11, dir = opqDir, perm = perm)
    AnnIndex.upsertPq(spark, opqDir, all.filter(col("vec_id") % 3 =!= 0))
    AnnIndex.upsertPq(spark, opqDir, all.filter(col("vec_id") % 3 === 0))
    // the one-shot equivalent: savePq over pre-permuted vectors (same
    // salt -> same seeded training sample -> same codebooks)
    val pv = all.withColumn("v",
      array(perm.map(i => element_at(col("v"), i)): _*))
    AnnIndex.savePq(pv, m = 4, sub = 16, k = 8, sampleSize = 128, iters = 2,
      salt = 11, dir = flatDir)
    def codes(dir: String) = spark.read.parquet(s"$dir/codes")
      .select("vec_id", "code0", "code1", "code2", "code3")
      .collect().map(_.toSeq).toSet
    // identical code bytes: same relation schema, same rows
    assert(codes(opqDir) == codes(flatDir))
    assert(codes(opqDir).size == 400)
    // probe: RAW queries through the OPQ index must equal PRE-PERMUTED
    // queries through the plain index — the stored artifact does the
    // permuting, callers never see it
    def res(dir: String, q: DataFrame) =
      AnnIndex.probePq(spark, dir, q, K, m = 4, sub = 16)
        .select("q_id", "rnk", "c_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = res(opqDir, all.filter(col("vec_id") < 3))
    assert(got == res(flatDir, pv.filter(col("vec_id") < 3)))
    assert(got.nonEmpty)
  }

  test("phash index: probe-then-append accumulates the one-shot pair set; probe scan is partition-pruned") {
    import spark.implicits._
    import graft.operators.Multimodal
    // synthetic media: 100 bases + a content-edited near-dup of every
    // 10th (one 4-byte patch overwritten — the mm armB geometry)
    val hx = concat((0 until 16).map(j =>
      md5(concat(col("doc_id").cast("string"), lit(s":$j")))): _*)
    val base = spark.range(100).select(col("id").as("doc_id"))
      .withColumn("payload", unhex(hx))
    val editedPay = spark.range(100).filter(col("id") % 10 === 0)
      .select((col("id") + 1000L).as("doc_id"),
        unhex(concat(
          substring(
            concat((0 until 16).map(j =>
              md5(concat(col("id").cast("string"), lit(s":$j")))): _*), 1, 200),
          lit("deadbeef"),
          substring(
            concat((0 until 16).map(j =>
              md5(concat(col("id").cast("string"), lit(s":$j")))): _*), 209, 1000000)))
          .as("payload"))
    val media = base.unionByName(editedPay).localCheckpoint(true)
    val nPatch = Multimodal.phashPatches(media.count())
    // one-shot truth: all-pairs Hamming (banding is recall-exact by
    // pigeonhole at threshold < 8, so brute == banded)
    val ph = Multimodal.perceptualHash(
      media.as[Multimodal.MediaBytes], nPatch).toDF().localCheckpoint(true)
    val hamAll = aggregate(zip_with(col("bands_a"), col("bands_b"),
        (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val want = ph.select(col("doc_id").as("id_a"), col("bands").as("bands_a"))
      .crossJoin(ph.select(col("doc_id").as("id_b"), col("bands").as("bands_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("h", hamAll)
      .filter(col("h") <= 6)
      .select("id_a", "id_b", "h")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "no planted near-dup pairs — the spec is vacuous")
    // staged: train (frozen width) + 3 probe-then-append ingests
    val dir = Files.createTempDirectory("graft_phidx_").toString
    AnnIndex.trainPhash(spark, dir, nPatch)
    val got = (0 until 3).map { i =>
      val b = media.filter(pmod(col("doc_id"), lit(3L)) === i)
      val p = AnnIndex.probePhash(spark, dir, b, hammingMax = 6)
        .localCheckpoint(true) // before the append mutates the store
      AnnIndex.upsertPhash(spark, dir, b)
      p
    }.reduce(_ unionByName _)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"staged pairs diverged: ${got.size} vs ${want.size}")
    // a fresh probe against the populated store is partition-pruned,
    // and re-probing ALREADY-INDEXED docs emits no (x, x, 0) self-pairs
    val reProbe = AnnIndex.probePhash(spark, dir,
      media.filter(col("doc_id") < 5), hammingMax = 6)
    assert(reProbe.filter(col("id_a") === col("id_b")).count() == 0,
      "re-probe emitted degenerate self-pairs")
    val probePlan = reProbe.queryExecution.executedPlan.toString
    assert(probePlan.contains("PartitionFilters: [part"), probePlan.take(4000))
  }

  test("phash index: streaming foreachBatch maintenance converges to the bulk build") {
    import spark.implicits._
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    // same synthetic payload family as the staged test, smaller corpus
    val hx = concat((0 until 16).map(j =>
      md5(concat(col("doc_id").cast("string"), lit(s":$j")))): _*)
    val media = spark.range(60).select(col("id").as("doc_id"))
      .withColumn("payload", unhex(hx)).localCheckpoint(true)
    val nPatch = Multimodal.phashPatches(media.count())
    val bulkDir = Files.createTempDirectory("graft_phidx_bulk_").toString
    AnnIndex.trainPhash(spark, bulkDir, nPatch)
    AnnIndex.upsertPhash(spark, bulkDir, media)
    val streamDir = Files.createTempDirectory("graft_phidx_stream_").toString
    AnnIndex.trainPhash(spark, streamDir, nPatch)
    // media arrive as a stream; each micro-batch appends its postings
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val stream = mem.toDF().toDF("doc_id")
      .withColumn("payload", unhex(concat((0 until 16).map(j =>
        md5(concat(col("doc_id").cast("string"), lit(s":$j")))): _*)))
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        AnnIndex.upsertPhash(spark, streamDir, batch)
      }.start()
    try {
      mem.addData(0L until 30L: _*)
      q.processAllAvailable()
      mem.addData(30L until 60L: _*)
      q.processAllAvailable()
    } finally q.stop()
    def postings(d: String) = spark.read.parquet(s"$d/postings")
      .select("doc_id", "band", "key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(postings(streamDir) == postings(bulkDir))
    assert(postings(streamDir).size == 60 * Multimodal.PHashBands)
  }

  test("IVF retrain: drifted upsert -> gauge fires -> retrain == fresh build over the live union; gauge recovers; staging dirs cleaned") {
    val base = synthVecs(400)
    val wave = base.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + lit(1000L)).as("vec_id"),
        transform(col("v"), x => x + lit(2.0)).as("v"))
    val union = base.unionByName(wave).localCheckpoint(true)
    val dir = Files.createTempDirectory("graft_ivfrt_").toString
    AnnIndex.saveIvf(base, k = 8, sampleSize = 128, iters = 2, dim = Dim,
      salt = 7, dir = dir)
    AnnIndex.upsertIvf(spark, dir, wave)
    val pre = AnnIndex.ivfDriftStats(spark, dir, col("vec_id") >= 1000L)
      .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap
    assert(pre(true) < pre(false), s"gauge should fire: $pre")
    AnnIndex.retrainIvf(spark, dir, k = 8, sampleSize = 128, iters = 2,
      dim = Dim, salt = 7)
    // post-retrain the wave quantizes BETTER than the base population
    // (it is a tight cluster with dedicated centroids now)
    val post = AnnIndex.ivfDriftStats(spark, dir, col("vec_id") >= 1000L)
      .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap
    assert(post(true) > pre(true), s"gauge should recover: $pre -> $post")
    // retrain-from-index == fresh one-shot build over the union
    val freshDir = Files.createTempDirectory("graft_ivfrt_fresh_").toString
    AnnIndex.saveIvf(union, k = 8, sampleSize = 128, iters = 2, dim = Dim,
      salt = 7, dir = freshDir)
    def probe(d: String) = AnnIndex.probeIvf(spark, d, queriesOf(union), K, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(dir) == probe(freshDir))
    // the swap left no staging or retired dirs behind
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir.retrain")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir.pre-retrain")))
  }

  test("IVF retrain honors deletes: retracted ids never re-enter (liveness from the index, not the staging frame)") {
    val base = synthVecs(300)
    val dir = Files.createTempDirectory("graft_ivfrtdel_").toString
    AnnIndex.saveIvf(base, k = 8, sampleSize = 128, iters = 2, dim = Dim,
      salt = 7, dir = dir)
    AnnIndex.deleteIvf(spark, dir, base.filter(col("vec_id") % 5 === 0).select("vec_id"))
    AnnIndex.retrainIvf(spark, dir, k = 8, sampleSize = 128, iters = 2,
      dim = Dim, salt = 7)
    val survivors = base.filter(col("vec_id") % 5 =!= 0).localCheckpoint(true)
    val freshDir = Files.createTempDirectory("graft_ivfrtdel_fresh_").toString
    AnnIndex.saveIvf(survivors, k = 8, sampleSize = 128, iters = 2, dim = Dim,
      salt = 7, dir = freshDir)
    def probe(d: String) = AnnIndex.probeIvf(spark, d, queriesOf(survivors), K, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(dir) == probe(freshDir))
    val ids = spark.read.parquet(s"$dir/assign").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids.forall(_ % 5 != 0) && ids.nonEmpty)
  }

  test("PQ retrain: codebooks re-fit over the live set + full re-encode == one-shot build; frozen OPQ perm preserved") {
    val base = synthVecs(400)
    val wave = base.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + lit(1000L)).as("vec_id"),
        transform(col("v"), x => x + lit(2.0)).as("v"))
    val union = base.unionByName(wave).localCheckpoint(true)
    val perm = Similarity.opqPermutation(base, m = 4, dim = Dim)
    val dir = Files.createTempDirectory("graft_pqrt_").toString
    AnnIndex.trainPq(base, m = 4, sub = 16, k = 8, sampleSize = 128,
      iters = 2, salt = 11, dir = dir, perm = perm)
    AnnIndex.upsertPq(spark, dir, base)
    AnnIndex.upsertPq(spark, dir, wave)
    val pre = AnnIndex.pqDriftStats(spark, dir, union, col("vec_id") >= 1000L)
      .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap
    assert(pre(true) < pre(false), s"PQ gauge should fire: $pre")
    AnnIndex.retrainPq(spark, dir, union, sampleSize = 128, iters = 2, salt = 11)
    val post = AnnIndex.pqDriftStats(spark, dir, union, col("vec_id") >= 1000L)
      .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap
    assert(post(true) > pre(true), s"PQ gauge should recover: $pre -> $post")
    // == one-shot permuted build over the union (perm survived the swap)
    val freshDir = Files.createTempDirectory("graft_pqrt_fresh_").toString
    AnnIndex.trainPq(union, m = 4, sub = 16, k = 8, sampleSize = 128,
      iters = 2, salt = 11, dir = freshDir, perm = perm)
    AnnIndex.upsertPq(spark, freshDir, union)
    def codes(d: String) = spark.read.parquet(s"$d/codes")
      .select("vec_id", "code0", "code1", "code2", "code3")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(codes(dir) == codes(freshDir))
    def probe(d: String) = AnnIndex.probePq(spark, d,
      union.filter(col("vec_id") < 3), K, 4, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(dir) == probe(freshDir))
  }

  test("pHash upsert after a total takedown: the emptied store (root dir survives, every part= gone) bulk-loads cleanly") {
    import spark.implicits._
    def media(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(256)(b => ((b * 3 + i * 11) % 241).toByte))
    }.toDF("doc_id", "payload")
    val ids = 0L until 24L
    val dir = Files.createTempDirectory("graft_phempty_").toString
    val nPatch = graft.operators.Multimodal.phashPatches(ids.size.toLong)
    AnnIndex.trainPhash(spark, dir, nPatch)
    AnnIndex.upsertPhash(spark, dir, media(ids))
    // retract EVERYTHING: every part= dir vacates; the postings root
    // (holding only _SUCCESS) survives
    AnnIndex.deletePhash(spark, dir, ids.toDF("doc_id"))
    val root = new java.io.File(s"$dir/postings")
    assert(root.exists() &&
      !root.listFiles().exists(_.getName.startsWith("part=")),
      "staging assumption broke: expected an emptied posting store")
    // the presence probe must gate on part-DATA, not the bare root dir —
    // a pathExists gate would throw 'unable to infer schema' here
    AnnIndex.upsertPhash(spark, dir, media(ids.take(6)))
    val n = spark.read.parquet(s"$dir/postings").count()
    assert(n == 6 * graft.operators.Multimodal.PHashBands)
  }

  test("PQ and IVF+PQ upsert after a total takedown: the emptied codes table bootstraps from the batch") {
    val all = synthVecs(100)
    def ids(d: String) = spark.read.parquet(s"$d/codes").select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val pqDir = Files.createTempDirectory("graft_pqempty_").toString
    AnnIndex.savePq(all, m = 4, sub = 16, k = 8, sampleSize = 64, iters = 2,
      salt = 11, dir = pqDir)
    AnnIndex.deletePq(spark, pqDir, all.select("vec_id"))
    AnnIndex.upsertPq(spark, pqDir, all.filter(col("vec_id") < 5))
    assert(ids(pqDir) == (0L until 5L))
    val ivfPqDir = Files.createTempDirectory("graft_ivfpqempty_").toString
    AnnIndex.saveIvfPq(all, ivfK = 4, sampleSize = 64, iters = 2, dim = Dim,
      ivfSalt = 7, m = 4, sub = 16, pqK = 8, pqSalt = 11, dir = ivfPqDir)
    AnnIndex.deleteIvfPq(spark, ivfPqDir, all.select("vec_id"))
    AnnIndex.upsertIvfPq(spark, ivfPqDir, all.filter(col("vec_id") < 5))
    assert(ids(ivfPqDir) == (0L until 5L))
  }

  test("IVFPQ retrain: both quantizers re-fit over the live set + full re-route/re-encode == one-shot build; gauge fires and recovers") {
    val base = synthVecs(400)
    val wave = base.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + lit(1000L)).as("vec_id"),
        transform(col("v"), x => x + lit(2.0)).as("v"))
    val union = base.unionByName(wave).localCheckpoint(true)
    val dir = Files.createTempDirectory("graft_ivfpqrt_").toString
    AnnIndex.trainIvfPq(base, ivfK = 8, sampleSize = 128, iters = 2,
      dim = Dim, ivfSalt = 7, m = 4, sub = 16, pqK = 8, pqSalt = 11, dir = dir)
    AnnIndex.upsertIvfPq(spark, dir, base)
    AnnIndex.upsertIvfPq(spark, dir, wave)
    val pre = AnnIndex.ivfpqDriftStats(spark, dir, union, col("vec_id") >= 1000L)
      .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap
    assert(pre(true) < pre(false), s"gauge should fire: $pre")
    AnnIndex.retrainIvfPq(spark, dir, union, ivfK = 8, sampleSize = 128,
      iters = 2, dim = Dim, ivfSalt = 7, pqSalt = 11)
    val post = AnnIndex.ivfpqDriftStats(spark, dir, union, col("vec_id") >= 1000L)
      .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap
    assert(post(true) > pre(true), s"gauge should recover: $pre -> $post")
    val freshDir = Files.createTempDirectory("graft_ivfpqrt_fresh_").toString
    AnnIndex.saveIvfPq(union, ivfK = 8, sampleSize = 128, iters = 2,
      dim = Dim, ivfSalt = 7, m = 4, sub = 16, pqK = 8, pqSalt = 11,
      dir = freshDir)
    def codes(d: String) = spark.read.parquet(s"$d/codes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("code0"), col("code1"), col("code2"), col("code3"))
      .collect().map(_.toSeq).toSet
    assert(codes(dir) == codes(freshDir))
    def probe(d: String) = AnnIndex.probeIvfPq(spark, d, queriesOf(union),
      union, K, 2, 4, 16, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(dir) == probe(freshDir))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir.retrain")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir.pre-retrain")))
  }

  test("IVF policy-gated retrain: the gauge is wired into the ingest loop — base batches never retrain, the drift wave does, and the healed store equals the fresh build") {
    val base = synthVecs(400)
    val wave = base.filter(col("vec_id") % 2 === 0)
      .select((col("vec_id") + lit(1000L)).as("vec_id"),
        transform(col("v"), x => x + lit(2.0)).as("v"))
    val dir = Files.createTempDirectory("graft_ivfpol_").toString
    AnnIndex.saveIvf(base.filter(col("vec_id") < 200), k = 8,
      sampleSize = 128, iters = 2, dim = Dim, salt = 7, dir = dir)
    def storeMean() = AnnIndex.ivfDriftStats(spark, dir, lit(true))
      .collect()(0).getDouble(2)
    val meanBase = storeMean()
    // dial between the healthy mean and what the wave will drag it to:
    // a same-distribution batch must never trip it
    val dial = meanBase - 0.02
    def cents() = spark.read.parquet(s"$dir/centroids")
      .collect().map(_.toSeq).toSet
    val centsBefore = cents()
    assert(!AnnIndex.upsertIvfWithPolicy(spark, dir,
      base.filter(col("vec_id") >= 200), 8, 128, 2, Dim, 7, dial),
      "a same-distribution batch tripped the retrain dial")
    assert(cents() == centsBefore, "quantizer moved without a retrain")
    // the drift wave drags the store mean below the dial -> the policy
    // retrains inside the ingest call
    assert(AnnIndex.upsertIvfWithPolicy(spark, dir, wave,
      8, 128, 2, Dim, 7, dial),
      "the drift wave did not trip the retrain dial")
    assert(storeMean() > dial, "gauge did not recover after the retrain")
    // healed store == fresh one-shot build over everything live
    val union = base.unionByName(wave).localCheckpoint(true)
    val freshDir = Files.createTempDirectory("graft_ivfpol_fresh_").toString
    AnnIndex.saveIvf(union, k = 8, sampleSize = 128, iters = 2, dim = Dim,
      salt = 7, dir = freshDir)
    def probe(d: String) = AnnIndex.probeIvf(spark, d, queriesOf(union), K, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(dir) == probe(freshDir))
  }

  test("PQ policy-gated retrain: the batch dial trips at the wave's own batch even when the store-wide mean barely moves; healed == fresh") {
    val base = synthVecs(400)
    // a SMALL wave (40 rows into a 400-row store) shifted hard: the
    // dilution case — its own mean is degenerate, the store mean isn't
    val wave = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(1000L)).as("vec_id"),
        transform(col("v"), x => x + lit(2.0)).as("v"))
    val union = base.unionByName(wave).localCheckpoint(true)
    val dir = Files.createTempDirectory("graft_pqpol_").toString
    AnnIndex.trainPq(base.filter(col("vec_id") < 200), m = 4, sub = 16,
      k = 8, sampleSize = 128, iters = 2, salt = 11, dir = dir)
    AnnIndex.upsertPq(spark, dir, base.filter(col("vec_id") < 200))
    val storeMean = AnnIndex.pqDriftStats(spark, dir,
        base.filter(col("vec_id") < 200), lit(true))
      .collect()(0).getDouble(2)
    val batchDial = storeMean - 0.05 // healthy batches sit near storeMean
    // store-wide dial deliberately unreachable: only the batch dial may fire
    assert(!AnnIndex.upsertPqWithPolicy(spark, dir, base,
      base.filter(col("vec_id") >= 200), 128, 2, 11,
      minMeanCcos = -1.0, minBatchMeanCcos = batchDial),
      "a same-distribution batch tripped the PQ batch dial")
    // the store-wide mean after the wave lands would move by ~wave/store —
    // verify the dilution premise (store mean stays ABOVE the batch dial)
    assert(AnnIndex.upsertPqWithPolicy(spark, dir, union, wave, 128, 2, 11,
      minMeanCcos = -1.0, minBatchMeanCcos = batchDial),
      "the drift wave did not trip the PQ batch dial")
    assert(AnnIndex.pqDriftStats(spark, dir, union, lit(true))
      .collect()(0).getDouble(2) > batchDial,
      "post-heal store mean did not recover above the dial")
    // healed == fresh one-shot build over everything live
    val freshDir = Files.createTempDirectory("graft_pqpol_fresh_").toString
    AnnIndex.savePq(union, m = 4, sub = 16, k = 8, sampleSize = 128,
      iters = 2, salt = 11, dir = freshDir)
    def codes(d: String) = spark.read.parquet(s"$d/codes")
      .select("vec_id", "code0", "code1", "code2", "code3")
      .collect().map(_.toSeq).toSet
    assert(codes(dir) == codes(freshDir))
  }

  test("IVFPQ policy-gated retrain: the routing batch dial is wired into the ingest loop; healed == fresh") {
    val base = synthVecs(400)
    val wave = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(1000L)).as("vec_id"),
        transform(col("v"), x => x + lit(2.0)).as("v"))
    val union = base.unionByName(wave).localCheckpoint(true)
    val dir = Files.createTempDirectory("graft_ivfpqpol_").toString
    AnnIndex.trainIvfPq(base.filter(col("vec_id") < 200), ivfK = 8,
      sampleSize = 128, iters = 2, dim = Dim, ivfSalt = 7, m = 4, sub = 16,
      pqK = 8, pqSalt = 11, dir = dir)
    AnnIndex.upsertIvfPq(spark, dir, base.filter(col("vec_id") < 200))
    val storeMean = AnnIndex.ivfpqDriftStats(spark, dir,
        base.filter(col("vec_id") < 200), lit(true))
      .collect()(0).getDouble(2)
    val batchDial = storeMean - 0.05
    assert(!AnnIndex.upsertIvfPqWithPolicy(spark, dir, base,
      base.filter(col("vec_id") >= 200), 8, 128, 2, Dim, 7, 11,
      minMeanCcos = -1.0, minBatchMeanCcos = batchDial),
      "a same-distribution batch tripped the IVFPQ batch dial")
    assert(AnnIndex.upsertIvfPqWithPolicy(spark, dir, union, wave,
      8, 128, 2, Dim, 7, 11,
      minMeanCcos = -1.0, minBatchMeanCcos = batchDial),
      "the drift wave did not trip the IVFPQ batch dial")
    val freshDir = Files.createTempDirectory("graft_ivfpqpol_fresh_").toString
    AnnIndex.saveIvfPq(union, ivfK = 8, sampleSize = 128, iters = 2,
      dim = Dim, ivfSalt = 7, m = 4, sub = 16, pqK = 8, pqSalt = 11,
      dir = freshDir)
    def codes(d: String) = spark.read.parquet(s"$d/codes")
      .select(col("vec_id"), col("cell").cast("long"),
        col("code0"), col("code1"), col("code2"), col("code3"))
      .collect().map(_.toSeq).toSet
    assert(codes(dir) == codes(freshDir))
    def probe(d: String) = AnnIndex.probeIvfPq(spark, d, queriesOf(union),
      union, K, 2, 4, 16, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(dir) == probe(freshDir))
  }

  test("LSH policy-gated rebucket: the population width rule is wired; healed == fresh build at the derived width") {
    val base = synthVecs(400)
    val dir = Files.createTempDirectory("graft_lshpol_").toString
    AnnIndex.saveLsh(base, NBits, Dim, dir) // 8 << 6 = 512 capacity
    // below capacity: no rebucket
    val small = spark.range(400, 480).select(col("id").as("vec_id"),
      vExpr(col("id")).as("v"))
    assert(!AnnIndex.upsertLshWithPolicy(spark, dir, small,
      bucketTarget = 8, maxBits = 16),
      "an in-capacity batch tripped the width rule")
    assert(spark.read.parquet(s"$dir/meta").head().getAs[Int]("n_bits") == NBits)
    // the growth wave pushes n past 8 << 6: the rule fires and the
    // policy re-buckets at the derived width inside the ingest call
    val wave = spark.range(480, 700).select(col("id").as("vec_id"),
      vExpr(col("id")).as("v"))
    assert(AnnIndex.upsertLshWithPolicy(spark, dir, wave,
      bucketTarget = 8, maxBits = 16),
      "the growth wave did not trip the width rule")
    val newBits = spark.read.parquet(s"$dir/meta").head().getAs[Int]("n_bits")
    assert(newBits == 7, s"expected derived width 7, got $newBits") // 8 << 7 = 1024 >= 700
    val union = spark.range(700).select(col("id").as("vec_id"),
      vExpr(col("id")).as("v")).localCheckpoint(true)
    val freshDir = Files.createTempDirectory("graft_lshpol_fresh_").toString
    AnnIndex.saveLsh(union, newBits, Dim, freshDir)
    def rows(d: String) = spark.read.parquet(s"$d/corpus")
      .select("vec_id", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(dir) == rows(freshDir))
    def probe(d: String) = AnnIndex.probeLsh(spark, d, queriesOf(union), K)
      .select("q_id", "rnk", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(dir) == probe(freshDir))
  }

  test("phash policy-gated re-index: corpus growth across the width threshold re-indexes at the wider width; healed == fresh") {
    import graft.operators.Multimodal
    val hx = concat((0 until 16).map(j =>
      md5(concat(col("doc_id").cast("string"), lit(s":$j")))): _*)
    def media(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"))
        .withColumn("payload", unhex(hx))
    // 16_300 docs hold at width 64 (64 << 8 = 16_384); the wave crosses it
    val n0 = 16300L
    val store = media(0L, n0 + 300L).localCheckpoint(true)
    val dir = Files.createTempDirectory("graft_phpol_").toString
    AnnIndex.trainPhash(spark, dir, Multimodal.phashPatches(n0))
    AnnIndex.upsertPhash(spark, dir, media(0L, n0))
    assert(!AnnIndex.upsertPhashWithPolicy(spark, dir, media(n0, n0 + 50L),
      store), "an under-threshold batch tripped the re-index")
    assert(spark.read.parquet(s"$dir/meta").head()
      .getAs[Int]("n_patches") == 64)
    assert(AnnIndex.upsertPhashWithPolicy(spark, dir,
      media(n0 + 50L, n0 + 300L), store),
      "the threshold-crossing batch did not trip the re-index")
    assert(spark.read.parquet(s"$dir/meta").head()
      .getAs[Int]("n_patches") == 128)
    // healed == fresh bulk at the wider width over the same live docs
    val freshDir = Files.createTempDirectory("graft_phpol_fresh_").toString
    AnnIndex.trainPhash(spark, freshDir, 128)
    AnnIndex.upsertPhash(spark, freshDir, store)
    def postings(d: String) = spark.read.parquet(s"$d/postings")
      .groupBy(col("band").cast("long").as("band"), col("key")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(postings(dir) == postings(freshDir))
    assert(spark.read.parquet(s"$dir/postings").count() ==
      (n0 + 300L) * Multimodal.PHashBands)
  }

  test("IVF policy amortization: checkEvery batches pay at most one store gauge; the batch dial still trips the wave at ITS batch; sampled gauge is deterministic") {
    import java.nio.file.{Files => JF, Paths}
    val base = synthVecs(400)
    val wave = base.filter(col("vec_id") % 2 === 0)
      .select((col("vec_id") + lit(1000L)).as("vec_id"),
        transform(col("v"), x => x + lit(2.0)).as("v"))
    val dir = Files.createTempDirectory("graft_ivfamort_").toString
    AnnIndex.saveIvf(base.filter(col("vec_id") < 160), k = 8,
      sampleSize = 128, iters = 2, dim = Dim, salt = 7, dir = dir)
    val storeMean = AnnIndex.ivfDriftStats(spark, dir, lit(true))
      .collect()(0).getDouble(2)
    val batchDial = storeMean - 0.05
    def counter(): String =
      new String(JF.readAllBytes(Paths.get(s"$dir/policy.count")), "UTF-8")
    // three healthy batches under checkEvery = 3: the counter file shows
    // the cadence (1, 2, then a reset 0 at the one store-gauge batch)
    val healthy = Seq((160, 240), (240, 320), (320, 400))
    val fired = healthy.map { case (a, b) =>
      val r = AnnIndex.upsertIvfWithPolicy(spark, dir,
        base.filter(col("vec_id") >= a && col("vec_id") < b),
        8, 128, 2, Dim, 7,
        minMeanCcos = storeMean - 0.1, minBatchMeanCcos = batchDial,
        checkEvery = 3, gaugeSampleMod = 4L)
      (r, counter())
    }
    assert(fired.map(_._1) == Seq(false, false, false),
      s"healthy batches retrained: $fired")
    assert(fired.map(_._2) == Seq("1", "2", "0"),
      s"gauge cadence off: ${fired.map(_._2)} (expected 1, 2, 0)")
    // sampled store gauge: deterministic (same rows every call)
    val s1 = AnnIndex.ivfDriftStats(spark, dir, lit(true), sampleMod = 4L)
      .collect()(0)
    val s2 = AnnIndex.ivfDriftStats(spark, dir, lit(true), sampleMod = 4L)
      .collect()(0)
    assert(s1.getLong(1) == s2.getLong(1) && s1.getDouble(2) == s2.getDouble(2))
    assert(s1.getLong(1) < 400L, "sample did not shrink the gauge read")
    // the wave lands at a NOT-due batch (counter 0 -> 1): the store scan
    // is skipped, but the O(batch) batch dial trips the retrain at the
    // wave's own batch anyway
    assert(AnnIndex.upsertIvfWithPolicy(spark, dir, wave,
      8, 128, 2, Dim, 7,
      minMeanCcos = storeMean - 0.1, minBatchMeanCcos = batchDial,
      checkEvery = 3, gaugeSampleMod = 4L),
      "the drift wave did not trip the batch dial at its own batch")
    // the counter file died with the swapped-out dir: fresh cadence
    assert(!JF.exists(Paths.get(s"$dir/policy.count")),
      "policy counter survived the retrain swap")
    val union = base.unionByName(wave).localCheckpoint(true)
    val freshDir = Files.createTempDirectory("graft_ivfamort_fresh_").toString
    AnnIndex.saveIvf(union, k = 8, sampleSize = 128, iters = 2, dim = Dim,
      salt = 7, dir = freshDir)
    def probe(d: String) = AnnIndex.probeIvf(spark, d, queriesOf(union), K, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(dir) == probe(freshDir))
  }

  test("retrain crash recovery: a read rolls only a committed retrain forward") {
    CrashFs.register(spark)
    val base = synthVecs(300)
    val extra = spark.range(1000, 1100).select(col("id").as("vec_id"),
      vExpr(col("id")).as("v")).localCheckpoint(true)
    val union = base.unionByName(extra).localCheckpoint(true)
    def probe(dir: String, vecs: DataFrame) =
      AnnIndex.probeIvf(spark, dir, queriesOf(vecs), K, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def build(vecs: DataFrame)(dir: String): Unit =
      AnnIndex.saveIvf(vecs, k = 8, sampleSize = 128, iters = 2, dim = Dim,
        salt = 7, dir = dir)
    def retrain(dir: String): Unit =
      AnnIndex.retrainIvf(spark, dir, k = 8, sampleSize = 128, iters = 2,
        dim = Dim, salt = 7)
    def txnLeft(dir: String): Boolean = {
      val txn = Publish.txnDir(dir)
      txn.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(txn)
    }
    // crashed at its commit marker: the retrain's build is staged whole,
    // the marker never written. A probe serves the old index and leaves
    // the staging alone (it may be a retrain still running); the next
    // retrain drops it
    val dirB = Files.createTempDirectory("graft_rcvb_").toString
    build(base)(dirB)
    val wantB = probe(dirB, base)
    CrashFs.crashWhere(CrashFs.renameOnto(s"${Publish.txnDir(dirB)}/${Publish.Marker}"))(
      retrain(s"crash://$dirB"))
    assert(probe(dirB, base) == wantB, "a probe before the marker changed the index")
    assert(txnLeft(dirB), "a probe dropped an uncommitted retrain")
    retrain(dirB)
    assert(probe(dirB, base) == wantB, "the next retrain changed the probe")
    assert(!txnLeft(dirB), "the next retrain left the crashed transaction")
    // committed, crashed between the move's two renames: the live index
    // is retired into the transaction, the build not yet in place — the
    // next probe FINISHES the move
    val dirA = Files.createTempDirectory("graft_rcva_").toString
    build(base)(dirA)
    AnnIndex.upsertIvf(spark, dirA, extra)
    CrashFs.crashWhere(CrashFs.renameOnto(dirA))(retrain(s"crash://$dirA"))
    assert(!Files.exists(java.nio.file.Paths.get(dirA)), "the live index was not retired")
    val gotA = probe(dirA, union)
    val freshDir = Files.createTempDirectory("graft_rcva_fresh_").toString
    build(union)(freshDir)
    assert(gotA == probe(freshDir, union),
      "roll-forward recovery did not serve the staged build")
    assert(!txnLeft(dirA), "roll-forward left the transaction")
  }

  test("OPQ perm refit: drift that unbalances per-subspace variance fires the gauge; retrainPq(refitPerm) re-balances and equals the fresh permuted build") {
    // boost dims 0, 8, 16, ... 56: under the base perm those all land in
    // ONE subspace (tied base variances snake-deal by position), so the
    // balance gauge degenerates hard
    val base = synthVecs(400).localCheckpoint(true)
    val heavy = (0 until Dim).map { j =>
      if (j % 8 == 0) element_at(col("v"), j + 1) * lit(4.0)
      else element_at(col("v"), j + 1)
    }
    val wave = base
      .select((col("vec_id") + lit(1000L)).as("vec_id"), array(heavy: _*).as("v"))
    val union = base.unionByName(wave).localCheckpoint(true)
    val perm0 = Similarity.opqPermutation(base, dim = Dim, m = 4)
    val dir = Files.createTempDirectory("graft_opqrefit_").toString
    AnnIndex.trainPq(base, m = 4, sub = 16, k = 8, sampleSize = 128,
      iters = 2, salt = 11, dir = dir, perm = perm0)
    AnnIndex.upsertPq(spark, dir, base)
    AnnIndex.upsertPq(spark, dir, wave)
    def balance(): Double = {
      val v = AnnIndex.opqSubspaceVarStats(spark, dir, union)
        .collect().map(_.getDecimal(2).doubleValue())
      v.max / v.min
    }
    val pre = balance()
    assert(pre > 2.0, s"drift did not unbalance the subspaces (ratio $pre)")
    AnnIndex.retrainPq(spark, dir, union, sampleSize = 128, iters = 2,
      salt = 11, refitPerm = true)
    val post = balance()
    assert(post < pre / 2.0, s"perm refit did not re-balance: $pre -> $post")
    // == a fresh permuted build whose perm came from the same live set
    val freshDir = Files.createTempDirectory("graft_opqrefit_fresh_").toString
    AnnIndex.trainPq(union, m = 4, sub = 16, k = 8, sampleSize = 128,
      iters = 2, salt = 11, dir = freshDir,
      perm = Similarity.opqPermutation(union, dim = Dim, m = 4))
    AnnIndex.upsertPq(spark, freshDir, union)
    def codes(d: String) = spark.read.parquet(s"$d/codes")
      .select("vec_id", "code0", "code1", "code2", "code3")
      .collect().map(_.toSeq).toSet
    assert(codes(dir) == codes(freshDir))
    def perm(d: String) = spark.read.parquet(s"$d/perm")
      .orderBy("pos").collect().map(_.getAs[Int]("src")).toSeq
    assert(perm(dir) == perm(freshDir))
  }
}
