package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Connected-components closure over duplicate pairs: the properties that
  * make `dedup_clusters` a correct keep-one-per-cluster dedup.
  */
class DedupClusterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val n = nodes.toDF("id")
    val e = edges.toDF("id_a", "id_b")
    Dedup.connectedComponents(n, e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("maintained assignment: cross-batch transitive merges, partition-pruned rewrites, vacated dirs dropped") {
    import spark.implicits._
    import graft.queries.DedupQueries
    val storePath =
      s"${graft.sources.TempDirs.scratch("graft_ccispec_")}/assign"
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L)
    nodes.toDF("id").select(col("id"), col("id").as("label"))
      .withColumn("part", pmod(col("label"), lit(DedupQueries.CcParts)))
      .write.partitionBy("part").parquet(storePath)
    def ingest(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      DedupQueries.ccIngest(spark, storePath, pairs.toDF("id_a", "id_b"))
      spark.read.parquet(storePath).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    }
    // batch 1: {2,3} merge (label 2), {6,7} merge (label 6)
    val a1 = ingest(Seq((2L, 3L), (6L, 7L)))
    assert(a1 == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L,
      5L -> 5L, 6L -> 6L, 7L -> 6L))
    // batch 2: the TRANSITIVE case — edge (1,3) arrives against a node
    // whose label is already 2; the label-graph merge must relabel the
    // WHOLE {2,3} component to 1, including member 2, which the batch
    // never mentions
    val a2 = ingest(Seq((1L, 3L)))
    assert(a2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 6L, 7L -> 6L))
    // batch 3: merge the two grown components via their non-label
    // members (3 ~ 7): one cluster rooted at the global min
    val a3 = ingest(Seq((3L, 7L)))
    assert(a3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 1L, 7L -> 1L))
    // an empty / no-op batch (same-component pair) leaves the store
    // untouched
    val a4 = ingest(Seq((1L, 2L)))
    assert(a4 == a3)
    // store hygiene: every surviving partition directory matches its
    // rows' labels (a fully-vacated dir would hold stale labels)
    val parts = spark.read.parquet(storePath)
      .select(pmod(col("label"), lit(DedupQueries.CcParts)).as("expect"),
        col("part").cast("long").as("part")).collect() // dir-name partition values infer as int
    parts.foreach(r => assert(r.getAs[Long]("expect") == r.getAs[Long]("part")))
  }

  test("retraction SPLITS components: removing the bridge re-clusters survivors only, retracted rows drop") {
    import spark.implicits._
    import graft.queries.DedupQueries
    val storePath =
      s"${graft.sources.TempDirs.scratch("graft_ccrspec_")}/assign"
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L)
    nodes.toDF("id").select(col("id"), col("id").as("label"))
      .withColumn("part", pmod(col("label"), lit(DedupQueries.CcParts)))
      .write.partitionBy("part").parquet(storePath)
    // chain 1-2-3 (2 is the ONLY bridge) + pair {5,6}; 4 and 7 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
      .localCheckpoint(true)
    DedupQueries.ccIngest(spark, storePath, pairs)
    def state() = spark.read.parquet(storePath).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    assert(state() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // retract the bridge: {1,2,3} minus 2 must SPLIT into {1} and {3}
    // (min-label is NOT monotone under deletion — 3 needs a NEW label),
    // every other component untouched, 2's row gone
    DedupQueries.ccRetract(spark, storePath, Seq(2L).toDF("id"), pairs)
    assert(state() == Map(1L -> 1L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // retract a component's LABEL member: survivor relabels to itself
    DedupQueries.ccRetract(spark, storePath, Seq(5L).toDF("id"), pairs)
    assert(state() == Map(1L -> 1L, 3L -> 3L, 4L -> 4L, 6L -> 6L, 7L -> 7L))
    // retracting an id absent from the store is a no-op
    DedupQueries.ccRetract(spark, storePath, Seq(99L).toDF("id"), pairs)
    assert(state() == Map(1L -> 1L, 3L -> 3L, 4L -> 4L, 6L -> 6L, 7L -> 7L))
    // store hygiene after deletes: no partition dir holds a row whose
    // label doesn't hash there, and no retracted id survives anywhere
    val rows = spark.read.parquet(storePath)
      .select(col("id"), col("label"), col("part").cast("long").as("part"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("part") ==
        math.floorMod(r.getAs[Long]("label"), DedupQueries.CcParts))
    }
  }

  test("bulk-staged cluster store equals singleton seeding plus one ccIngest of the full pair stream, row for row") {
    import graft.queries.DedupQueries
    val dir = "/root/testdata/sf0.001"
    val ids = DedupQueries.corpus(spark, dir).select(col("doc_id").as("id"))
    val pairs = DedupQueries.minhashPairsOverSigs(
        DedupQueries.minhashSigsOver(DedupQueries.corpus(spark, dir)))
      .select("id_a", "id_b").localCheckpoint(true)
    val root = graft.sources.TempDirs.scratch("graft_ccbulk_")
    val staged = s"$root/staged/assign"
    val bulk = s"$root/bulk/assign"
    ids.select(col("id"), col("id").as("label"))
      .withColumn("part", pmod(col("label"), lit(DedupQueries.CcParts)))
      .write.partitionBy("part").parquet(staged)
    DedupQueries.ccIngest(spark, staged, pairs)
    DedupQueries.ccBulkStage(spark, bulk, ids, pairs)
    def rows(p: String) = graft.sources.Publish.readParquet(spark, p)
      .select(col("id"), col("label"), col("part").cast("long")) // dir-name partition values infer as int
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val want = rows(staged)
    assert(want.size == ids.count())
    // the pair stream merged components: not a singleton-vs-singleton compare
    assert(want.exists { case (id, label, _) => id != label })
    val got = rows(bulk)
    val (bulkOnly, stagedOnly) = (got.diff(want), want.diff(got))
    if (bulkOnly.nonEmpty || stagedOnly.nonEmpty)
      fail(s"${bulkOnly.size} bulk-only rows (${bulkOnly.take(5).mkString(", ")}), " +
        s"${stagedOnly.size} staged-only rows (${stagedOnly.take(5).mkString(", ")})")
  }

  test("transitive chain closes into one cluster labeled by its min id") {
    // a-b, b-c, c-d: no (a,d) pair ever surfaced, yet all four must join.
    // A chain is also the worst case for propagation rounds (diameter 3).
    val got = cc(Seq(1L, 2L, 3L, 4L), Seq((3L, 4L), (2L, 3L), (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("isolated nodes stay singleton clusters; components do not merge") {
    val got = cc(Seq(1L, 2L, 3L, 10L, 11L, 99L),
      Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      99L -> 99L))
  }

  test("edge direction is irrelevant (symmetrized internally)") {
    assert(cc(Seq(5L, 9L), Seq((9L, 5L))) == Map(5L -> 5L, 9L -> 5L))
    assert(cc(Seq(5L, 9L), Seq((5L, 9L))) == Map(5L -> 5L, 9L -> 5L))
  }

  test("empty edge set: every node is its own cluster") {
    val got = cc(Seq(7L, 8L), Seq.empty)
    assert(got == Map(7L -> 7L, 8L -> 8L))
  }

  test("dedup_clusters on testdata: labels partition the corpus, keeper is min") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.DedupQueries.queries("dedup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // every cluster contains its own label (the keeper), which is its min
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, ms) =>
      assert(ms.map(_._1).min == cid, s"cluster $cid keeper is not min")
      assert(ms.forall(_._3 == ms.length), s"cluster $cid size mismatch")
    }
    // near-dup corpus construction: doc X, exact copy X+10M and near-dup
    // X+20M must all land in X's cluster for at least one X
    assert(rows.exists { case (id, cid, sz) => id >= 10000000L && cid < 10000000L && sz >= 2 },
      "no duplicate copy was clustered with its original")
  }
}
