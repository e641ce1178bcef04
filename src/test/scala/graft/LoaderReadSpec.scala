package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.PipelineQueries

/** The dataloader READ contract for the sequence artifact's order keys
  * ("the key IS the order"): a consumer range-partitions the shipped
  * token rows on `order_key` (or `cur_key`) and reads split by split —
  * no global sort anywhere. These specs execute that read at sf0.001
  * and assert the property the plan pins cannot see: the concatenation
  * of splits IS the total key order (each split internally ordered,
  * split key ranges pairwise disjoint and ascending), for both the
  * epoch-shuffle and the curriculum orderings. The 1x/10x throughput
  * receipt is BASELINE.md's "Round-16 loader read receipt".
  */
class LoaderReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private val sfDir = "/root/testdata/sf0.001"

  private def shippedArtifact(): String = {
    val exp = graft.sources.TempDirs.scratch("graft_loaderspec_")
    PipelineQueries.exportShip(PipelineQueries.seqTokens(spark, sfDir), exp)
    exp
  }

  private def assertSplitOrdered(keyCol: String,
      keys: org.apache.spark.sql.DataFrame): Unit = {
    val art = spark.read.parquet(shippedArtifact())
      .select(col("shard").cast("long").as("shard"), col("seq_id"),
        col("pos"), col("doc_id"), col("token_id"))
    val stream = art.join(broadcast(keys), Seq("shard", "seq_id"))
      .repartitionByRange(8, col(keyCol))
      .sortWithinPartitions(col(keyCol), col("pos"))
    val rows = stream.select(col(keyCol)).rdd
      .mapPartitionsWithIndex { (i, it) =>
        val ks = it.map(_.getLong(0)).toVector
        if (ks.isEmpty) Iterator.empty
        else Iterator((i, ks.min, ks.max, ks == ks.sorted, ks.size))
      }.collect().sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (i, _, _, sorted, _) =>
      assert(sorted, s"split $i not internally ordered by $keyCol")
    }
    // split ranges pairwise disjoint and ascending: reading splits in
    // index order IS reading the artifact in total key order
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._3 <= b._2,
          s"splits ${a._1} and ${b._1} overlap in $keyCol: " +
            s"${a._3} > ${b._2}")
      case _ => ()
    }
    // the read covers every (key, token) pair exactly once
    val total = rows.map(_._5.toLong).sum
    val expected = art.join(broadcast(keys), Seq("shard", "seq_id")).count()
    assert(total == expected, s"read $total rows, artifact has $expected")
  }

  test("epoch-0 order_key read: split concatenation is the total order") {
    val keys = PipelineQueries.seqEpochOrder(spark, sfDir)
      .filter(col("epoch") === 0L)
      .select("shard", "seq_id", "order_key")
      .localCheckpoint(true)
    assertSplitOrdered("order_key", keys)
  }

  test("curriculum cur_key read: split concatenation is the total order") {
    val keys = PipelineQueries.seqCurriculum(spark, sfDir)
      .select("shard", "seq_id", "cur_key")
      .localCheckpoint(true)
    assertSplitOrdered("cur_key", keys)
  }
}
