package ftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

/** The report queries `ft_serve` runs: registered `ft_*` queries from
  * `SparkEntry.queries` over the fixed event table in the data
  * directory. Each result's row count and `bit_xor(xxhash64(all
  * columns))` must equal the values recorded from the seed commit in
  * `fingerprints.tsv` beside the table.
  */
object Reports {
  /** A top-K read, an increment merge, and a staged SegmentStore ingest. */
  final val Names = Seq("ft_topk", "ft_incr_merge", "ft_counts_incremental")

  /** (rows, fingerprint) of a result, over every column. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def read(path: String): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(n, rows, fp) = l.split("\t")
      n -> (rows.toLong, fp.toLong)
    }.toMap
    finally src.close()
  }
}
