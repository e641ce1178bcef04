package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Tables

/** Deduplication queries over a synthetic "re-crawl" corpus: the
  * documents table plus exact copies (30% of docs, id+10M) and near-dup
  * copies with the two leading tokens dropped (10%, id+20M). Both engines
  * build the identical corpus, so every dedup decision — candidate
  * generation through verification — is oracle-checkable.
  */
object DedupQueries {

  final val MinhashK = 16
  final val Bands = 4
  final val RowsPerBand = 4
  final val JaccardThreshold = 0.4
  final val MaxDocFreq = 50
  final val HammingMax = 3
  final val CosineThreshold = 0.999
  /** Hot-bucket cap for banded candidate generation (minhash / simhash /
    * embedding): (band, key) buckets above this population are dropped
    * before the pair self-join — the guard against boilerplate
    * mega-clusters turning one bucket into |bucket|^2/2 pairs. Encoded
    * in the DuckDB oracles too, so the guard itself is oracle-checked.
    * 100 at sf<=0.1 plays the same role 10k does at corpus scale
    * ([[graft.operators.Dedup.DefaultMaxBucket]]).
    */
  final val MaxBucket = 100
  /** dedup_substring: duplicated-window length in tokens (the ExactSubstr
    * unit — a shared run of ≥ SubstrLen contiguous tokens is a verbatim
    * duplicate worth reporting; shorter overlaps are phrase reuse). 15 at
    * the synthetic vocab plays the role 50 does over BPE tokens at corpus
    * scale: far above the longest chance collision.
    */
  final val SubstrLen = 15
  /** dedup_substring: windows present in more than this many distinct docs
    * are templated boilerplate (licenses, navigation chrome) — dropped
    * before the pair join, same trade as [[MaxDocFreq]].
    */
  final val SubstrMaxDf = 50

  /** Salt for dedup_substring_scrub's clean_text fingerprint — the
    * BIGINT compare surface the driver's single-shot DuckDB checker
    * reads instead of the raw long-VARCHAR text (the r17 flake class).
    */
  final val ScrubSalt = 31

  /** dedup_embedding blocking: 4 bands x 16 sign bits over the 64 dims. */
  final val EmbBands = 4
  final val EmbBitsPerBand = 16
  /** dedup_semantic: keep-one-per-cluster threshold and the planted
    * perturbation. eps=0.05 on every-7th dim of a unit vector lands
    * planted near-dups at cosine ~0.988 (vs ~0.49 max between unrelated
    * corpus vectors) — above the 0.98 threshold with margin on both
    * sides; the two differently-perturbed variants of one base sit at
    * ~0.976, BELOW threshold, so their cluster only forms transitively
    * through the base vector — exercising the component closure, not
    * just pairwise capture.
    */
  final val SemCosine = 0.98
  final val SemEps = 0.05

  /** Cross-snapshot near-dup pairs (id_new, id_old, jaccard): the
    * incoming batch ([[corpus]] ids >= 10M) probed against a MinHash
    * signature index stored over the existing documents — the daily
    * crawl's dedup gate. Batch-sized work against an index of any size:
    * only the batch is shingled/signed; the stored side contributes the
    * banded buckets the batch keys touch.
    */
  private[queries] def crossDupPairs(s: SparkSession, dir: String): DataFrame =
    crossDupPairsOf(s, dir, corpus(s, dir).filter(col("doc_id") >= 10000000L))

  /** As [[crossDupPairs]] with a caller-supplied incoming batch
    * (doc_id, text) — pipe_curate_incremental widens the batch with a
    * genuinely-new-docs arm.
    */
  private[queries] def crossDupPairsOf(s: SparkSession, dir: String,
                                       incoming: DataFrame): DataFrame = {
    val existing = Tables.documents(s, dir).select("doc_id", "text")
    val idxDir = graft.sources.TempDirs.scratch("graft_mhidx_")
    graft.sources.AnnIndex.saveMinhash(existing, MinhashK, Bands, RowsPerBand, idxDir)
    probeMinhash(s, idxDir, incoming)
  }

  /** Probe a stored MinHash index with an incoming (doc_id, text)
    * batch: verified cross-snapshot pairs (id_new, id_old, jaccard).
    * Only the batch is shingled/signed; the index contributes the
    * banded buckets the batch keys touch. Shared by the plain, upsert,
    * and retract incremental-dedup queries so "probe after maintenance"
    * is one code path.
    */
  private[queries] def probeMinhash(s: SparkSession, idxDir: String,
                                    incoming: DataFrame): DataFrame =
    probeMinhashSigs(s, idxDir, minhashSigsOver(incoming))

  /** [[probeMinhash]] over an already-signed (and materialized) batch
    * frame ([[minhashSigsOver]]'s shape) — so a caller that also needs
    * the batch's internal pairs signs the batch exactly once.
    */
  private[graft] def probeMinhashSigs(s: SparkSession, idxDir: String,
                                      nw: DataFrame): DataFrame = {
    val old = graft.sources.AnnIndex.minhashSigs(s, idxDir)
    Dedup.candidatePairsAcross(old, nw, "doc_id", "keys", MaxBucket)
      .join(nw.select(col("doc_id").as("id_new"), col("sh").as("sh_n")), "id_new")
      .join(old.select(col("doc_id").as("id_old"), col("sh").as("sh_o")), "id_old")
      .withColumn("jaccard", Dedup.jaccard(col("sh_n"), col("sh_o")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("id_new", "id_old", "jaccard")
  }

  /** documents + exact dups + near dups (leading 2 tokens dropped). */
  def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val toks = TextAnalysis.tokens(col("text"))
    val exact = d.filter(col("doc_id") % 10 < 3)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val near = d.filter(col("doc_id") % 10 === 3 && size(toks) >= 10)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        array_join(slice(toks, lit(3), size(toks) - 2), " ").as("text"))
    d.unionByName(exact).unionByName(near)
  }

  private[queries] val corpusCte =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 10 < 3
      |  UNION ALL
      |  SELECT doc_id + 20000000,
      |         array_to_string(list_filter(string_split(text, ' '), t -> t != '')[3:], ' ')
      |  FROM documents
      |  WHERE doc_id % 10 = 3
      |    AND len(list_filter(string_split(text, ' '), t -> t != '')) >= 10
      |)""".stripMargin

  /** [[corpusCte]] with the BASE leg filtered — the retraction oracles'
    * corpus-without (arms untouched: a takedown removes the stored
    * source docs; the re-crawled copies keep arriving).
    */
  private[queries] def corpusCteWhere(basePred: String): String =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents WHERE $basePred
      |  UNION ALL
      |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 10 < 3
      |  UNION ALL
      |  SELECT doc_id + 20000000,
      |         array_to_string(list_filter(string_split(text, ' '), t -> t != '')[3:], ' ')
      |  FROM documents
      |  WHERE doc_id % 10 = 3
      |    AND len(list_filter(string_split(text, ' '), t -> t != '')) >= 10
      |)""".stripMargin

  /** Distinct 3-gram shingle set, as a CTE adding `sh` to corpus. */
  private[queries] val shinglesCte =
    """tok AS (
      |  SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t != '') AS toks
      |  FROM corpus
      |), shs AS (
      |  SELECT doc_id, text,
      |    list_distinct(CASE WHEN len(toks) < 3 THEN [text]
      |         ELSE list_transform(generate_series(1, len(toks) - 2),
      |                i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
      |    END) AS sh
      |  FROM tok
      |)""".stripMargin

  /** Verified MinHash near-dup pairs (id_a < id_b, jaccard >= threshold).
    * Materializes the signature table once (localCheckpoint, not persist:
    * the blocks release with the plan instead of pinning the session's
    * cache manager across invocations): it feeds candidate generation AND
    * both sides of the verify join — without it Spark re-derives the
    * shingle+signature subtree per reference. At pipeline scale this is
    * the materialized signatures table every LSH dedup job writes.
    */
  private[queries] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsOver(corpus(s, dir))

  /** [[minhashPairs]] over an arbitrary (doc_id, text) relation — the
    * batch-internal half of an incremental ingest's pair stream (the
    * cross-boundary half comes from the stored-index probe,
    * [[crossDupPairsOf]]). Same frozen signature family, so the split
    * derivation equals the union pipeline's pairs wherever bucket caps
    * don't differentially bind (they fire in neither regime at gate
    * SFs — the dedup_incremental equivalence argument).
    */
  private[queries] def minhashPairsOver(c0: DataFrame): DataFrame =
    minhashPairsOverSigs(minhashSigsOver(c0))

  /** The frozen signature columns over a `(doc_id, text)` relation,
    * MATERIALIZED (localCheckpoint): candidate generation, both verify
    * joins, and — in the curated maintenance legs — the stored-index
    * build ([[graft.sources.AnnIndex.saveMinhashSigs]]) all read this
    * one frame, so the shingle+signature pass over the corpus runs
    * exactly once per staging.
    */
  private[graft] def minhashSigsOver(c0: DataFrame): DataFrame =
    c0
      .withColumn("sh", Dedup.shingleSet(col("text")))
      .withColumn("sig", Dedup.minhashSignature(col("sh"), MinhashK))
      .withColumn("keys", Dedup.bandKeys(col("sig"), Bands, RowsPerBand))
      .localCheckpoint(true)

  /** The pair derivation over an already-signed (and materialized)
    * frame — [[minhashPairsOver]]'s tail, factored so a caller holding
    * the signature frame for other uses never re-signs the corpus.
    */
  private[graft] def minhashPairsOverSigs(c: DataFrame): DataFrame = {
    val pairs = Dedup.candidatePairs(c, "doc_id", "keys", MaxBucket)
    pairs
      .join(c.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(c.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Shared CTE chain for the ExactSubstr oracles (corpus → token
    * windows → df-kept → matched positions → per-diagonal island runs)
    * — the SQL mirror of [[substringRuns]]; both oracles build on its
    * `runs` CTE so detector and scrub can never disagree about what a
    * duplicated span is.
    */
  private lazy val substringRunsSql: String =
    s"""WITH $corpusCte, tokw AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
       |  FROM corpus
       |), starts AS (
       |  SELECT doc_id, toks,
       |         unnest(generate_series(1, len(toks) - ${SubstrLen - 1})) AS pos
       |  FROM tokw WHERE len(toks) >= $SubstrLen
       |), win AS (
       |  SELECT doc_id, pos,
       |         array_to_string(toks[pos:pos + ${SubstrLen - 1}], ' ') AS w
       |  FROM starts
       |), keep AS (
       |  SELECT w FROM (
       |    SELECT w, COUNT(DISTINCT doc_id) AS df FROM win GROUP BY w
       |  ) WHERE df BETWEEN 2 AND $SubstrMaxDf
       |), m AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
       |  FROM win a JOIN win b ON a.w = b.w AND a.doc_id < b.doc_id
       |  WHERE a.w IN (SELECT w FROM keep)
       |), runs AS (
       |  SELECT id_a, id_b, pos_b, pos_a - pos_b AS diag,
       |         pos_a - ROW_NUMBER() OVER (
       |           PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS island
       |  FROM m
       |)""".stripMargin

  /** Matched-window runs for the ExactSubstr queries: one row per
    * maximal chain of consecutive shared [[SubstrLen]]-token windows
    * between a doc pair (id_a < id_b), with the chain length (`run`,
    * in windows — the common substring spans run + SubstrLen − 1
    * tokens) and its starting token position on the b side
    * (`start_b`, 1-based). Window fingerprints are 8 bytes before any
    * exchange; only df ∈ [2, SubstrMaxDf] fingerprints enter the pair
    * join (df=1 windows die in the semi-join, df>cap boilerplate is
    * dropped like dedup_ngram's stop-shingles); chains are recovered
    * by gaps-and-islands over (pair, diagonal) — one window pass,
    * partition-bounded by the pair's doc lengths.
    */
  private[queries] def substringRuns(s: SparkSession, dir: String): DataFrame = {
    val fx = substringPostings(s, dir)
    val m = fx.select(col("doc_id").as("id_a"), col("pos").as("pos_a"), col("fp"))
      .join(fx.select(col("doc_id").as("id_b"), col("pos").as("pos_b"), col("fp")), "fp")
      .filter(col("id_a") < col("id_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("pos_a") - col("pos_b"))
      .orderBy("pos_a")
    m.withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"),
        (col("pos_a") - col("pos_b")).as("diag"), col("island"))
      .agg(count(lit(1)).as("run"), min("pos_b").as("start_b"))
  }

  /** The df-pruned window-fingerprint posting list `(doc_id, pos, fp)`
    * that feeds BOTH sides of [[substringRuns]]' pair join — extracted
    * so [[substringPairMass]] measures exactly what the join consumes.
    */
  private[graft] def substringPostings(s: SparkSession, dir: String): DataFrame = {
    val L = SubstrLen
    val c = corpus(s, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("toks")) >= L)
    val ex = c.select(col("doc_id"),
        posexplode(expr(s"transform(sequence(1, size(toks) - ${L - 1}), " +
          s"i -> array_join(slice(toks, i, $L), ' '))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        graft.functions.Md5Long60Expr(col("col"), 0).as("fp"))
      .localCheckpoint(true) // feeds the df filter and both join sides
    val keep = ex.groupBy("fp").agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= 2 && col("df") <= SubstrMaxDf).select("fp")
    ex.join(keep, "fp").localCheckpoint(true)
  }

  /** PAIR-MASS receipt for the superlinear-tail watch: the number of
    * candidate pairs the pair join must consider, Σ over surviving keys
    * of n·(n−1)/2 (n = posting rows per key after df pruning). The
    * probe records it next to wall time so the scaling claim names its
    * bound — the ngram/substring curves are driven by PAIR MASS
    * (planted-duplicate density), not corpus size; if mass ever
    * outgrows rows at a scale step, the df caps need tightening.
    */
  private[graft] def substringPairMass(s: SparkSession, dir: String): Long =
    pairMassOf(substringPostings(s, dir), "fp")

  /** The stop-shingle-pruned fingerprint posting list `(doc_id, sid)` —
    * dedup_ngram's inverted index, exploded once and materialized
    * (localCheckpoint so the blocks release with the plan, not at
    * session end) because it feeds doc-freq pruning, per-doc sizes, and
    * both sides of the shared-shingle join.
    */
  private[graft] def ngramPostings(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir).withColumn("sh", Dedup.shingleSet(col("text")))
    val ex = c.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), graft.functions.Md5Long60Expr(col("shingle"), 0).as("sid"))
      .localCheckpoint(true)
    val keep = ex.groupBy("sid").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDocFreq).select("sid")
    ex.join(keep, "sid").localCheckpoint(true)
  }

  /** [[substringPairMass]]'s twin over [[ngramPostings]]. */
  private[graft] def ngramPairMass(s: SparkSession, dir: String): Long =
    pairMassOf(ngramPostings(s, dir), "sid")

  private def pairMassOf(postings: DataFrame, key: String): Long =
    postings.groupBy(key).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1L) / lit(2L)), lit(0L))
        .cast("long").as("mass"))
      .head().getLong(0)

  /** dedup_clusters_incremental's assignment-store partition count. */
  final val CcParts = 16L

  /** One maintenance ingest of the MAINTAINED cluster assignment — a
    * third maintenance shape next to the additive segment store and
    * the key-replace indexes: component labels are MONOTONE (min-label
    * only ever decreases), so merging a batch of new duplicate pairs
    * never needs the full-graph BSP loop the one-shot dedup_clusters
    * runs. Per ingest: (1) lift the batch's endpoints to their current
    * labels — two equi joins against the assignment, the one linear
    * pass (AQE broadcasts the batch side); (2) run connected
    * components on the LABEL GRAPH (nodes = touched labels, edges =
    * cross-component batch pairs — batch-bounded, a few rounds over a
    * tiny frame); (3) rewrite ONLY the label partitions the remap
    * touches (the AnnIndex upsert discipline: read touched `part`
    * dirs, remap, replace them in ONE
    * [[graft.sources.Publish.replaceParts]] transaction, which drops
    * fully-vacated dirs).
    * Correctness is an invariant, not a hope: if the store holds
    * min-label components of all pairs seen so far, merging components
    * by label-graph CC with `least` labels yields min-label components
    * of the union — so the staged form converges bit-exactly to the
    * one-shot oracle regardless of how pairs are batched.
    */
  /** Register a batch of NEW docs as singleton components before their
    * pairs ingest — the missing half of [[ccIngest]]'s contract (it
    * merges labels of docs the store already knows). Touched `part`
    * dirs are read + unioned + replaced in ONE
    * [[graft.sources.Publish.replaceParts]] transaction (the AnnIndex
    * upsert discipline); ids must be fresh (an id the store already
    * holds would duplicate its row — the caller's batch contract).
    */
  /** BULK-BUILD a cluster-assignment store: write the min-label
    * components of `(ids, pairs)` directly — the store content is
    * bit-identical to seeding every id as a singleton and replaying
    * the full pair stream through [[ccIngest]] (the staged form's
    * invariant: min-label components of all pairs seen so far), without
    * the second full-store rewrite, the orphan-gate join, or the
    * label-graph lift that the incremental path must pay per batch.
    * This is how a store is STAGED (bootstrap); batches flow through
    * [[ccSeedAppend]]/[[ccIngest]]/[[ccRetract]] afterwards.
    */
  private[graft] def ccBulkStage(s: SparkSession, storePath: String,
      ids: DataFrame, pairs: DataFrame): Unit =
    Dedup.connectedComponents(ids, pairs.select("id_a", "id_b"),
        requireConverged = true)
      .withColumn("part", pmod(col("label"), lit(CcParts)))
      .repartition(col("part"))
      .write.partitionBy("part").parquet(storePath)

  private[graft] def ccSeedAppend(s: SparkSession, storePath: String,
      ids: DataFrame): Unit = {
    val nw = ids.select(col("id"), col("id").as("label"))
      .withColumn("part", pmod(col("label"), lit(CcParts)))
      .localCheckpoint(true) // part probe + union read it
    val touched = nw.select("part").distinct()
      .collect().map(_.getLong(0)) // <= CcParts rows
    if (touched.isEmpty) return
    val cur = graft.sources.Publish.readParquet(s, storePath)
      .filter(col("part").isin(touched.map(Long.box): _*))
      .select("id", "label", "part")
    graft.sources.Publish.replaceParts(s, storePath, "part", touched,
      cur.unionByName(nw))
  }

  private[graft] def ccIngest(s: SparkSession, storePath: String,
      pairBatch: DataFrame): Unit = {
    def assign = graft.sources.Publish.readParquet(s, storePath)
    // LOUD on an unseeded endpoint: an inner join would silently DROP
    // a pair whose doc was never registered ([[ccSeedAppend]] must run
    // before the batch's pairs ingest — the one-maintainer ordering),
    // and a silently vanished edge corrupts every later clustering.
    val lifted = pairBatch
      .join(assign.select(col("id").as("id_a"), col("label").as("la")),
        Seq("id_a"), "left")
      .join(assign.select(col("id").as("id_b"), col("label").as("lb")),
        Seq("id_b"), "left")
      .localCheckpoint(true) // orphan gate + edge derivation read it
    val orphans = lifted.filter(col("la").isNull || col("lb").isNull)
      .select(when(col("la").isNull, col("id_a")).otherwise(col("id_b"))
        .as("id"))
      .limit(5).collect().map(_.getLong(0))
    require(orphans.isEmpty,
      s"ccIngest: pair endpoints not in the assignment store " +
        s"(seed the batch first): ${orphans.mkString(", ")}")
    val edges = lifted
      .filter(col("la") =!= col("lb")) // same-component pairs are no-ops
      .select(col("la").as("id_a"), col("lb").as("id_b"))
      .distinct().localCheckpoint(true) // label-graph CC + emptiness read it
    if (!edges.isEmpty) {
      val lblNodes = edges.select(col("id_a").as("id"))
        .unionByName(edges.select(col("id_b").as("id"))).distinct()
      // requireConverged: this CC's labels are PERSISTED — a silent
      // maxIter truncation would compound across later ingests
      val remap = Dedup.connectedComponents(lblNodes, edges,
          requireConverged = true)
        .filter(col("id") =!= col("label"))
        .select(col("id").as("old_label"), col("label").as("new_label"))
        .localCheckpoint(true) // part probe + rewrite join read it
      val touched = remap
        .select(pmod(col("old_label"), lit(CcParts)).as("part"))
        .unionByName(remap.select(pmod(col("new_label"), lit(CcParts)).as("part")))
        .distinct().collect().map(_.getLong(0)) // <= CcParts rows
      val cur = assign.filter(col("part").isin(touched.map(Long.box): _*))
      val updated = cur
        .join(remap, cur("label") === remap("old_label"), "left")
        .select(col("id"),
          coalesce(col("new_label"), col("label")).as("label"))
        .withColumn("part", pmod(col("label"), lit(CcParts)))
      // a touched dir whose every component moved out is retired
      graft.sources.Publish.replaceParts(s, storePath, "part", touched,
        updated)
    }
  }

  /** RETRACTION from the maintained cluster assignment — the takedown
    * path [[ccIngest]] cannot provide: min-label is monotone only under
    * edge ADDITION; deleting a doc can SPLIT its component (a∼b∼c loses
    * b — a and c must part ways), so the store's labels cannot be
    * patched incrementally. The bounded recompute: (1) the retracted
    * ids name their components — the AFFECTED label set (small: one
    * label per touched cluster); (2) only those components' surviving
    * members re-cluster, over the observed pair graph restricted to
    * them (both endpoints surviving — a takedown removes the node and
    * its edges) — work is bounded by the touched components' member and
    * edge counts, never the corpus; (3) the rewrite touches only the
    * `part` directories of affected old labels and the new labels
    * (retracted rows drop, vacated dirs are cleaned — the ccIngest
    * rewrite discipline). Because MinHash band keys and Jaccard are
    * row-pair-local, the observed-pairs-minus-retracted graph equals
    * the pair graph of the corpus-without (bucket caps fire in neither
    * regime at gate SFs), so staged add→retract converges bit-exactly
    * to the one-shot clustering of the corpus WITHOUT the retracted
    * docs — the dedup_clusters_retract oracle.
    *
    * @param pairs the verified duplicate pair stream the store was fed
    *              (id_a, id_b) — the graph retraction operates on
    */
  private[graft] def ccRetract(s: SparkSession, storePath: String,
      retractIds: DataFrame, pairs: DataFrame): Unit = {
    def assign = graft.sources.Publish.readParquet(s, storePath)
    val rid = retractIds.select(col("id")).distinct().localCheckpoint(true)
    if (rid.isEmpty) return
    val affected = assign.join(rid, "id")
      .select("label").distinct().localCheckpoint(true)
    val members = assign.join(affected, "label")
      .select("id", "label").localCheckpoint(true)
    val survivors = members.join(rid, Seq("id"), "left_anti")
      .select("id").localCheckpoint(true)
    val subEdges = pairs.select("id_a", "id_b")
      .join(survivors.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(survivors.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
    // requireConverged: these labels are persisted (the ccIngest rule)
    val relab = Dedup.connectedComponents(survivors, subEdges,
      requireConverged = true)
    val touched = affected
      .select(pmod(col("label"), lit(CcParts)).as("part"))
      .unionByName(relab.select(pmod(col("label"), lit(CcParts)).as("part")))
      .distinct().collect().map(_.getLong(0)) // <= CcParts rows
    val cur = assign.filter(col("part").isin(touched.map(Long.box): _*))
    // every affected-component row (member or retracted) is replaced or
    // dropped; unaffected rows sharing a touched dir ride along
    val updated = cur.join(affected, Seq("label"), "left_anti")
      .select("id", "label")
      .unionByName(relab.select("id", "label"))
      .withColumn("part", pmod(col("label"), lit(CcParts)))
    graft.sources.Publish.replaceParts(s, storePath, "part", touched, updated)
  }


  /** The applied ExactSubstr scrub with the RAW rebuilt text (keep-first
    * span removal + positional anti-join rebuild — plan commentary on
    * the registered `dedup_substring_scrub` entry). Exposed separately
    * so PipelineSurfaceSpec can pin clean_text BYTE-LEVEL while the
    * registered query ships only its (length, md5-60) BIGINT folds to
    * the driver's single-shot DuckDB compare.
    */
  private[graft] def substringScrubbed(s: SparkSession, dir: String): DataFrame = {
    val L = SubstrLen
      val spans0 = substringRuns(s, dir)
        .select(col("id_b").as("doc_id"), col("start_b").cast("long").as("s"),
          (col("start_b") + col("run") + lit(L - 2)).cast("long").as("e"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("s", "e")
      val merged = spans0
        .withColumn("pmax", max("e").over(wOrd.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
        .withColumn("flag",
          when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
        .withColumn("grp", sum("flag").over(wOrd.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "grp")
        .agg(min("s").as("s"), max("e").as("e"))
        .localCheckpoint(true) // feeds stats, the anti-join, and affected
      val affected = merged.select("doc_id").distinct()
      val stats = merged.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s") + 1).cast("long").as("tokens_removed"))
      val tokPos = corpus(s, dir).join(affected, "doc_id")
        .withColumn("toks", TextAnalysis.tokens(col("text")))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          posexplode(col("toks")))
        .select(col("doc_id"), col("n_tokens"),
          (col("pos") + 1).cast("long").as("pos"), col("col").as("tok"))
        .localCheckpoint(true) // n_tokens side + kept side
      val sp = merged.select(col("doc_id").as("m_doc"), col("s"), col("e"))
      val rebuilt = tokPos
        .join(sp, tokPos("doc_id") === sp("m_doc")
          && tokPos("pos") >= sp("s") && tokPos("pos") <= sp("e"), "left_outer")
        .filter(col("s").isNull)
        .groupBy("doc_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("clean_text"))
      tokPos.select("doc_id", "n_tokens").distinct()
        .join(stats, "doc_id")
        .join(rebuilt, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          col("tokens_removed"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: hash-groupBy on the text fingerprint.
    "dedup_exact" -> ((s, dir) =>
      corpus(s, dir)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("fp")),

    // MinHash + LSH banding: row-local signatures, band-key join for
    // candidates, exact-Jaccard verification.
    "dedup_minhash" -> ((s, dir) =>
      minhashPairs(s, dir).orderBy("id_a", "id_b")),

    // Duplicate CLUSTERS: connected components over the verified MinHash
    // pairs ([[Dedup.connectedComponents]] — BSP min-label propagation,
    // rounds bounded by component diameter). Pairwise output alone
    // under-deletes (a~b, b~c retires only one doc unless the transitive
    // cluster is closed); this emits every corpus doc with its canonical
    // cluster id (= min doc_id of the component — the keeper) and the
    // cluster's size. The dedup a real pipeline runs: keep rows where
    // doc_id = cluster_id.
    "dedup_clusters" -> ((s, dir) => {
      val nodes = corpus(s, dir).select(col("doc_id").as("id"))
      val cc = Dedup.connectedComponents(nodes,
        minhashPairs(s, dir).select("id_a", "id_b"))
      val sizes = cc.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "label")
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          col("cluster_size"))
        .orderBy("doc_id")
    }),

    // MAINTAINED duplicate clusters ([[ccIngest]]): the assignment
    // store seeds every corpus doc as a singleton, then the verified
    // pair stream lands in three staged batches — each merged by
    // label-graph CC with only the touched label partitions rewritten,
    // no full-graph BSP loop after the seed. The daily-crawl shape:
    // yesterday's cluster state absorbs today's verified pairs for
    // O(batch + touched components) instead of re-clustering the
    // corpus. Transitive merges ACROSS batches are the point (a~b in
    // batch 1, b~c in batch 3 must land a, b, c in one cluster) and
    // the min-label invariant makes them exact: converges bit-for-bit
    // to the one-shot dedup_clusters oracle under any batching.
    "dedup_clusters_incremental" -> ((s, dir) => {
      val storePath = s"${graft.sources.TempDirs.scratch("graft_cci_")}/assign"
      corpus(s, dir).select(col("doc_id").as("id"))
        .select(col("id"), col("id").as("label"))
        .withColumn("part", pmod(col("label"), lit(CcParts)))
        .repartition(col("part"))
        .write.partitionBy("part").parquet(storePath)
      val pairs = minhashPairs(s, dir).select("id_a", "id_b")
        .localCheckpoint(true) // three batch filters read it
      (0L until 3L).foreach { b =>
        ccIngest(s, storePath,
          pairs.filter(pmod(col("id_a") + col("id_b"), lit(3L)) === b))
      }
      val a = graft.sources.Publish.readParquet(s, storePath).select("id", "label")
        .localCheckpoint(true) // sizes + final join read it
      val sizes = a.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      a.join(sizes, "label")
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          col("cluster_size"))
        .orderBy("doc_id")
    }),

    // TAKEDOWN on the maintained cluster assignment ([[ccRetract]]) —
    // the retraction path every add-only maintained structure was
    // missing: the store absorbs the full corpus and its verified pair
    // stream (seed singletons + one ccIngest), then every near-dup
    // SOURCE doc (base ids, doc_id % 10 = 3 — each anchoring a planted
    // cluster) is retracted. Min-label is NOT monotone under deletion,
    // so only the touched components' survivors re-cluster over the
    // surviving pair graph, and only their label partitions rewrite.
    // Converges bit-exactly to the one-shot clustering of the corpus
    // WITHOUT the retracted docs (the oracle recomputes the whole
    // pipeline on the reduced corpus — candidate discovery included),
    // which is exactly what "the doc is gone" must mean downstream.
    "dedup_clusters_retract" -> ((s, dir) => {
      val storePath = s"${graft.sources.TempDirs.scratch("graft_ccr_")}/assign"
      val pairs = minhashPairs(s, dir).select("id_a", "id_b")
        .localCheckpoint(true) // staging + retraction graph read it
      // stage the absorbed store in one bulk build (content identical
      // to seed-singletons + one full-stream ccIngest — see ccBulkStage);
      // the measured event is the retraction below
      ccBulkStage(s, storePath, corpus(s, dir).select(col("doc_id").as("id")),
        pairs)
      ccRetract(s, storePath,
        corpus(s, dir).filter(col("doc_id") < 10000000L &&
          col("doc_id") % 10 === 3).select(col("doc_id").as("id")),
        pairs)
      val a = graft.sources.Publish.readParquet(s, storePath).select("id", "label")
        .localCheckpoint(true) // sizes + final join read it
      val sizes = a.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      a.join(sizes, "label")
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          col("cluster_size"))
        .orderBy("doc_id")
    }),

    // SimHash: 60-bit signature, 15-bit band blocking (4 bands ⇒ any pair
    // within Hamming distance 3 shares a band), Hamming verify.
    "dedup_simhash" -> ((s, dir) => {
      val c = corpus(s, dir).withColumn("sim", Dedup.simhashExpr)
        .withColumn("keys", array((0 until 4).map(b =>
          shiftright(col("sim"), 15 * b).bitwiseAND(lit(32767L))): _*))
        .localCheckpoint(true) // reused 3x, see dedup_minhash
      val pairs = Dedup.candidatePairs(c, "doc_id", "keys", MaxBucket)
      pairs
        .join(c.select(col("doc_id").as("id_a"), col("sim").as("sim_a")), "id_a")
        .join(c.select(col("doc_id").as("id_b"), col("sim").as("sim_b")), "id_b")
        .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
        .filter(col("hamming") <= HammingMax)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    }),

    // n-gram Jaccard via the relational plan: explode shingles, drop stop
    // shingles (doc-freq > MaxDocFreq), shared-count join, verify. The
    // posting list carries the shingle's 60-bit fingerprint, not the
    // string: 8-byte shuffle/join keys instead of ~25-byte text. Both
    // engines hash identically, so the (astronomically rare) fingerprint
    // collision would alter both results the same way — cross-engine
    // parity is preserved by construction.
    "dedup_ngram" -> ((s, dir) => {
      val fx = ngramPostings(s, dir)
      val sizes = fx.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val shared = fx.select(col("doc_id").as("id_a"), col("sid"))
        .join(fx.select(col("doc_id").as("id_b"), col("sid")), "sid")
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      shared
        .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), "id_b")
        .withColumn("jaccard",
          col("inter").cast("double") /
            ((col("sz_a") + col("sz_b")).cast("double") - col("inter").cast("double")))
        .filter(col("jaccard") >= JaccardThreshold)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    }),

    // EXACT-SUBSTRING dedup (the ExactSubstr family of "Deduplicating
    // Training Data Makes Language Models Better", Lee et al. 2021):
    // duplicated SubstrLen-token windows across docs, plus the longest
    // exact common token run per pair, recovered from the matched
    // windows by a gaps-and-islands pass over (pair, diagonal) —
    // consecutive window starts on one diagonal form one contiguous
    // common substring of L + run − 1 tokens. Complements the shingle-
    // SET queries: dedup_ngram's Jaccard ignores order and contiguity,
    // while this is the order-exact detector a verbatim-memorization
    // audit needs (the paper's motivating case). Scale shape: the
    // window stream is linear (T windows per doc) and projects to an
    // 8-byte fingerprint BEFORE any exchange — the L× string blow-up
    // lives inside a single codegen stage and never shuffles; only
    // df-bounded [2, SubstrMaxDf] fingerprints enter the pair join
    // (df=1 windows, the overwhelming mass of any natural corpus, die
    // in the semi-join; df>cap boilerplate is dropped the same way as
    // dedup_ngram's stop-shingles); run recovery is one window pass
    // per (pair, diag) partition, bounded by the pair's doc lengths.
    "dedup_substring" -> ((s, dir) =>
      substringRuns(s, dir)
        .groupBy("id_a", "id_b")
        .agg(sum("run").cast("long").as("n_shared"),
          (lit(SubstrLen.toLong) + max("run") - lit(1L)).cast("long")
            .as("longest_match"))
        .orderBy("id_a", "id_b")),

    // APPLIED substring dedup (what the ExactSubstr pipeline actually
    // does to the corpus): remove every duplicated span from the
    // HIGHER-id doc of each pair — keep-first policy, one canonical
    // copy survives — and emit the scrubbed doc. Runs on one doc merge
    // across pairs/diagonals by classic interval union (running-max-end
    // gaps-and-islands, one window pass per doc); the scrubbed text is
    // rebuilt by a positional anti-join (doc_id-equi join + span range
    // predicate — never a non-equi-only join) and an order-restoring
    // sorted fold. Per-doc span counts are pair-bounded, so the rebuild
    // is linear in affected-doc tokens.
    // COMPARE SURFACE = (length, 60-bit salted md5) of the rebuilt
    // text, both BIGINT, NOT the raw clean_text VARCHAR: r17's driver
    // artifact recorded hash_match=false on this query while two idle
    // re-runs passed bit-exact — the same DuckDB-under-load single-shot
    // value-compare flake class as r16's sim_ann_opq_drift, rotated to
    // the next-widest compare surface (the scrub's long VARCHAR). The
    // raw text itself stays pinned byte-level by PipelineSurfaceSpec
    // (token-reconcile + fp/len tie-back over [[substringScrubbed]]).
    "dedup_substring_scrub" -> ((s, dir) =>
      substringScrubbed(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          col("tokens_removed"),
          length(col("clean_text")).cast("long").as("clean_len"),
          graft.functions.Md5Long60Expr(col("clean_text"), ScrubSalt)
            .as("clean_fp"))
        .orderBy("doc_id")),

    // INCREMENTAL dedup (cross-snapshot): today's crawl — the exact/near
    // variants — deduped against the STORED corpus, whose signatures are
    // read from the persisted MinHash index (AnnIndex.saveMinhash), not
    // recomputed. Only the batch computes shingles + signatures; the
    // candidate join is index x batch (candidatePairsAcross), so the job
    // is batch-sized regardless of corpus size. Bucket caps run over the
    // combined population — identical bucket membership to the symmetric
    // path over the union — so the oracle is the standard pair pipeline
    // restricted to pairs that cross the old/new boundary. NOTE for
    // bench reading: the self-contained driver contract rebuilds the
    // index into a scratch dir per invocation, so the bench number is
    // index build + dedup; the deployed shape reads the stored index
    // (the flat fixed-batch row in BASELINE.md's round-7 addendum).
    "dedup_incremental" -> ((s, dir) =>
      crossDupPairs(s, dir).orderBy("id_new", "id_old")),

    // Incremental dedup against a MAINTAINED index: same cross-snapshot
    // semantics as dedup_incremental, but the stored signature table is
    // built in two installments — saveMinhash on half the corpus, then
    // AnnIndex.upsertMinhash for the rest (the touched pmod(doc_id)
    // directories only, replaced in one Publish.replaceParts
    // transaction; signature family frozen in meta). The maintained index is row-identical to a full rebuild
    // (AnnIndexSpec convergence), so the dedup_incremental oracle gates
    // the whole build -> upsert -> probe cycle: the shape where
    // yesterday's index absorbs today's crawl without re-signing the
    // corpus, then dedups tomorrow's batch.
    "dedup_incremental_upsert" -> ((s, dir) => {
      val existing = Tables.documents(s, dir).select("doc_id", "text")
      val toks = TextAnalysis.tokens(col("text"))
      val incoming = existing.filter(col("doc_id") % 10 < 3)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
        .unionByName(existing.filter(col("doc_id") % 10 === 3 && size(toks) >= 10)
          .select((col("doc_id") + 20000000L).as("doc_id"),
            array_join(slice(toks, lit(3), size(toks) - 2), " ").as("text")))
      val idxDir = graft.sources.TempDirs.scratch("graft_mhups_")
      graft.sources.AnnIndex.saveMinhash(
        existing.filter(col("doc_id") % 2 === 0), MinhashK, Bands, RowsPerBand, idxDir)
      graft.sources.AnnIndex.upsertMinhash(s, idxDir,
        existing.filter(col("doc_id") % 2 =!= 0))
      val old = graft.sources.AnnIndex.minhashSigs(s, idxDir)
      val nw = incoming
        .withColumn("sh", Dedup.shingleSet(col("text")))
        .withColumn("sig", Dedup.minhashSignature(col("sh"), MinhashK))
        .withColumn("keys", Dedup.bandKeys(col("sig"), Bands, RowsPerBand))
        .localCheckpoint(true)
      Dedup.candidatePairsAcross(old, nw, "doc_id", "keys", MaxBucket)
        .join(nw.select(col("doc_id").as("id_new"), col("sh").as("sh_n")), "id_new")
        .join(old.select(col("doc_id").as("id_old"), col("sh").as("sh_o")), "id_old")
        .withColumn("jaccard", Dedup.jaccard(col("sh_n"), col("sh_o")))
        .filter(col("jaccard") >= JaccardThreshold)
        .select("id_new", "id_old", "jaccard")
        .orderBy("id_new", "id_old")
    }),

    // TAKEDOWN on the maintained MinHash index
    // ([[graft.sources.AnnIndex.deleteMinhash]]): the index absorbs the
    // full corpus, then every 5th doc is retracted — only the touched
    // pmod(doc_id) directories rewrite, vacated dirs drop — and
    // tomorrow's crawl batch probes the post-takedown index. Signatures
    // are row-local, so the deleted index is ROW-IDENTICAL to one built
    // over the corpus without the retracted docs, and the oracle
    // recomputes the full cross-snapshot pipeline on that reduced
    // corpus: retracted docs can no longer claim incoming near-dups —
    // the behavior a takedown is FOR (their copies must be allowed back
    // in, or kept out by other surviving duplicates only).
    "dedup_retract" -> ((s, dir) => {
      val existing = Tables.documents(s, dir).select("doc_id", "text")
      val idxDir = graft.sources.TempDirs.scratch("graft_mhdel_")
      graft.sources.AnnIndex.saveMinhash(
        existing, MinhashK, Bands, RowsPerBand, idxDir)
      graft.sources.AnnIndex.deleteMinhash(s, idxDir,
        existing.filter(col("doc_id") % 5 === 0).select("doc_id"))
      probeMinhash(s, idxDir,
        corpus(s, dir).filter(col("doc_id") >= 10000000L))
        .orderBy("id_new", "id_old")
    }),

    // SEMANTIC dedup (SemDeDup-shaped): embedding near-dup pairs above
    // a cosine threshold -> connected components -> keep one doc per
    // semantic cluster. The synthetic corpus plants exact copies (30%,
    // +10M) and TWO differently-perturbed near copies of 10% of vectors
    // (+20M / +30M, eps on disjoint dim subsets) whose mutual cosine is
    // below threshold — the 3-member cluster exists only through the
    // transitive closure. Scale shape: sign-band blocking with the
    // hot-bucket cap (never all-pairs), codegen cosine verify, and the
    // BSP min-label propagation of dedup_clusters — every stage already
    // individually oracle-checked; this compounds them into the curation
    // decision ("which embeddings survive semantic dedup").
    "dedup_semantic" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), Dedup.toDoubleVec(col("embedding")).as("v"))
      def near(shift: Long, rem: Int) = e.filter(col("vec_id") % 10 === 3)
        .select((col("vec_id") + shift).as("vec_id"),
          transform(col("v"), (x, i) =>
            x + when(i % 7 === rem, lit(SemEps)).otherwise(lit(0.0))).as("v"))
      val exact = e.filter(col("vec_id") % 10 < 3)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("v"))
      val c = e.unionByName(exact)
        .unionByName(near(20000000L, 0)).unionByName(near(30000000L, 1))
        .withColumn("keys", Dedup.signBandKeys(col("v"), EmbBands, EmbBitsPerBand))
        .localCheckpoint(true)
      val pairs = Dedup.candidatePairs(c, "vec_id", "keys", MaxBucket)
        .join(c.select(col("vec_id").as("id_a"), col("v").as("v_a")), "id_a")
        .join(c.select(col("vec_id").as("id_b"), col("v").as("v_b")), "id_b")
        .withColumn("cosine", Dedup.cosine(col("v_a"), col("v_b")))
        .filter(col("cosine") >= SemCosine)
        .select("id_a", "id_b")
      val cc = Dedup.connectedComponents(c.select(col("vec_id").as("id")), pairs)
      cc.select(col("id").as("vec_id"), col("label").as("cluster_id"),
          when(col("id") === col("label"), 1L).otherwise(0L).as("keeper"))
        .orderBy("vec_id")
    }),

    // Embedding near-dup: banded sign-key blocking (EmbBands bands of
    // EmbBitsPerBand sign bits each -> candidatePairs) + exact cosine
    // verify. Banding keeps per-bucket population ~N/2^bits PER BAND,
    // the knob that holds the pair join sub-quadratic as N grows; a
    // near-dup pair only needs one fully-agreeing band to surface.
    "dedup_embedding" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cps = e.unionByName(
        e.filter(col("vec_id") % 10 < 3)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")))
      val withVec = cps.withColumn("v", Dedup.toDoubleVec(col("embedding")))
        .withColumn("keys", Dedup.signBandKeys(col("v"), EmbBands, EmbBitsPerBand))
        .select("vec_id", "keys", "v")
        .localCheckpoint(true) // feeds candidates + both verify sides
      val pairs = Dedup.candidatePairs(withVec, "vec_id", "keys", MaxBucket)
      pairs
        .join(withVec.select(col("vec_id").as("id_a"), col("v").as("v_a")), "id_a")
        .join(withVec.select(col("vec_id").as("id_b"), col("v").as("v_b")), "id_b")
        .withColumn("cosine", Dedup.cosine(col("v_a"), col("v_b")))
        .filter(col("cosine") >= CosineThreshold)
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    })
  )

  // ---------------------------------------------------------------- oracle

  private def minhashSigSql: String =
    (0 until MinhashK).map { i =>
      s"list_aggregate(list_transform(sh, s -> CAST(concat('0x', substr(md5(concat('$i:', s)), 1, 15)) AS BIGINT)), 'min') AS mh$i"
    }.mkString(",\n    ")

  private def bandKeySql(b: Int): String = {
    val parts = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}")
    "md5(concat(" + parts.mkString(", ',', ") + "))"
  }

  /** sigs/bands/cand/pairs CTEs: the verified MinHash pair pipeline
    * (mirrors [[minhashPairs]]), shared by dedup_minhash and
    * dedup_clusters.
    */
  private[queries] def minhashPairsCtes: String =
    s"""sigs AS (
       |  SELECT doc_id, sh,
       |    $minhashSigSql
       |  FROM shs
       |), bands AS (
       |  ${(0 until Bands).map(b =>
            s"SELECT doc_id, $b AS band, ${bandKeySql(b)} AS key FROM sigs").mkString("\n  UNION ALL\n  ")}
       |), bok AS (
       |  SELECT band, key FROM bands GROUP BY band, key HAVING COUNT(*) <= $MaxBucket
       |), bkept AS (
       |  SELECT doc_id, band, key FROM bands JOIN bok USING (band, key)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bkept a JOIN bkept b USING (band, key)
       |  WHERE a.doc_id < b.doc_id
       |), pairs AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) AS jaccard
       |  FROM cand
       |  JOIN sigs sa ON sa.doc_id = id_a
       |  JOIN sigs sb ON sb.doc_id = id_b
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) >= $JaccardThreshold
       |)""".stripMargin

  /** PREFIX-FILTERED exact n-gram Jaccard — the AllPairs/PPJoin family
    * (Chaudhuri et al. SSJoin ICDE'06; Bayardo et al. WWW'07; Xiao et
    * al. PPJoin WWW'08), measured against dedup_ngram and NOT registered
    * as a driver query because it LOSES at every probed scale (1×:
    * 5.6 s vs 3.2 s; 10×: 36.5 s vs 15.5 s; 30×: 166.6 s vs 82.4 s —
    * BASELINE.md round-9 table). Output is EXACTLY dedup_ngram's
    * (PrefixFilterSpec pins the equivalence): candidates come only from
    * each doc's prefix (first sz - ceil(t*sz) + 1 kept shingles under a
    * global rarest-first (df asc, sid asc) order — for Jaccard >= t the
    * smallest common shingle under that order sits inside BOTH prefixes,
    * since >= ceil(t*sz) shingles of each doc are common), plus the
    * t*|larger| <= |smaller| length filter.
    *
    * WHY IT LOSES HERE: prefix filtering pays for itself when candidate
    * generation is dominated by a heavy-tailed shingle-df distribution.
    * dedup_ngram's stop-shingle cap (df <= MaxDocFreq) already removes
    * that tail, and the surviving shingles of this corpus are df 1-2 —
    * so "rarest-first" is a near-random tiebreak, the prefix prunes only
    * ~2-3× of an already-bounded pair stream, and the added per-doc
    * (df, sid) sort, candidate distinct, and array-carrying verify join
    * cost more than they save. The measured lesson recorded for the
    * 100 TB design: UNDER a df cap, the posting-count join is the scale
    * path; prefix filtering is the tool for the no-cap exact setting
    * where dropping boilerplate shingles is not allowed.
    */
  private[graft] def prefixJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val t = JaccardThreshold
    val c = corpus(s, dir).withColumn("sh", Dedup.shingleSet(col("text")))
    val ex = c.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), graft.functions.Md5Long60Expr(col("shingle"), 0).as("sid"))
    val keep = ex.groupBy("sid").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDocFreq)
    // Per-doc kept shingles sorted rarest-first. The 1e-9 back-off on
    // ceil guards the float product (0.4*5 -> 2.0000000000000004 would
    // over-ceil and SHORTEN the prefix = false negatives; under-ceiling
    // only lengthens it = still exact).
    val docs = ex.join(keep, "sid")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("sid")))).as("ord"))
      .select(col("doc_id"),
        transform(col("ord"), x => x.getField("sid")).as("sids"))
      .withColumn("sz", size(col("sids")))
      .withColumn("plen",
        col("sz") - ceil(col("sz") * lit(t) - lit(1e-9)).cast("int") + lit(1))
      .localCheckpoint(true) // feeds prefix postings + both verify sides
    val pre = docs.select(col("doc_id"), col("sz"),
      explode(slice(col("sids"), lit(1), col("plen"))).as("sid"))
    val cand = pre.select(col("doc_id").as("id_a"), col("sz").as("sz_a"), col("sid"))
      .join(pre.select(col("doc_id").as("id_b"), col("sz").as("sz_b"), col("sid")), "sid")
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(t) * greatest(col("sz_a"), col("sz_b")).cast("double") - lit(1e-9))
      .select("id_a", "id_b").distinct()
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("sids").as("sa"),
        col("sz").as("sz_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("sids").as("sb"),
        col("sz").as("sz_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          ((col("sz_a") + col("sz_b")).cast("double") - col("inter").cast("double")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Full-posting-join n-gram Jaccard (the dedup_ngram oracle). */
  private val ngramOracle =
    s"""WITH $corpusCte, $shinglesCte,
       |ex AS (
       |  SELECT doc_id,
       |         CAST(concat('0x', substr(md5(concat('0:', s)), 1, 15)) AS BIGINT) AS sid
       |  FROM (SELECT doc_id, unnest(sh) AS s FROM shs) t
       |), keep AS (
       |  SELECT sid FROM ex GROUP BY sid HAVING COUNT(*) <= $MaxDocFreq
       |), fx AS (
       |  SELECT ex.doc_id, ex.sid FROM ex JOIN keep USING (sid)
       |), sizes AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM fx GROUP BY doc_id
       |), shared AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM fx a JOIN fx b USING (sid)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b,
       |  CAST(inter AS DOUBLE) / (CAST(sa.sz + sb.sz AS DOUBLE) - CAST(inter AS DOUBLE)) AS jaccard
       |FROM shared
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(inter AS DOUBLE) / (CAST(sa.sz + sb.sz AS DOUBLE) - CAST(inter AS DOUBLE)) >= $JaccardThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Shared by dedup_clusters and dedup_clusters_incremental: the
    * recursive-CTE transitive closure over the verified pair set with
    * min-doc_id labels — the one-shot clustering the maintained
    * assignment must converge to.
    */
  private lazy val clustersSql: String = clustersSqlOver(corpusCte)

  /** The clustering closure over an arbitrary corpus CTE — shared by
    * the one-shot/incremental forms (full corpus) and the retraction
    * form (corpus-without, via [[corpusCteWhere]]).
    */
  private def clustersSqlOver(cc: String): String =
    s"""WITH RECURSIVE $cc, $shinglesCte, $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM pairs
       |), reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM corpus
       |  UNION
       |  SELECT e.dst AS id, r.r FROM reach r JOIN edges e ON e.src = r.id
       |), lbl AS (
       |  SELECT id, CAST(MIN(r) AS BIGINT) AS cluster_id FROM reach GROUP BY id
       |), szs AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM lbl GROUP BY 1
       |)
       |SELECT l.id AS doc_id, l.cluster_id, s.cluster_size
       |FROM lbl l JOIN szs s USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "dedup_exact" ->
      s"""WITH $corpusCte
         |SELECT md5(text) AS fp, CAST(MIN(doc_id) AS BIGINT) AS keeper,
         |       CAST(COUNT(*) AS BIGINT) AS n_copies
         |FROM corpus GROUP BY 1 ORDER BY fp""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $corpusCte, $shinglesCte, $minhashPairsCtes
         |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin,

    // Min reachable id per doc via a recursive closure over the
    // symmetrized pair edges == the component's min id (cluster_id).
    "dedup_clusters" -> clustersSql,

    // the maintained assignment converges bit-exactly to the one-shot
    // clustering under any pair batching (min-label monotonicity), so
    // both forms share one oracle
    "dedup_clusters_incremental" -> clustersSql,

    // add→retract must land exactly where a full recompute WITHOUT the
    // retracted docs lands: the same closure, corpus base leg filtered
    "dedup_clusters_retract" -> clustersSqlOver(
      corpusCteWhere("doc_id % 10 != 3")),

    "dedup_simhash" ->
      s"""WITH $corpusCte,
         |tok AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS toks
         |  FROM corpus
         |), hx AS (
         |  SELECT doc_id,
         |    list_transform(toks, t -> CAST(concat('0x', substr(md5(concat('0:', t)), 1, 15)) AS BIGINT)) AS hashes
         |  FROM tok
         |), cnt AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(0, 59), b ->
         |      list_aggregate(list_transform(hashes, h -> ((h >> b) & 1) * 2 - 1), 'sum')) AS counters
         |  FROM hx
         |), sims AS (
         |  SELECT doc_id,
         |    CAST(list_aggregate(list_transform(generate_series(0, 59), b ->
         |      CASE WHEN counters[b + 1] > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END), 'sum') AS BIGINT) AS sim
         |  FROM cnt
         |), bands AS (
         |  ${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, (sim >> ${15 * b}) & 32767 AS key FROM sims").mkString("\n  UNION ALL\n  ")}
         |), bok AS (
         |  SELECT band, key FROM bands GROUP BY band, key HAVING COUNT(*) <= $MaxBucket
         |), bkept AS (
         |  SELECT doc_id, band, key FROM bands JOIN bok USING (band, key)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bkept a JOIN bkept b USING (band, key)
         |  WHERE a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa.sim, sb.sim)) AS BIGINT) AS hamming
         |FROM cand
         |JOIN sims sa ON sa.doc_id = id_a
         |JOIN sims sb ON sb.doc_id = id_b
         |WHERE bit_count(xor(sa.sim, sb.sim)) <= $HammingMax
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_ngram" -> ngramOracle,

    // Window match on the string itself (the fingerprint is an engine-
    // internal join-key compression; both engines pair exactly the docs
    // sharing the literal L-token window, so the outputs agree).
    "dedup_substring" -> (substringRunsSql + s""",
         |rl AS (
         |  SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS run
         |  FROM runs GROUP BY id_a, id_b, diag, island
         |)
         |SELECT id_a, id_b, CAST(SUM(run) AS BIGINT) AS n_shared,
         |       CAST($SubstrLen + MAX(run) - 1 AS BIGINT) AS longest_match
         |FROM rl GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin),

    "dedup_substring_scrub" -> (substringRunsSql + s""",
         |spans AS (
         |  SELECT id_b AS doc_id, CAST(MIN(pos_b) AS BIGINT) AS s,
         |         CAST(MIN(pos_b) + COUNT(*) + ${SubstrLen - 2} AS BIGINT) AS e
         |  FROM runs GROUP BY id_a, id_b, diag, island
         |), flagged AS (
         |  SELECT doc_id, s, e,
         |         MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM spans
         |), grps AS (
         |  SELECT doc_id, s, e,
         |         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY s, e
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         |  FROM flagged
         |), merged AS (
         |  SELECT doc_id, g, MIN(s) AS s, MAX(e) AS e FROM grps GROUP BY doc_id, g
         |), affected AS (
         |  SELECT DISTINCT doc_id FROM merged
         |), tokpos AS (
         |  SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |         CAST(unnest(generate_series(1, len(t.toks))) AS BIGINT) AS pos,
         |         unnest(t.toks) AS tok
         |  FROM tokw t JOIN affected USING (doc_id)
         |), kept AS (
         |  SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
         |  WHERE NOT EXISTS (SELECT 1 FROM merged mm
         |                    WHERE mm.doc_id = tp.doc_id
         |                      AND tp.pos BETWEEN mm.s AND mm.e)
         |), rebuilt AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY doc_id
         |), stats AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         |         CAST(SUM(e - s + 1) AS BIGINT) AS tokens_removed
         |  FROM merged GROUP BY doc_id
         |)
         |SELECT a.doc_id, nt.n_tokens, st.n_spans, st.tokens_removed,
         |       CAST(length(COALESCE(r.clean_text, '')) AS BIGINT) AS clean_len,
         |       CAST(concat('0x', substr(md5(concat('$ScrubSalt:',
         |         COALESCE(r.clean_text, ''))), 1, 15)) AS BIGINT) AS clean_fp
         |FROM affected a
         |JOIN (SELECT DISTINCT doc_id, n_tokens FROM tokpos) nt USING (doc_id)
         |JOIN stats st USING (doc_id)
         |LEFT JOIN rebuilt r USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // the symmetric pair pipeline over the same union corpus, restricted
    // to pairs crossing the stored/new boundary (old ids < 10M <= new)
    "dedup_incremental" ->
      s"""WITH $corpusCte, $shinglesCte, $minhashPairsCtes
         |SELECT id_b AS id_new, id_a AS id_old, jaccard
         |FROM pairs
         |WHERE id_a < 10000000 AND id_b >= 10000000
         |ORDER BY id_new, id_old""".stripMargin,

    // the maintained (save + upsert) index converges to the rebuild, so
    // the cross-snapshot result is identical by construction
    "dedup_incremental_upsert" ->
      s"""WITH $corpusCte, $shinglesCte, $minhashPairsCtes
         |SELECT id_b AS id_new, id_a AS id_old, jaccard
         |FROM pairs
         |WHERE id_a < 10000000 AND id_b >= 10000000
         |ORDER BY id_new, id_old""".stripMargin,

    // build → delete → probe must equal the pipeline over the corpus
    // WITHOUT the retracted docs: same CTEs, base leg filtered (bucket
    // caps recount over the reduced population on both sides — the
    // probe computes them from the post-delete index, the oracle from
    // the reduced corpus)
    "dedup_retract" ->
      s"""WITH ${corpusCteWhere("doc_id % 5 != 0")}, $shinglesCte, $minhashPairsCtes
         |SELECT id_b AS id_new, id_a AS id_old, jaccard
         |FROM pairs
         |WHERE id_a < 10000000 AND id_b >= 10000000
         |ORDER BY id_new, id_old""".stripMargin,

    "dedup_semantic" -> {
      def cosSql(a: String, b: String) =
        s"""list_aggregate(list_transform(list_zip($a, $b), s -> s[1] * s[2]), 'sum')
           |    / (sqrt(list_aggregate(list_transform(list_zip($a, $a), s -> s[1] * s[2]), 'sum'))
           |       * sqrt(list_aggregate(list_transform(list_zip($b, $b), s -> s[1] * s[2]), 'sum')))""".stripMargin
      s"""WITH RECURSIVE scorpus AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000000, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id % 10 < 3
         |  UNION ALL
         |  SELECT vec_id + 20000000,
         |    list_transform(generate_series(1, len(v)), i -> v[i] + CASE WHEN (i-1) % 7 = 0 THEN $SemEps ELSE 0.0 END)
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 10 = 3) p0
         |  UNION ALL
         |  SELECT vec_id + 30000000,
         |    list_transform(generate_series(1, len(v)), i -> v[i] + CASE WHEN (i-1) % 7 = 1 THEN $SemEps ELSE 0.0 END)
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 10 = 3) p1
         |), bands AS (
         |  ${(0 until EmbBands).map { b =>
              val key = (0 until EmbBitsPerBand).map(i =>
                s"(CASE WHEN v[${b * EmbBitsPerBand + i + 1}] >= 0.0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
                .mkString(" + ")
              s"SELECT vec_id, $b AS band, $key AS key FROM scorpus"
            }.mkString("\n  UNION ALL\n  ")}
         |), bok AS (
         |  SELECT band, key FROM bands GROUP BY band, key HAVING COUNT(*) <= $MaxBucket
         |), bkept AS (
         |  SELECT vec_id, band, key FROM bands JOIN bok USING (band, key)
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bkept a JOIN bkept b USING (band, key)
         |  WHERE a.vec_id < b.vec_id
         |), spairs AS (
         |  SELECT id_a, id_b FROM cand
         |  JOIN scorpus va ON va.vec_id = id_a
         |  JOIN scorpus vb ON vb.vec_id = id_b
         |  WHERE ${cosSql("va.v", "vb.v")} >= $SemCosine
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM spairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM spairs
         |), reach AS (
         |  SELECT vec_id AS id, vec_id AS r FROM scorpus
         |  UNION
         |  SELECT e.dst AS id, r.r FROM reach r JOIN edges e ON e.src = r.id
         |), lbl AS (
         |  SELECT id, CAST(MIN(r) AS BIGINT) AS cluster_id FROM reach GROUP BY id
         |)
         |SELECT id AS vec_id, cluster_id,
         |       CAST(CASE WHEN id = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS keeper
         |FROM lbl ORDER BY vec_id""".stripMargin
    },

    "dedup_embedding" ->
      s"""WITH ecorpus AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000000, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id % 10 < 3
         |), bands AS (
         |  ${(0 until EmbBands).map { b =>
              val key = (0 until EmbBitsPerBand).map(i =>
                s"(CASE WHEN v[${b * EmbBitsPerBand + i + 1}] >= 0.0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
                .mkString(" + ")
              s"SELECT vec_id, $b AS band, $key AS key FROM ecorpus"
            }.mkString("\n  UNION ALL\n  ")}
         |), bok AS (
         |  SELECT band, key FROM bands GROUP BY band, key HAVING COUNT(*) <= $MaxBucket
         |), bkept AS (
         |  SELECT vec_id, band, key FROM bands JOIN bok USING (band, key)
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bkept a JOIN bkept b USING (band, key)
         |  WHERE a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b,
         |  list_aggregate(list_transform(list_zip(va.v, vb.v), s -> s[1] * s[2]), 'sum')
         |    / (sqrt(list_aggregate(list_transform(list_zip(va.v, va.v), s -> s[1] * s[2]), 'sum'))
         |       * sqrt(list_aggregate(list_transform(list_zip(vb.v, vb.v), s -> s[1] * s[2]), 'sum'))) AS cosine
         |FROM cand
         |JOIN ecorpus va ON va.vec_id = id_a
         |JOIN ecorpus vb ON vb.vec_id = id_b
         |WHERE list_aggregate(list_transform(list_zip(va.v, vb.v), s -> s[1] * s[2]), 'sum')
         |    / (sqrt(list_aggregate(list_transform(list_zip(va.v, va.v), s -> s[1] * s[2]), 'sum'))
         |       * sqrt(list_aggregate(list_transform(list_zip(vb.v, vb.v), s -> s[1] * s[2]), 'sum'))) >= $CosineThreshold
         |ORDER BY id_a, id_b""".stripMargin
  )
}
