package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Dev tool: empirical scaling check of the heaviest operators.
  *
  * Blows the sf0.1 tables up Nx in /tmp (ids shifted per copy so
  * cardinalities scale too, not just row counts), runs the heavy queries
  * at 1x and Nx, and prints the time ratio. A plan that is secretly
  * quadratic shows ratio >> N; the linear-ish ratios are the evidence
  * that these plans survive scale-up. Not part of the driver contract.
  */
object ScaleProbe {
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** Letter permutation for document copy `c`: a seeded Fisher–Yates
    * shuffle (identity for copy 0, so the 1x corpus is a literal
    * subset) that stays collision-free at ANY factor — a `rotate by
    * c % 26` would wrap at factor 27+, making copies 26+k exact text
    * twins of copies k.
    */
  private def permFor(c: Int): String = {
    val arr = Alphabet.toCharArray
    if (c > 0) {
      val rnd = new scala.util.Random(c)
      for (i <- arr.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
      }
    }
    new String(arr)
  }

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 4
    val base = "/root/testdata/sf0.1"
    val stage = graft.sources.TempDirs.scratch("graft_scale_")
    // SPARK_GRAFT_CPUS (default 4, the historical probe width) so the
    // SAME blown-up workload can be probed at two core counts — the
    // core-scaling receipt the sf0.1 bench cannot produce (its queries
    // are per-action-latency-bound at that SF)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.sources.GraftSession.local(s"local[$cpus]", math.max(cpus, 8))
    spark.sparkContext.setLogLevel("WARN")

    // Nx documents: shift doc_id per copy and substitute letters through
    // a DISTINCT deterministic permutation per copy so copies are
    // genuinely DIFFERENT documents — otherwise every doc has N
    // near-dup variants and the dedup result set grows quadratically by
    // construction, which would mask the plan's own scaling (the shape
    // pipe_source_cap's flat cap-bounded output is asserted against)
    val docs = Tables.documents(spark, base)
    (0 until factor).map { c =>
      docs.select((col("doc_id") + lit(c.toLong * 100000000L)).as("doc_id"),
        translate(col("text"), Alphabet, permFor(c)).as("text"),
        col("lang"),
        // source carries through unchanged: the realistic growth mode
        // is the SAME domains getting more docs (per-source population
        // scales with the corpus)
        col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$stage/documents.parquet")

    // the staged copy writes ts as epoch-nanos LONG — Tables.events is
    // schema-adaptive (LONG ⇒ nanos shim, timestamp ⇒ pass-through), so
    // this also keeps the nanos leg of the reader exercised.
    val ev = Tables.events(spark, base)
    val evN = (0 until factor).map { c =>
      ev.withColumn("user_id", col("user_id") + lit(c.toLong * 10000000L))
    }.reduce(_ unionByName _)
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
    evN.write.mode("overwrite").parquet(s"$stage/events.parquet")

    // Nx embeddings: shift vec_id per copy and ROTATE the vector's
    // dimensions by the copy index, so copies are genuinely different
    // vectors (same norm, low mutual cosine). Without the rotation every
    // vector would gain N exact twins and the near-dup result set itself
    // would grow quadratically, masking the plan's own scaling. Copy 0
    // is untouched, so the ANN query set (vec_id < 5) stays fixed while
    // the corpus grows — exactly the 100 TB read pattern.
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val embN = (0 until factor).map { c =>
      // rotation index wraps at the 64-dim width (a raw `c` handed
      // slice() negative lengths past factor 64); copies beyond one
      // full rotation cycle additionally sign-flip one dimension per
      // cycle, so every copy stays a DISTINCT unit-norm vector (no
      // exact twins to quadratically inflate near-dup results) up to
      // 64*64 copies
      val r = c % 64
      val rot =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 64 - r), slice(col("embedding"), 1, r))
      val v =
        if (c < 64) rot
        else transform(rot, (x, i) =>
          when(i === lit(c / 64 - 1), -x).otherwise(x))
      emb.select((col("vec_id") + lit(c.toLong * 100000000L)).as("vec_id"),
        v.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    embN.write.mode("overwrite").parquet(s"$stage/embeddings.parquet")

    // Nx relational fact tables: keys shift per copy so join
    // cardinalities scale with row counts (every copy is a disjoint key
    // range — rows-per-customer and lines-per-order stay constant, the
    // realistic growth mode). Order keys and customer keys shift by the
    // SAME strides everywhere so the fact-fact and fact-dim joins stay
    // aligned across copies; the tiny dims copy through unchanged.
    def scaleTable(name: String, keyShifts: Map[String, Long]): Unit = {
      val scaled =
        if (keyShifts.isEmpty) spark.read.parquet(s"$base/$name.parquet")
        else (0 until factor).map { c =>
          keyShifts.foldLeft(spark.read.parquet(s"$base/$name.parquet")) {
            case (df, (k, stride)) => df.withColumn(k, col(k) + lit(c.toLong * stride))
          }
        }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$stage/$name.parquet")
    }
    val OrderStride = 1000000000L
    val CustStride = 100000000L
    scaleTable("orders", Map("o_orderkey" -> OrderStride, "o_custkey" -> CustStride))
    scaleTable("lineitem", Map("l_orderkey" -> OrderStride))
    // customer: the key shifts AND the name follows it (the base names
    // are 'Customer#%09d', identity for copy 0) — identical names
    // across copies would hand rel_fuzzy_join N exact-name twins per
    // probe and measure the duplicate-entity pathology, not the plan
    (0 until factor).map { c =>
      spark.read.parquet(s"$base/customer.parquet")
        .withColumn("c_custkey", col("c_custkey") + lit(c.toLong * CustStride))
    }.reduce(_ unionByName _)
      .withColumn("c_name",
        // format_string pads WITHOUT truncating — lpad(..., 9) would
        // shorten the 10-digit keys of copies 10+ back to 9 chars and
        // hand every probe a block of exact-name twins
        format_string("Customer#%09d", col("c_custkey")))
      .write.mode("overwrite").parquet(s"$stage/customer.parquet")
    Seq("nation", "region", "supplier", "part").foreach(t => scaleTable(t, Map.empty))

    // Same materialization as graft.Bench: checksum-force EVERY output
    // column (a bare count() lets Catalyst prune computed columns, so a
    // probe on count-plans flatters any query whose cost is in them —
    // the round-3 bench moved off count for exactly this reason, and the
    // two harnesses must agree for the BASELINE.md ratios to mean
    // anything).
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val allTargets = Seq("dedup_ngram", "dedup_minhash", "dedup_simhash",
      "dedup_embedding", "dedup_clusters", "dedup_semantic", "pipe_curate",
      "pipe_decontam", "pipe_decontam_bloom", "pipe_pack",
      "sim_ann_ivf", "sim_ann_lsh", "sim_ann_lsh_mp", "sim_ann_quant",
      "sim_knn_graph", "sim_knn_graph_scaled", "sim_ann_lsh_idx",
      "sim_ann_ivf_idx", "sim_ann_lsh_upsert",
      "rel_asof_join", "rel_asof_join_bucketed", "rel_asof_join_outer",
      "rel_interval_join", "rel_q1", "rel_rollup", "rel_pivot",
      "rel_order_gaps", "rel_top_customers", "rel_funnel", "rel_retention",
      "text_pii", "embed_quant", "text_repetition", "text_tokens",
      "text_rarity", "dedup_incremental", "dedup_incremental_upsert",
      "pipe_shuffle", "pipe_token_budget", "pipe_topic_mix",
      "sample_stratified", "sample_reservoir",
      "dedup_substring", "dedup_substring_scrub", "pipe_source_cap",
      "ft_dist", "ft_topk", "ft_json", "ft_sessions", "text_quality",
      "sim_ann_pq_upsert", "sim_ann_ivfpq_upsert", "mm_near_dup",
      "rel_funnel_replay", "rel_retention_incremental", "sim_ann_opq_recall",
      "rel_funnel_incremental", "text_lm_surprisal", "pipe_quality_nb",
      "text_lm_incremental", "rel_fuzzy_join", "rel_anomaly_days",
      "rel_sessionize", "ft_counts_incremental",
      "sim_ann_opq_idx", "mm_near_dup_incremental", "rel_fuzzy_join_fallback",
      "ft_segment_stats_invariant", "sim_ann_opq_ivfpq_idx",
      "pipe_quality_nb_incremental", "text_bm25", "rel_fuzzy_join_scaled",
      "mm_band_stats", "rel_fuzzy_join_banded", "rel_fuzzy_join_queue",
      "text_bm25_incremental", "rel_funnel_bloom_stats", "text_bpe_train",
      "text_bpe_apply", "dedup_clusters_incremental", "dedup_retract",
      "ft_counts_retract", "ft_tombstones", "ft_counts_asof",
      "sample_weighted",
      // the composed curate->pack->ship chain + its maintenance legs
      // and the tokenizer retrain lifecycle (r18): the compositions'
      // scaling is measured, not inherited from their parts
      "pipe_seqs_curated", "pipe_seqs_curated_incremental",
      "pipe_seqs_curated_retract", "pipe_seqs_mm_curated_loader",
      "pipe_seqs_mm_curated_incremental", "pipe_seqs_mm_curated_retract",
      "text_bpe_retrain")
    // arg 2+: restrict to named queries (fast re-probe of one operator);
    // any SparkEntry query name is probeable, not just the default list
    val targets =
      if (args.length > 1) args.drop(1).toSeq.filter(SparkEntry.queries.contains)
      else allTargets
    println(f"[probe] query                  1x(s)   ${factor}x(s)  ratio (rows 1x -> ${factor}x)")
    targets.foreach { n =>
      val fn = SparkEntry.queries(n)
      var r1 = 0L; var rN = 0L
      time(Bench.force(fn(spark, base))) // warm JIT on the 1x shape
      val t1 = time(Bench.force(fn(spark, base)))
      val tN = time(Bench.force(fn(spark, stage)))
      r1 = fn(spark, base).count(); rN = fn(spark, stage).count()
      println(f"[probe] $n%-22s $t1%6.2f  $tN%6.2f  ${tN / t1}%5.2f  ($r1%d -> $rN%d)")
    }
    // PAIR-MASS receipts for the superlinear tail (round-9 watch item):
    // the ngram/substring wall-time curves are driven by the pair-join
    // input mass (Σ n·(n−1)/2 over surviving posting keys — planted-
    // duplicate density), not corpus size. Recording mass next to the
    // timing NAMES the bound: if mass outgrows rows at a scale step,
    // tighten MaxDocFreq / SubstrMaxDf; if mass tracks the timing
    // ratio, the plan itself is linear in its real input.
    Seq(
      "dedup_ngram" -> ((d: String) => graft.queries.DedupQueries.ngramPairMass(spark, d)),
      "dedup_substring" -> ((d: String) => graft.queries.DedupQueries.substringPairMass(spark, d))
    ).foreach { case (n, f) =>
      if (targets.contains(n)) {
        val m1 = f(base)
        val mN = f(stage)
        println(f"[probe] $n%-22s pair-mass $m1%d -> $mN%d  (${mN.toDouble / m1.toDouble}%5.2f x)")
      }
    }
    // The knn-graph scaling rule made measurable: at FIXED nBits the
    // bucket self-join is N^2/2^nBits (quadratic — the plain
    // sim_knn_graph row above shows it); holding per-bucket population
    // constant (nBits grows with log2 of the corpus) restores ~linear.
    // The incremental-dedup claim is "batch-sized regardless of corpus
    // size": the query-level probe above grows BOTH sides (batch derives
    // from the corpus), so this isolates the claim — a FIXED probe batch
    // (derived from the 1x documents) deduped against the 1x vs the Nx
    // stored index. Near-flat time = the index side contributes scan +
    // bucket-join cost only, no corpus-squared term.
    if (targets.contains("dedup_incremental")) {
      import graft.queries.DedupQueries
      import graft.sources.AnnIndex
      import graft.operators.{Dedup, TextAnalysis}
      def run(corpusDir: String): Unit = {
        val existing = Tables.documents(spark, corpusDir).select("doc_id", "text")
        val batch = Tables.documents(spark, base).select("doc_id", "text")
          .filter(col("doc_id") % 10 < 3)
          .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        val idxDir = graft.sources.TempDirs.scratch("graft_probe_mh_")
        AnnIndex.saveMinhash(existing, DedupQueries.MinhashK, DedupQueries.Bands,
          DedupQueries.RowsPerBand, idxDir)
        val old = AnnIndex.minhashSigs(spark, idxDir)
        val nw = batch
          .withColumn("sh", Dedup.shingleSet(col("text")))
          .withColumn("sig", Dedup.minhashSignature(col("sh"), DedupQueries.MinhashK))
          .withColumn("keys", Dedup.bandKeys(col("sig"), DedupQueries.Bands, DedupQueries.RowsPerBand))
        val res = Dedup.candidatePairsAcross(old, nw, "doc_id", "keys", DedupQueries.MaxBucket)
          .join(nw.select(col("doc_id").as("id_new"), col("sh").as("sh_n")), "id_new")
          .join(old.select(col("doc_id").as("id_old"), col("sh").as("sh_o")), "id_old")
          .withColumn("jaccard", Dedup.jaccard(col("sh_n"), col("sh_o")))
          .filter(col("jaccard") >= DedupQueries.JaccardThreshold)
          .select("id_new", "id_old", "jaccard")
        Bench.force(res)
      }
      run(base) // warm
      val t1 = time(run(base))
      val tN = time(run(stage))
      println(f"[probe] incr_dedup@fixed-batch $t1%6.2f  $tN%6.2f  ${tN / t1}%5.2f  (index 1x -> ${factor}x, batch fixed)")
    }
    // The takedown cost claim isolated: deleteMinhash rewrites ONLY
    // the retracted ids' `part = pmod(doc_id)` directories, so a
    // takedown batch touching few partitions costs a small fixed
    // FRACTION of the store at any scale — vs the full re-index it
    // replaces (the pre-retraction answer to a takedown), which pays
    // the signature pipeline over the whole corpus. Both legs grow
    // linearly with the corpus; the receipt is the RATIO staying
    // wide at both scales. The batch is ids ≡ {0,1} mod parts
    // (bounded spread: 2 of 64 dirs touched however large the store).
    if (targets.contains("dedup_retract")) {
      import graft.queries.DedupQueries
      import graft.sources.AnnIndex
      def run(corpusDir: String): (Double, Double) = {
        val docs = Tables.documents(spark, corpusDir).select("doc_id", "text")
        val idxDir = graft.sources.TempDirs.scratch("graft_probe_mhdel_")
        AnnIndex.saveMinhash(docs, DedupQueries.MinhashK, DedupQueries.Bands,
          DedupQueries.RowsPerBand, idxDir)
        val ids = docs.select("doc_id")
          .filter(pmod(col("doc_id"), lit(AnnIndex.DefaultParts.toLong)) < 2)
          .localCheckpoint(true)
        val tDel = time(AnnIndex.deleteMinhash(spark, idxDir, ids))
        val rebuildDir = graft.sources.TempDirs.scratch("graft_probe_mhreb_")
        val tReb = time(AnnIndex.saveMinhash(
          docs.join(ids, Seq("doc_id"), "left_anti"),
          DedupQueries.MinhashK, DedupQueries.Bands,
          DedupQueries.RowsPerBand, rebuildDir))
        (tDel, tReb)
      }
      val (d1, r1) = run(base)
      val (dN, rN) = run(stage)
      println(f"[probe] mh_takedown vs rebuild 1x: del $d1%5.2f reb $r1%5.2f (${r1 / d1}%4.1fx)  ${factor}x: del $dN%5.2f reb $rN%5.2f (${rN / dN}%4.1fx)")
    }
    // The gram-width ladder's RECALL claim isolated: blocking match
    // rate (probes whose best match survives) for the FIXED-width
    // fuzzy join vs the SCALED-width one, at 1x and Nx. The fixed
    // width's discriminative grams cross the df cap as entities
    // multiply — match rate collapses; the derived width holds
    // per-gram populations bounded and the rate with them.
    if (targets.contains("rel_fuzzy_join_scaled")) {
      def matchRate(name: String, d: String): String = {
        val r = SparkEntry.queries(name)(spark, d)
          .agg(coalesce(sum(when(col("match_key") >= 0, 1L).otherwise(0L)),
            lit(0L)).as("m"), count(lit(1)).as("t")).head()
        s"${r.getAs[Long]("m")}/${r.getAs[Long]("t")}"
      }
      Seq("rel_fuzzy_join" -> "fuzzy@fixed-width",
          "rel_fuzzy_join_scaled" -> "fuzzy@scaled-width",
          "rel_fuzzy_join_banded" -> "fuzzy@banded").foreach {
        case (n, tag) =>
          println(f"[probe] $tag%-22s match-rate 1x ${matchRate(n, base)}  ${factor}x ${matchRate(n, stage)}")
      }
    }
    // The maintained perceptual index's fixed-batch claim isolated
    // (the incr_dedup treatment for media): a FIXED probe batch
    // (derived from the 1x media corpus, ids shifted clear) probed
    // against the 1x vs the Nx phash store. The Nx store froze a WIDER
    // hash (phashPatches of the bigger corpus), which is exactly what
    // holds per-(band, key) populations ~constant — near-flat time is
    // the width rule working through the persisted layout.
    if (targets.contains("mm_near_dup_incremental")) {
      import graft.operators.Multimodal
      import graft.queries.MultimodalQueries
      import graft.sources.AnnIndex
      def buildIdx(corpusDir: String): String = {
        val media = MultimodalQueries.nearDupMedia(spark, corpusDir)
          .localCheckpoint(true)
        val idxDir = graft.sources.TempDirs.scratch("graft_probe_ph_")
        AnnIndex.trainPhash(spark, idxDir, Multimodal.phashPatches(media.count()))
        AnnIndex.upsertPhash(spark, idxDir, media)
        idxDir
      }
      val idx1 = buildIdx(base)
      val idxN = buildIdx(stage)
      val batch = MultimodalQueries.nearDupMedia(spark, base)
        .filter(col("doc_id") % 10 < 3)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("payload"))
        .localCheckpoint(true)
      def probe(idxDir: String): Unit =
        Bench.force(AnnIndex.probePhash(spark, idxDir, batch,
          MultimodalQueries.PHashHammingMax))
      probe(idx1) // warm
      val t1 = time(probe(idx1))
      val tN = time(probe(idxN))
      println(f"[probe] phash@fixed-batch     $t1%6.2f  $tN%6.2f  ${tN / t1}%5.2f  (index 1x -> ${factor}x, batch fixed)")
    }
    // The width↔recall trade made measurable: the scaled-width graph's
    // recall against brute truth at 1x vs Nx (the derived width grows
    // with the corpus — BASELINE.md records both readings).
    if (targets.contains("sim_knn_graph_recall")) {
      val fn = SparkEntry.queries("sim_knn_graph_recall")
      Seq("1x" -> base, s"${factor}x" -> stage).foreach { case (tag, d) =>
        fn(spark, d).collect().foreach(r => println(s"[probe] knn_recall@$tag $r"))
      }
    }
    if (targets.contains("sim_knn_graph")) {
      import graft.queries.SimilarityQueries
      val scaledBits = SimilarityQueries.LshBits +
        math.ceil(math.log(factor.toDouble) / math.log(2.0)).toInt
      time(Bench.force(SimilarityQueries.knnGraphRes(spark, base, SimilarityQueries.LshBits)))
      val t1 = time(Bench.force(SimilarityQueries.knnGraphRes(spark, base, SimilarityQueries.LshBits)))
      val tN = time(Bench.force(SimilarityQueries.knnGraphRes(spark, stage, scaledBits)))
      println(f"[probe] knn_graph@bits=$scaledBits%-9d $t1%6.2f  $tN%6.2f  ${tN / t1}%5.2f  (constant bucket population)")
    }
    spark.stop()
  }
}
