package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.execution.QueryExecution
import org.scalatest.funsuite.AnyFunSuite

/** Regression guards on physical-plan shape — the properties that keep
  * the engine viable at 1000x the test data. A change that silently drops
  * a pushdown, a broadcast, or a group-limit would still pass value
  * checks on small SF but fall over at scale; these specs pin the plan.
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private val sfDir = "/root/testdata/sf0.001"

  private def qe(name: String): QueryExecution =
    SparkEntry.queries(name)(spark, sfDir).queryExecution

  test("rel_scan_pushdown: filters reach the parquet scan; schema pruned") {
    val formatted = qe("rel_scan_pushdown").explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters: [IsNotNull(l_shipdate)"), formatted)
    // projection + filter columns only — not the full 10-column lineitem
    val readSchema = formatted.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.split(",").length == 4, readSchema)
  }

  test("ft_topk: WindowGroupLimit partial top-K runs below the shuffle") {
    val plan = qe("ft_topk").executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("ft_windowed_topk: per-window rank runs as a partial WindowGroupLimit") {
    val plan = qe("ft_windowed_topk").executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  /** Joins with a side that is a `groupBy(dist)` sum (under projections):
    * a per-dist aggregate joined back onto the rows it summed.
    */
  private def perDistSumJoins(plan: LogicalPlan): Seq[Join] = {
    def distSum(p: LogicalPlan): Boolean = p match {
      case Project(_, child) => distSum(child)
      case a: Aggregate =>
        a.groupingExpressions.flatMap(_.references.map(_.name)) == Seq("dist") &&
          a.aggregateExpressions.exists(_.exists {
            case ae: AggregateExpression => ae.aggregateFunction.isInstanceOf[Sum]
            case _ => false
          })
      case _ => false
    }
    plan.collect { case j: Join if distSum(j.left) || distSum(j.right) => j }
  }

  test("ft_get/ft_topk_one/ft_dist_one: one pass — no sort-merge join, no per-dist aggregate joined back") {
    // a single-dist read sums its selection per dist with a window in
    // the same pass; the old groupBy(dist)+join scanned counts and meta
    // twice each, with a sort-merge or extra broadcast join
    Seq("ft_get", "ft_topk_one", "ft_dist_one").foreach { n =>
      val q = qe(n)
      val plan = q.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"), s"$n: $plan")
      val back = perDistSumJoins(q.optimizedPlan)
      assert(back.isEmpty, s"$n joins a per-dist sum back:\n${back.mkString("\n")}")
      // counts and meta each derive from ONE events scan
      assert("Scan parquet".r.findAllIn(plan).size == 2, s"$n: $plan")
    }
  }

  test("ft_topk_one: single-dist top-K takes the TakeOrderedAndProject path") {
    val plan = qe("ft_topk_one").executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("rel_top_customers: global top-10 plans as TakeOrderedAndProject") {
    val plan = qe("rel_top_customers").executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("sample_weighted: exact A-Res top-K plans as TakeOrderedAndProject, no ScalaUDF") {
    val plan = qe("sample_weighted").executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("ft_dist_one: single-dist read pushes the dist predicate to scan") {
    val formatted = qe("ft_dist_one").explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("EqualTo(event_type,click)"), formatted)
  }

  test("sim_ann_ivf: cell assignment rank runs as a partial WindowGroupLimit") {
    // The O(N*k) -> O(2N) shuffle bound of the IVF assignment rests on the
    // `crn <= 2` row_number filter rewriting to WindowGroupLimit (partial
    // top-k per vec_id BEFORE the shuffle). If the rewrite ever stops
    // firing this silently becomes a full N*k-row shuffle+sort.
    val plan = qe("sim_ann_ivf").executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("sim_ann_lsh: candidate join is an equi-join on bucket, not a cross join") {
    val plan = qe("sim_ann_lsh").executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sim_ann_lsh_mp: probe fan-out stays on the broadcast side of a bucket equi-join") {
    // Multi-probe explodes ONLY the query side x(nBits+1); the corpus must
    // keep one bucket per vector and join by equality — a cross join (or
    // the fan-out landing corpus-side) would undo the whole design.
    val plan = qe("sim_ann_lsh_mp").executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("ft_json: no unbounded per-dist window — rank is bucket-bounded, z is agg+join") {
    // The repo rule (ForgetTable scaladoc "Scale notes"): per-dist
    // scalars over the full store come from groupBy(dist)+join, never
    // Window.partitionBy(dist) — a hot dist would otherwise become one
    // straggler task; only a bounded selection (a point read's bins,
    // k rows per dist) takes a per-dist window. ft_json pages the full
    // store, so its only window must be the page-rank inside bounded
    // (dist, bkt) buckets.
    val plan = qe("ft_json").executedPlan.toString
    val windowLines = plan.linesIterator
      .filter(l => l.contains("Window [") && !l.contains("WindowGroupLimit"))
      .toList
    assert(windowLines.nonEmpty, plan)
    windowLines.foreach { l =>
      assert("""\], \[dist#\d+, bkt#\d+\], \[""".r.findFirstIn(l).isDefined,
        s"window not bounded by bucket key: $l")
    }
    // the per-dist scalars (z, bucket offsets, rate) ride broadcast
    // joins — a sort-merge join on dist would mean the tiny aggregate
    // side stopped broadcasting
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("rel_asof_join: one running-frame window pass, no range-join blowup") {
    // The distributed as-of merge: both sides union into ONE window over
    // user_id with a growing frame (evaluated incrementally). A
    // CartesianProduct or BroadcastNestedLoopJoin here would mean the
    // plan degraded to a range join — O(clicks x purchases) per user.
    val plan = qe("rel_asof_join").executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    val windows = plan.linesIterator.filter(l =>
      l.trim.startsWith("Window ") || l.contains("+- Window [")).toList
    assert(windows.size == 1, s"expected exactly 1 WindowExec:\n$plan")
  }

  test("dedup queries: no ScalaUDF anywhere in the hot paths") {
    Seq("dedup_minhash", "dedup_simhash", "dedup_ngram", "ft_sampled",
      "text_pii", "text_repetition", "embed_quant", "pipe_decontam").foreach { n =>
      val plan = qe(n).executedPlan.toString
      assert(!plan.contains("ScalaUDF"), s"$n: $plan")
    }
  }

  test("rel_q3: dim broadcasts, dates push to scans, top-10 is TakeOrderedAndProject") {
    val plan = qe("rel_q3").executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val formatted = qe("rel_q3").explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("GreaterThan(l_shipdate"), formatted)
    assert(formatted.contains("LessThan(o_orderdate"), formatted)
  }

  test("sample_reservoir: per-stratum cap runs as a partial WindowGroupLimit") {
    // The "shuffled volume = N x strata x tasks" claim rests on the
    // rnk <= ReservoirN filter rewriting to WindowGroupLimit.
    val plan = qe("sample_reservoir").executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("rel_funnel/rel_retention: stages aggregate before joining, no event collection") {
    // The hot-user claim rests on per-user partial mins/distincts below
    // the joins — a collect_list-shaped plan would hold a user's events
    // as state and die on skew.
    Seq("rel_funnel", "rel_retention").foreach { n =>
      val plan = qe(n).executedPlan.toString
      assert(plan.contains("partial_min") || plan.contains("partial_count"),
        s"$n: $plan")
      assert(!plan.contains("collect_list"), s"$n: $plan")
      assert(!plan.contains("CartesianProduct"), s"$n: $plan")
    }
  }

  test("pipe_source_cap: hot-domain cap runs as a partial WindowGroupLimit") {
    // The skew claim (a 30%-of-corpus crawl host ships cap-bounded rows
    // to the window stage) rests on rk <= SourceCap rewriting to
    // WindowGroupLimit below the exchange.
    val plan = qe("pipe_source_cap").executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("dedup_substring: fp pair join stays equi; no all-pairs fallback") {
    // _scrub's positional rebuild join is doc_id-equi with the span
    // range as a residual predicate — also never a nested loop.
    Seq("dedup_substring", "dedup_substring_scrub").foreach { n =>
      val plan = qe(n).executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$n: $plan")
      assert(!plan.contains("BroadcastNestedLoop"), s"$n: $plan")
    }
  }

  test("rel_fuzzy_join: blocking join stays equi on gram, verify set is never all-pairs") {
    // the whole point of q-gram blocking: no distance-matrix cross join.
    // Pin the BLOCKING/VERIFY stage itself (fuzzyVerified, before the
    // query body's checkpoint truncates it out of the final plan) AND
    // the post-checkpoint audit/best-match/probe-list joins.
    val (_, verified) = graft.queries.RelationalQueries.fuzzyVerified(spark, sfDir)
    val blockPlan = verified.queryExecution.executedPlan.toString
    assert(!blockPlan.contains("CartesianProduct"), blockPlan)
    assert(!blockPlan.contains("BroadcastNestedLoop"), blockPlan)
    assert(blockPlan.contains("gram#"), s"no gram-key join in:\n$blockPlan")
    val plan = qe("rel_fuzzy_join").executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("rel_fuzzy_join_banded: every blocking join stays equi on (band, gram)") {
    // OR-amplification must not cost the plan shape: the per-band
    // posting joins are ONE equi join keyed (band, gram), and neither
    // the blocking stage nor the assembled query ever falls back to a
    // distance-matrix cross join.
    val q = graft.queries.RelationalQueries.scaledFuzzyGram(
      graft.sources.Tables.customer(spark, sfDir).count())
    val (_, verified) =
      graft.queries.RelationalQueries.fuzzyBandedVerified(spark, sfDir, q)
    val blockPlan = verified.queryExecution.executedPlan.toString
    assert(!blockPlan.contains("CartesianProduct"), blockPlan)
    assert(!blockPlan.contains("BroadcastNestedLoop"), blockPlan)
    assert(blockPlan.contains("band#") && blockPlan.contains("gram#"),
      s"no (band, gram)-key join in:\n$blockPlan")
    val plan = qe("rel_fuzzy_join_banded").executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("rel_sessionize: session assembly runs as a session-window aggregate, no self-join") {
    val plan = qe("rel_sessionize").executedPlan.toString
    // Spark plans session_window through the session exec nodes
    // (UpdatingSessions partial / MergingSessions final) feeding the
    // hash aggregate — per-user in-partition merge, no join at all.
    // (Matching the capital-S NODE names, not the lowercase
    // session_window attribute, which appears in any plan of this
    // query and would make the positive assertion vacuous.)
    assert(plan.contains("MergingSessions") || plan.contains("UpdatingSessions"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("sim_knn_graph: bucket equi-join + partial top-K, never all-pairs") {
    Seq("sim_knn_graph", "sim_knn_graph_scaled").foreach { n =>
      val plan = qe(n).executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$n: $plan")
      assert(!plan.contains("BroadcastNestedLoop"), s"$n: $plan")
      assert(plan.contains("WindowGroupLimit"), s"$n: $plan")
    }
  }

  test("pipe_decontam_bloom: bloom probe is a scalar subquery above the scan, join stays equi") {
    val plan = qe("pipe_decontam_bloom").executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("text_rarity: token-occurrence join rides a broadcast, never a token shuffle") {
    // rarityCounts' contract: the Zipf-head hot keys (the non-rare vocab,
    // bounded <= RarityDenom rows) broadcast, and NO join shuffles on the
    // raw token — a SortMergeJoin keyed on tok would be the skewed-key
    // full shuffle that drowns one task at 100x. pipe_score rides the
    // SAME rarityCounts helper but checkpoints its scored frame, so the
    // join sits inside the checkpoint job, invisible to its final plan —
    // this single assertion covers both call sites.
    val plan = qe("text_rarity").executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val tokJoins = plan.linesIterator.filter(l =>
      l.contains("SortMergeJoin") && l.contains("tok#")).toList
    assert(tokJoins.isEmpty, s"token-key shuffle:\n${tokJoins.mkString("\n")}")
  }

  test("rel_rollup: grouping sets plan as Expand + ONE hash aggregate, not N passes") {
    val plan = qe("rel_rollup").executedPlan.toString
    assert(plan.contains("Expand"), plan)
    // one partial+final aggregate pair over the expanded rows — a plan
    // that unioned three separate aggregations would triple the scan
    assert(plan.linesIterator.count(_.trim.startsWith("+- HashAggregate")) <= 2, plan)
  }

  test("rel_pivot: explicit-values pivot is one conditional aggregate, no Expand") {
    val plan = qe("rel_pivot").executedPlan.toString
    assert(!plan.contains("Expand"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("rel_order_gaps: lag runs in one key-partitioned window pass") {
    val plan = qe("rel_order_gaps").executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    val windows = plan.linesIterator.filter(l =>
      l.trim.startsWith("Window ") || l.contains("+- Window [")).toList
    assert(windows.size == 1, s"expected exactly 1 WindowExec:\n$plan")
  }

  test("mm_near_dup: (band, key) equi-join candidates, never all-pairs; payloads stay row-local") {
    // The perceptual near-dup must stay the dedup_simhash shape: banded
    // equi-join candidate generation — a plan degrading to a cross join
    // would be the N^2 hamming scan the oracle merely simulates. The
    // payload column must also never reach an exchange: only the band
    // ints shuffle.
    val plan = qe("mm_near_dup").executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    val payloadExchanges = plan.linesIterator.filter(l =>
      l.contains("Exchange") && l.contains("payload#")).toList
    assert(payloadExchanges.isEmpty,
      s"payload bytes shuffled:\n${payloadExchanges.mkString("\n")}")
  }

  test("sim_knn_graph_banded: (band, bucket) equi-join + partial top-K, never all-pairs") {
    // OR-amplification must stay b independent equi-joins — a plan that
    // degraded the (band, bucket) key to a cross join would be b x the
    // all-pairs disaster; the post-dedup rank must still group-limit.
    val plan = qe("sim_knn_graph_banded").executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("pipe_export: manifest is a partial+final hash aggregate over the read-back, no window") {
    // The manifest must reduce map-side to PackShards rows — a Window
    // or sort-based aggregate here would shuffle the whole artifact.
    val plan = qe("pipe_export").executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.linesIterator.exists(l => l.trim.startsWith("Window ")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("text_boilerplate: vocabulary top-N is TakeOrderedAndProject, not a global window") {
    // The df table is vocabulary-sized; the top-N must be the
    // distributed partial sort+limit — a Window over the full
    // vocabulary would put millions of shingles in one task at scale.
    val plan = qe("text_boilerplate").executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("pipe_decontam: df-pruned fingerprint equi-joins, no cartesian blowup") {
    // The contamination join must stay an equi-join on the 8-byte
    // shingle fingerprint (train side x test side); a CartesianProduct
    // would be the all-pairs disaster the df prune exists to prevent.
    val plan = qe("pipe_decontam").executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("pipe_decontam_containment: capped equi-joins only, no cartesian blowup") {
    // Same guard for the asymmetric form: eval-fp x train-fp stays an
    // equi-join under the df cap; the boilerplate anti-joins must not
    // degrade to nested-loop shapes.
    val plan = qe("pipe_decontam_containment").executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("sim_ann_ivfpq: probe routing and ADC LUTs all broadcast; no corpus-sized shuffle join") {
    // The two-level index's scale contract: the only corpus-sized
    // relations are the codes frames and the cell assignment (both
    // vec_id-keyed); the probe fan-out (Q x nProbe rows) and the four
    // Q x PqK LUTs must each join as broadcasts, or the cell routing
    // shuffles the very scan it exists to prune.
    val plan = qe("sim_ann_ivfpq").executedPlan.toString
    val bhj = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 5, s"expected >=5 broadcast joins (probes + 4 LUTs), saw $bhj\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sim_ann_pq: all four ADC LUT joins ride broadcasts onto the codes relation") {
    // The 100 TB story of PQ is that the only corpus-sized relations in
    // the scoring pass are the codes frames (whose 4-way vec_id merge
    // join is co-partitioned by the encode windows); each Q x PqK LUT
    // must join as a broadcast — a LUT that shuffles the codes scan
    // defeats the compression.
    val plan = qe("sim_ann_pq").executedPlan.toString
    val bhj = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 4, s"expected >=4 broadcast LUT joins, saw $bhj\n$plan")
  }

  test("pipe_seqs: one shard shuffle; the BPE count and the boundary split stay row-local (no extra exchange)") {
    val plan = qe("pipe_seqs").executedPlan.toString
    // exactly one hash exchange on shard feeds the running-offset
    // window; the piece-count fold and the span explode add NO shuffle
    // (the final orderBy's range exchange is presentation, not work)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected 1 shard exchange, got $hashEx:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("pipe_seqs_tokens: one shard shuffle + a broadcast vocab join; the piece explode stays row-local") {
    val plan = qe("pipe_seqs_tokens").executedPlan.toString
    // the assembled-token relation must keep the pipe_seqs shape: ONE
    // hash exchange on shard feeds the running-offset window, the
    // piece list + posexplode are row-local, and the id mapping is a
    // BROADCAST join (alphabet + BpeMerges rows) — a vocab join that
    // shuffled the exploded token stream would shuffle the whole
    // corpus token mass
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected 1 shard exchange, got $hashEx:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("pipe_seqs_mm: both branches read the ONE checkpointed offset frame — no post-checkpoint exchange; vocab join broadcasts") {
    val plan = qe("pipe_seqs_mm").executedPlan.toString
    // the offset frame (the shard window's output) materialized once —
    // eagerly, at plan build — and the text/patch branches must both
    // scan it in place: any hash exchange in the visible plan would
    // mean a branch re-shuffled the token stream
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 0, s"expected 0 post-checkpoint exchanges, got $hashEx:\n$plan")
    val rddScans = "Scan ExistingRDD".r.findAllIn(plan).size
    assert(rddScans == 2, s"expected both branches on the checkpoint:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("pipe_seqs_tokens_packed: packing agg reuses the shard partitioning — token stream never reshuffles; boundary join rides a broadcast") {
    val plan = qe("pipe_seqs_tokens_packed").executedPlan.toString
    // map-side packing: partial_collect_list folds each sequence's
    // tokens BEFORE any exchange...
    assert(plan.contains("partial_collect_list"), plan)
    // ...and no exchange ever carries seq_id: ClusteredDistribution
    // (shard, seq_id) is satisfied by the window's HashPartitioning
    // (shard), so the (shard, seq_id) agg adds ZERO shuffle — the only
    // hash exchanges are the two shard windows' own (tokens + spans
    // paths), and the doc_starts side joins as a broadcast
    assert(!"Exchange hashpartitioning\\([^)]*seq_id".r
      .findFirstIn(plan).isDefined,
      s"packing agg reshuffled the token stream on (shard, seq_id):\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("pipe_seqs_epoch_order: no sort is run — the key IS the order; epochs explode row-locally") {
    val plan = graft.queries.PipelineQueries.seqEpochOrder(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the epoch-shuffle relation must never materialize a GLOBAL
    // ordering: a range exchange over epochs x sequences is the scale
    // bug this design avoids — a loader range-partitions on order_key
    // instead. (The span window's partition-LOCAL sort is pipe_seqs'
    // own shape and stays.)
    assert(!plan.contains("rangepartitioning"),
      s"epoch order shipped a range exchange:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("pipe_token_budget: every window is partitioned — the cutoff bucket is a carried-offset distributed prefix sum") {
    // The boundary bucket's exact running sum must ride range
    // partitions (partition-local window + broadcast carried offsets):
    // an empty-partitionBy window here would funnel corpus/1000 rows
    // through ONE task at scale — the last unpartitioned window in any
    // registered plan, removed in round 16.
    val plan = qe("pipe_token_budget").executedPlan.toString
    val windowLines = plan.linesIterator
      .filter(l => l.contains("Window [") && !l.contains("WindowGroupLimit"))
      .toList
    assert(windowLines.nonEmpty, plan)
    windowLines.foreach { l =>
      assert("""\], \[pid#\d+\], \[""".r.findFirstIn(l).isDefined,
        s"unpartitioned window in pipe_token_budget: $l")
    }
  }

  test("pipe_seqs_curated: the curated pack is ONE shard exchange past the staged survivor counts — the curate subtree's cost never re-enters the span arithmetic") {
    // the query stages curatedCounts behind a localCheckpoint, so the
    // pack plan the cluster actually runs starts at the checkpoint
    // scan: exactly one Exchange (hashpartitioning on shard — the
    // span window's), every window partitioned, no ScalaUDF
    val counts = graft.queries.PipelineQueries
      .curatedCounts(spark, sfDir).localCheckpoint(true)
    val plan = graft.queries.PipelineQueries
      .seqSpansOfCounts(counts).queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges == 1, s"curated pack shipped $exchanges exchanges:\n$plan")
    assert(plan.contains("hashpartitioning(shard"), plan)
    plan.linesIterator
      .filter(l => l.contains("Window [") && !l.contains("WindowGroupLimit"))
      .foreach { l =>
        assert(l.contains("[shard#") || l.contains(", shard#"),
          s"unpartitioned window in the curated pack: $l")
      }
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("pipe_seqs_loader_batches: loader read range-partitions on order_key, never globally sorts the keys") {
    Seq("pipe_seqs_loader_batches", "pipe_seqs_mm_loader_batches",
        "pipe_seqs_curated_loader", "pipe_seqs_mm_curated_loader").foreach { n =>
      val plan = qe(n).executedPlan.toString
      // the consumer contract: the ONE exchange is RangePartitioning on
      // the order key (the loader's split assignment)...
      assert(plan.contains("rangepartitioning(order_key"), s"$n: $plan")
      // ...and order_key is never globally sorted — the only global sort
      // allowed is the 16-row receipt presentation (ORDER BY bucket)
      plan.linesIterator
        .filter(l => l.contains("Sort [") && l.contains("], true,"))
        .foreach { l =>
          assert(!l.contains("order_key#"), s"$n: global sort on order_key: $l")
        }
    }
  }
}
