package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the 100 TB posture of key operators
  * asserted as tests, so a refactor that silently introduces a
  * shuffle, loses a broadcast, or drops predicate pushdown fails CI
  * instead of only showing up in the next bench run. Assertions are on
  * the physical plan string (initial AQE plan — static choices like
  * broadcast hints and shuffle counts are visible there). */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def exchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  test("row-local curation operators run entirely on the scan (zero shuffles)") {
    for (q <- Seq("q_quality_filter", "q_pii_scrub", "q_embedding_quant",
      "q_doc_chunks", "q_text_stats", "q_token_count", "q_fingerprint",
      "q_repetition_filter")) {
      val p = plan(q)
      assert(exchanges(p) == 0, s"$q grew a shuffle:\n$p")
    }
  }

  test("winnowing rides the scan (zero shuffles)") {
    val p = plan("q_winnow")
    assert(exchanges(p) == 0, s"q_winnow grew a shuffle:\n$p")
  }

  test("LM scoring joins shuffle-hash on the bigram key (LM never broadcast)") {
    val p = plan("q_lm_score")
    assert(p.contains("ShuffledHashJoin"), s"scoring join lost its hint:\n$p")
    // the LM is corpus-derived: ANY broadcast join in this plan means
    // a corpus-sized side got broadcast (huge at 100 TB)
    assert(!p.contains("BroadcastHashJoin"), s"LM side got broadcast:\n$p")
  }

  test("star join broadcasts its dims (no sort-merge join)") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$p")
  }

  test("LSH self-join stays shuffle-hash, never broadcast") {
    val p = plan("q_dedup_minhash_pairs")
    assert(p.contains("ShuffledHashJoin"), s"band self-join lost its hint:\n$p")
  }

  test("domain mix broadcasts its tiny rate frames") {
    val p = plan("q_domain_mix")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"rate join fell back to SMJ:\n$p")
  }

  test("decontamination broadcasts the eval n-gram set; the corpus side never shuffles") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval set not broadcast:\n$p")
  }

  test("span dedup joins back shuffle-hash on the span key") {
    val p = plan("q_dedup_spans")
    assert(p.contains("ShuffledHashJoin"), s"span join-back lost its hint:\n$p")
    assert(!p.contains("SortMergeJoin"), s"span join-back fell back to SMJ:\n$p")
  }

  test("bloom dedup prunes the batch with the native predicate before the verify join") {
    val p = plan("q_dedup_bloom")
    assert(p.contains("might_contain"), s"bloom predicate missing:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"verify join lost its hint:\n$p")
  }

  test("semantic dedup pair generation is cluster-local (join keyed on label)") {
    val p = plan("q_semdedup")
    assert(p.contains("ShuffledHashJoin"), s"within-cluster join lost its hint:\n$p")
  }

  test("substring dedup joins are shuffle-hash; span text never joins") {
    val p = plan("q_substring_dedup")
    assert(p.contains("ShuffledHashJoin"), s"hash join-back lost its hint:\n$p")
    assert(!p.contains("SortMergeJoin"), s"join-back fell back to SMJ:\n$p")
  }

  test("budget sample ranks via the bounded aggregate, not a window sort") {
    val p = plan("q_budget_sample")
    assert(!p.contains("Window"), s"budget sample fell back to a window:\n$p")
  }

  test("source overlap pair join stays shuffle-hash on the span key") {
    val p = plan("q_source_overlap")
    assert(p.contains("ShuffledHashJoin"), s"pair join lost its hint:\n$p")
    assert(!p.contains("SortMergeJoin"), s"pair join fell back to SMJ:\n$p")
  }

  test("filtered ANN pre-filters on the metadata scan, ranks via the bounded aggregate") {
    val p = plan("q_ann_filtered")
    assert(!p.contains("Window"), s"filtered ANN fell back to a window sort:\n$p")
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(lang,en\\)".r.findFirstIn(p).isDefined,
      s"lang predicate not pushed to the metadata scan:\n$p")
  }

  test("containment candidate generation is df-capped (cap agg present)") {
    val p = plan("q_containment")
    assert(p.contains("ShuffledHashJoin"), s"pair join lost its hint:\n$p")
    // the cap itself: a post-aggregation filter df <= 4 must survive
    assert("\\(df#\\d+L? <= 4\\)".r.findFirstIn(p).isDefined,
      s"df-cap filter missing from the plan:\n$p")
  }

  test("bm25 ranks via distributed take-ordered, never a global sort") {
    val p = plan("q_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-k should be TakeOrderedAndProject:\n$p")
  }

  test("weighted sampling selects via the bounded aggregate, not a window") {
    val p = plan("q_weighted_sample")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "),
      s"weighted sample fell back to a window rank over the corpus:\n$p")
  }

  test("sketch partials merge map-side (partial hll aggregation present)") {
    val p = plan("q_hll_partials")
    assert(p.contains("hll_union_agg") || p.contains("HllUnionAgg"),
      s"weekly rollup should union stored sketches:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("range join bands as an equi-join (no nested loop, no cartesian)") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$p")
  }

  test("attribution runs as one window pass — no join anywhere in the plan") {
    val p = plan("q_attribution")
    assert(!p.contains("Join"),
      s"attribution should credit via a running window, not a touch/conversion join:\n$p")
  }

  test("rrf fusion plan is shuffle-free (both arms bounded before the fuse)") {
    val p = plan("q_rrf_fusion")
    assert(!p.contains("Exchange hashpartitioning"),
      s"rrf fusion should fuse two bounded top-k arms without a keyed shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"rrf arms should select top-k via TakeOrderedAndProject:\n$p")
  }

  test("entity match: the block-local levenshtein join is shuffle-hash, never nested-loop") {
    val p = plan("q_entity_match")
    assert(p.contains("ShuffledHashJoin"), s"blocking join lost its hint:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"blocking failed — unkeyed join appeared:\n$p")
  }

  test("triangle count: closure probe stays shuffle-hash (edges never broadcast)") {
    // wedges now enumerate row-locally from collected out-neighbor
    // arrays (GraphCore.triangles); the one remaining graph join is
    // the closure probe — the orientation joins sit behind the eager
    // checkpoint, pinned by the lazy-kernel test below
    val p = plan("q_triangle_count")
    assert(p.contains("ShuffledHashJoin"), s"closure join lost its hint:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"a graph side broadcast:\n$p")
  }

  test("triangle kernel: orientation + closure joins shuffle-hash, wedge explode is join-free") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("pa", "pb")
    val edges = graft.queries.GraphCore.edgesFromPairs(pairs)
    // drive orientation WITHOUT the checkpoint boundary: the lazy
    // kernel exposes both degree-attachment joins to the planner
    val lazyOriented = graft.queries.GraphCore.orientedLazy(
      edges, graft.queries.GraphCore.degreesOf(edges))
    val po = lazyOriented.queryExecution.executedPlan.toString
    assert("ShuffledHashJoin".r.findAllIn(po).length == 2,
      s"degree-attachment joins lost their hints:\n$po")
    // the node-sized degree frame is ALWAYS the hash build side —
    // a celebrity hub only lengthens the streamed edge side
    assert(!po.contains("BroadcastHashJoin") && !po.contains("SortMergeJoin"),
      s"orientation joins regressed from shuffle-hash:\n$po")
    // hub-safety: no per-node neighbor collection anywhere in the
    // edge/degree/orientation pipeline (arrays first appear in the
    // wedge stage, where orientation bounds groups at O(√m))
    assert(!po.contains("collect_set") && !po.contains("collect_list"),
      s"orientation pipeline materialized neighbor arrays:\n$po")
    val pt = graft.queries.GraphCore.triangles(
      graft.queries.GraphCore.orientedOf(edges))
      .queryExecution.executedPlan.toString
    assert(pt.contains("ShuffledHashJoin"), s"closure join lost its hint:\n$pt")
    assert(!pt.contains("BroadcastHashJoin"), s"closure broadcast a graph side:\n$pt")
    // exactly ONE join in the enumeration: wedges come from the
    // row-local explode, not an edge-edge join
    assert("ShuffledHashJoin".r.findAllIn(pt).length == 1,
      s"wedge generation regressed to a join:\n$pt")
    // the wedge stream is bloom-pruned BEFORE the closure exchange:
    // might_contain must sit in the plan
    assert(pt.contains("might_contain"),
      s"wedge stream lost its edge-set bloom prefilter:\n$pt")
  }

  test("markov chain shuffles raw events exactly once (window), cells are tiny") {
    val p = plan("q_markov_chain")
    // raw events cross one exchange (the user window); the cell agg and
    // the row-normalizing window shuffle only the pre-aggregated
    // |event_types|² cell frame, and the agg is map-side combined
    assert(exchanges(p) <= 3, s"markov grew shuffles:\n$p")
    assert(p.contains("partial_count"), s"cell agg lost map-side combine:\n$p")
  }

  test("ab lift: experiment readout aggregates in one pass, no join") {
    val p = plan("q_ab_lift")
    assert(!p.contains("Join"), s"ab_lift should need no join:\n$p")
  }

  test("association rules: basket pair join is shuffle-hash; order count never re-joins per rule") {
    val p = plan("q_assoc_rules")
    assert(p.contains("ShuffledHashJoin"), s"pair/item joins lost their hints:\n$p")
    assert(!p.contains("CartesianProduct") ||
      "BroadcastExchange|BroadcastNestedLoop".r.findFirstIn(p).isDefined,
      s"the scalar order count must attach via broadcast, not a real cartesian:\n$p")
  }

  test("graph batch: LPA and BFS rounds join shuffle-hash (edges never broadcast)") {
    // the production paths checkpoint each round eagerly, so the final
    // executed plan is a checkpoint scan — drive the kernels lazily to
    // see the round shape
    import spark.implicits._
    val ed = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val lpa = graft.queries.GraphB.lpaRounds(ed, 1, checkpoint = false)
      .queryExecution.executedPlan.toString
    val bfs = graft.queries.GraphB.bfsRounds(ed, seeds, 1, checkpoint = false)
      .queryExecution.executedPlan.toString
    for ((q, p) <- Seq("lpa" -> lpa, "bfs" -> bfs)) {
      assert(p.contains("ShuffledHashJoin"), s"$q round join lost its hint:\n$p")
      // label/distance frames are node-count-sized but grow with the
      // graph — nothing in the round may broadcast
      assert(!p.contains("BroadcastHashJoin"), s"$q broadcast a graph side:\n$p")
    }
  }

  test("edge jaccard: top-50 is a distributed TakeOrderedAndProject, never a global sort") {
    val p = plan("q_edge_jaccard")
    assert(p.contains("TakeOrderedAndProject"), s"top-50 fell back to sort+limit:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"wedge joins lost their hints:\n$p")
  }

  test("seq trigrams: one shuffle assembles timelines, no window operator") {
    val p = plan("q_seq_trigrams")
    assert(!p.contains("Window"), s"trigram mining must not window the event log:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 fell back to sort+limit:\n$p")
  }

  test("kmv: bottom-k sketches aggregate map-side (partial agg before the shuffle)") {
    val p = plan("q_kmv_intersect")
    assert(!p.contains("Window"), s"sketch build must not rank via window:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"TopKAgg partial missing:\n$p")
  }

  test("vocab coverage: top-100 is a distributed take; no window over the full vocabulary") {
    val p = plan("q_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 should be a distributed TakeOrderedAndProject:\n$p")
    // the only Window allowed is the bounded cumsum ABOVE the take
    // (input ≤ 100 rows). Parents print before children in the plan
    // tree, so a Window marker after the take marker means a window
    // ran below it — over the full vocabulary, the r4 scale-killer
    val ti = p.indexOf("TakeOrderedAndProject")
    val below = p.indexOf("Window", ti)
    assert(below == -1,
      s"a window runs below the take (over the full vocabulary):\n$p")
  }

  test("filter predicates reach the parquet scan") {
    val p = plan("q_select_filter")
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      s"no pushed filters in scan:\n$p")
  }

  test("best-of-n selection is a pure hash agg (no window, one exchange)") {
    for (q <- Seq("q_rejection_sample", "q_preference_pairs")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q grew a window sort:\n$p")
      assert(exchanges(p) <= 1, s"$q shuffles more than the group agg:\n$p")
    }
  }

  test("kl divergence: vocab-frame joins never broadcast the corpus-derived side") {
    val p = plan("q_kl_divergence")
    // the global-term-count frame is corpus-derived (vocab-sized at
    // 100 TB): it must join shuffle-hash, while the 20-row per-source
    // totals ride a broadcast
    assert(p.contains("ShuffledHashJoin"), s"term join lost its hint:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"scalar frames not broadcast:\n$p")
  }

  test("stored-tokenizer encode plan contains no training aggregate") {
    val qe = SparkEntry.queries("q_bpe_encode")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    // each training round ends in a bounded top-1 (TakeOrdered) over
    // the pair counts; an encode plan that re-trains would carry one
    assert(!p.contains("TakeOrdered"),
      s"q_bpe_encode re-derives training state:\n$p")
    // the stored-merge replace chain lives in a projection the
    // physical string folds away — assert it on the optimized plan
    val lp = qe.optimizedPlan.toString
    assert(lp.contains("replace"),
      s"q_bpe_encode lost the stored-merge replace chain:\n$lp")
  }

  test("pass@k and the arena matches aggregate without windows") {
    for (q <- Seq("q_pass_at_k", "q_win_matrix")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q grew a window sort:\n$p")
      // events shuffle once into the per-problem/match agg; the
      // second exchange is the tiny k/pair re-agg
      assert(exchanges(p) <= 2, s"$q shuffles beyond its two aggs:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to SMJ:\n$p")
    }
  }

  test("SFT assembly is one hash agg: no window, one exchange") {
    val p = plan("q_sft_assemble")
    assert(!p.contains("Window"), s"ordering must be array_sort, not a window:\n$p")
    assert(exchanges(p) <= 1, s"q_sft_assemble shuffles more than the group agg:\n$p")
  }

  test("media near-dup band joins stay shuffle-hash (hashes never broadcast)") {
    for (q <- Seq("q_video_dedup", "q_audio_dedup")) {
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"), s"$q band join lost its hint:\n$p")
      assert(!p.contains("BroadcastHashJoin"),
        s"$q broadcast a corpus-derived hash frame:\n$p")
    }
  }

  test("distinct-user counts plan per-user flags: no Expand, no exchange past the occurrence's") {
    for (q <- Seq("q_cohort_retained", "q_active_user_count", "q_count_distinct")) {
      val p = plan(q)
      assert(!p.contains("Expand"), s"$q expands rows again:\n$p")
    }
    // the flags reuse the occurrence's (dims, user) partitioning; only
    // the per-key counts shuffle again
    val occurrence = exchanges(plan("q_user_occurrence"))
    for (q <- Seq("q_cohort_retained", "q_active_user_count", "q_feature_active_users")) {
      val p = plan(q)
      assert(exchanges(p) == occurrence + 1, s"$q grew a shuffle:\n$p")
    }
  }

  test("no query scans more than 8 columns of any table") {
    for ((name, fn) <- SparkEntry.queries) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      val wide = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
        .map(_.group(1)).filter(_.split(",").length > 8).toSeq
      assert(wide.isEmpty, s"$name reads wide: ${wide.mkString("; ")}")
    }
  }
}
