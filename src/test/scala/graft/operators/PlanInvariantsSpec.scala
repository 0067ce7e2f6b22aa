package graft.operators

import graft.{Metrics, SparkEntry, SparkSuite}

/** Scale guard over every registered query's final executed physical
  * plan: no cartesian or nested-loop join may appear except the three
  * labeled constant/baseline cases — the invariant that keeps a future
  * edit from silently reintroducing an O(n²) self-join into a production
  * path (the round-4 verdict's z2 finding, now pinned as a test).
  *
  * Scope note: this inspects the RETURNED DataFrame's plan. Work a query
  * executes eagerly while building (n5's k-means fit jobs, z3's per-round
  * CC joins behind localCheckpoint, s17's streaming job) is not visible
  * here — those interior shapes are covered by their own specs
  * (DedupSimilaritySpec's fit determinism, PipelineSpec's CC behavior,
  * StreamIngestSpec), not by this sweep.
  */
class PlanInvariantsSpec extends SparkSuite {

  /** Plans allowed to contain a non-equi join:
    * - j7: the scalar subquery joins ONE broadcast row (constant cost);
    * - x10: the corpus-total scalar joins ONE broadcast row onto the
    *   dimension-sized vocabulary (j7's shape; the corpus-sized token
    *   relation still joins by equi-key);
    * - n1: brute-force ANN, the labeled exact baseline (broadcast query
    *   set × single corpus scan);
    * - n2: the labeled O(n²) exact pair-mining baseline nothing
    *   production consumes;
    * - w8: the grid constructor crossJoins the ONE-row (lo, hi) bounds
    *   frame onto the distinct event types (j7's shape — both sides are
    *   already aggregated; the corpus-sized path is the equi-keyed
    *   hourly rollup);
    * - n7: embeds n1 (the labeled brute-force baseline) as the exact
    *   ground-truth arm it measures the indexes against;
    * - b1/b2/b3: the corpus-stats scalar (N, total tokens) crossJoins
    *   ONE broadcast row onto the already-pruned tf relation (j7's
    *   shape — the corpus-sized side reduced to O(matching docs ×
    *   terms) before the join; b2/b3 read the same 1-row relation from
    *   the persisted stats artifact, and b3's probe fan-out is a
    *   broadcast EQUI-join on tok);
    * - n8: the decontamination sweep is a broadcast eval-slice × corpus
    *   map pass (n1's labeled shape — the eval side of a decontamination
    *   run is small by nature; the LSH-bucketed variant is the documented
    *   path for large eval suites);
    * - c1/c2: the profile's two aggregate passes (min/max or HLL pass,
    *   NDV pass) recombine as a 1-row × 1-broadcast-row crossJoin
    *   (j7's shape);
    * - z9: the decile-bounds scalar (ONE row of 9 percentiles)
    *   crossJoins broadcast onto the token relation (j7's shape — the
    *   corpus side is map-only after it);
    * - a10: the global-count scalar crossJoins ONE broadcast row onto
    *   the per-key exact counts (j7's shape; the sketch side is an
    *   equi-join);
    * - n9: the ADC scan is broadcast queries × reconstructed corpus
    *   with a non-equi self-exclusion (n1's labeled shape — PQ changes
    *   the bytes scanned, not the scan shape);
    * - b6: b1's corpus-stats scalar shape — the 1-row (N, T) relation
    *   crossJoins broadcast onto the already-pruned-and-filtered must-
    *   term tf relation;
    * - n10: n1's labeled shape with the dot kernel — broadcast query
    *   set × single corpus scan, non-equi self-exclusion;
    * - c4: the margin/total relations (category-cardinality rows at
    *   most) crossJoin broadcast to densify the contingency grid —
    *   j7's shape; the ONE corpus-sized pass is the equi-keyed cell
    *   aggregate before them;
    * - b7: the lexical arm is b1's allowed stats-scalar shape, and the
    *   semantic arm crossJoins the ONE-row broadcast query vector onto
    *   the corpus scan (n1's labeled baseline — a deployment swaps in
    *   the ANN index arms, only ranks cross the fusion boundary);
    * - n11: n1's labeled shape over the PRE-FILTERED candidate set (the
    *   metadata restriction is the equi-keyed semi-join BEFORE this
    *   scan; the broadcast-queries × candidates pass with non-equi
    *   self-exclusion is the same scoring tail n1 owns);
    * - b8: b1's corpus-stats scalar shape twice over — the maintained
    *   1-row stats relation (old stats × two 1-row adjustment
    *   aggregates) crossJoins broadcast onto the pruned tf relation;
    * - c5: the two whole-table accounting aggregates (1 row each)
    *   crossJoin broadcast onto the joined-count row (j7's shape; the
    *   corpus-sized work is the equi-keyed full-outer id join);
    * - b9: b1's corpus-stats scalar shape verbatim — the composition
    *   changes the GRANULARITY of the scored relation (passages), not
    *   the join shapes; the 1-row (N, T) stats crossJoin lands on the
    *   term-pruned tf relation exactly as in b1;
    * - n13: c4's chi-square densify — margins of the k×2
    *   (centroid, epoch) cell relation crossJoin broadcast; the ONE
    *   corpus-sized pass is the equi-keyed assignment aggregate;
    * - d10: c5's accounting shape — three 1-row aggregates (truth,
    *   candidates, hits) crossJoin broadcast; the corpus-sized work is
    *   the equi-keyed band join and the artifact-read truth relation;
    * - b10: b1's corpus-stats scalar shape — the 1-row stats relation
    *   crossJoins broadcast onto the probe-term-restricted tf relation
    *   (selection already collected as query-planning state);
    * - e4: the 1-row divisor count crossJoins broadcast onto the
    *   per-user counts (j7's shape; the corpus-sized passes are the
    *   equi-keyed distinct + count aggregates);
    * - b12: b1's corpus-stats scalar shape — the final rescoring
    *   crossJoins the ONE-row broadcast stats onto the tf relation
    *   already restricted to original ∪ expansion terms (both selected
    *   as bounded query-planning state);
    * - b13: b8's maintained-stats shape — the 1-row adjusted (N, T)
    *   relation (artifact stats × the 1-row revoked-slice delta)
    *   crossJoins broadcast onto the tombstoned, term-pruned tf
    *   relation; the corpus-sized work is the 8-byte-key anti-join;
    * - k4: the per-superstep renormalization crossJoins the ONE-row
    *   broadcast max onto the node-sized (checkpointed) score relation
    *   (j7's shape inside an iterated plan — edges only ever move
    *   through equi-joins);
    * - n14: the IVF-PQ candidate join itself is a pure (centroid)
    *   equi-join — the nested loop is n7's evaluation shape, the
    *   embedded n1 brute-force arm the recall is measured AGAINST
    *   (evaluation-set-sized, never a serving path);
    * - a12: the built CMS matrix is ONE row crossJoined broadcast onto
    *   the 10-row top-keys relation (the a10/c2 judged-sketch shape);
    * - b15: the 1-row θ and corpus-stats scalars crossJoin broadcast
    *   (b1/b2's allowed shape), and the ≤|terms|-row upper-bound prefix
    *   sums run as a broadcast triangular self-join — |terms|² rows by
    *   construction, chosen over a window so the gate plan stays
    *   window-free (MaxScoreSpec pins that); posting rows themselves
    *   move only through equi-joins;
    * - n15: n9's evaluation shape — the ADC stage is the broadcast-query
    *   scan (n1's labeled baseline form) and the embedded brute-force
    *   arm exists only to measure recall; the refine join itself is a
    *   pure vec_id equi-join;
    * - z16: three 1-row metric aggregates recombine by broadcast
    *   crossJoin before the unpivot (c1's shape — the corpus moves only
    *   through the one shared scan and the fp aggregates);
    * - c14: x10's scalar shape per profiled column — the 1-row total
    *   crossJoins broadcast onto the dimension-sized grouped counts,
    *   and the 1-row total × 1-row bits-sum recombine (c1's shape);
    *   the only corpus-sized pass is the equi-keyed grouped count;
    * - z15: the EpochCount-row epoch relation crossJoins broadcast onto
    *   the doc-id projection to salt per-epoch hashes (j7's tiny-side
    *   shape); position assembly is an equi-join on (epoch, bucket)
    *   against the broadcast 4096-row offset relation;
    * - b16: pure post-processing of b3's ranked relation, so it inherits
    *   b3's allowed corpus-stats scalar crossJoin (the 1-row (N, T)
    *   relation onto the term-pruned tf relation); the eval tail itself
    *   joins only probe-sized relations.
    */
  private val nonEquiAllowed =
    Set("j7_scalar_subquery", "x10_lm_surprisal", "n1_ann_brute",
      "n2_cosine_pairs", "w8_gap_fill", "n7_ann_recall",
      "b1_bm25_topk", "b2_bm25_indexed", "b3_bm25_batch",
      "n8_semantic_decontam", "c1_column_profile", "c2_profile_approx",
      "z9_curriculum", "a10_heavy_hitters", "n9_pq_adc",
      "b6_boolean_search", "n10_mips", "c4_chi_square", "b7_hybrid_rrf",
      "n11_filtered_ann", "b8_incremental_index",
      "c5_referential_integrity", "b9_passage_bm25", "n13_ivf_drift",
      "d10_lsh_recall", "b10_more_like_this", "e4_relational_division",
      "b12_prf_expansion", "b13_forget", "k4_hits", "n14_ivfpq_recall",
      "a12_cms_counts", "b15_maxscore", "n15_pq_rerank",
      "z16_dataset_card", "c14_entropy", "z15_epoch_shuffle",
      "b16_mrr_eval",
      // x20: x10's 1-row broadcast scalar recombine (corpus doc count N
      // joins the Heaps-bounded df dimension) — same labeled pattern
      "x20_keywords",
      // w20: w8's grid constructor verbatim over the sparsified input —
      // the same ONE-row (lo, hi) bounds crossJoin onto distinct types
      "w20_gap_fill_sparse",
      // n16: n7's evaluation shape — embeds the post-delete full-rebuild
      // baseline it measures the tombstoned serve against, and the two
      // 1-row accounting scalars (n_deleted, served_deleted) recombine
      // as 1-row broadcast crossJoins (c1's shape); the serving joins
      // themselves are centroid/vec_id equi-joins
      "n16_ivf_deletes")

  test("no registered query plans a cartesian/nested-loop join (beyond labeled baselines)") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if nonEquiAllowed(name) => None
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") ||
            plan.contains("BroadcastNestedLoopJoin")) Some(name)
        else None
    }
    assert(offenders.isEmpty,
      s"quadratic join shapes in: ${offenders.mkString(", ")}")
  }

  test("tiny-pair sorts stay single-partition: no range exchange above the verify chain") {
    // the round-10 fix: a rangepartitioning Exchange above d4/d5/n2's
    // broadcast-only verify chains re-executes the whole chain in its
    // boundary-sampling pass (measured 2.1× on d4). Q.tinySort replaces
    // it; this pins the plan so a refactor reintroducing orderBy shows
    // up as a red, not a silent 2× bench regression.
    Seq("d4_ngram_jaccard", "d5_winnow_pairs", "n2_cosine_pairs").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("rangepartitioning"),
        s"$q regressed to a range sort over its live verify chain:\n$plan")
    }
  }

  test("d2 serves from the persisted pair artifact, not a recompute") {
    // r7's top efficiency finding: d2/z1/z3 each re-ran the full
    // candidate+verify build per query. The pair relation is now a
    // Scratch artifact; d2's plan must be a scan of it — seeing a join
    // (LSH band or prefix self-join) or the documents table here means
    // someone reintroduced the per-query rebuild
    val plan = SparkEntry.queries("d2_minhash_lsh")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("neardup_pairs"),
      "d2 must read the persisted neardup_pairs artifact")
    assert(!plan.contains("Join") && !plan.contains("documents.parquet"),
      s"d2's plan must be an index read + sort, got:\n$plan")
  }

  test("round-12 plan claims: x19 encode is map-only, c11 joins artifacts " +
      "without rescanning its source tables") {
    // x19: the N merge applications compose into ONE projection chain —
    // no join anywhere, and the only Exchange is the presentation sort
    // (the banner's map-only claim; a work shuffle here means the
    // replaces stopped composing)
    val x19 = SparkEntry.queries("x19_bpe_encode")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!x19.contains("Join"), s"x19 encode must be join-free:\n$x19")
    assert("Exchange ".r.findAllIn(x19).length <= 1,
      s"x19 grew a work shuffle beyond the presentation sort:\n$x19")
    // c11: the discovery join reads the persisted fk_distinct artifact —
    // any of the 7 relational source tables in the plan means the
    // per-query distinct rebuild came back (the 3.29 s -> 0.61 s fix)
    val c11 = SparkEntry.queries("c11_fk_discovery")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(c11.contains("fk_distinct"),
      s"c11 must read the persisted fk_distinct artifact:\n$c11")
    Seq("lineitem.parquet", "orders.parquet", "customer.parquet",
      "supplier.parquet", "part.parquet").foreach { t =>
      assert(!c11.contains(t),
        s"c11 rescans $t instead of the persisted artifact:\n$c11")
    }
  }

  test("a7 scans events exactly once (single conditional aggregate)") {
    // round-6 verdict: the union-of-global-aggregates form scanned events
    // once per events section — one full extra scan at 100 TB
    val plan = SparkEntry.queries("a7_section_counts")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = "events\\.parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 events scan, plan has $scans")
  }

  test("third-wave plan claims: z10 broadcast-only, x14 map-only, n12 reads its artifact") {
    // z10: the corpus joins the dimension-sized count relation by
    // BROADCAST — a SortMergeJoin here means the corpus shuffled on
    // source, the exact thing the operator banner rules out
    val z10 = SparkEntry.queries("z10_temperature_mix")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(z10.contains("BroadcastHashJoin") && !z10.contains("SortMergeJoin"),
      s"z10 must broadcast the count dimension:\n$z10")
    // x14: one Generate over map work; the only Exchange is the gate's
    // presentation sort
    val x14 = SparkEntry.queries("x14_rag_chunks")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(x14.contains("Generate"), "x14 lost its explode(sequence) fan-out")
    assert("Exchange ".r.findAllIn(x14).length <= 1,
      s"x14 grew a work shuffle beyond the presentation sort:\n$x14")
    // n12: the existing corpus's lists come from the persisted artifact —
    // a plan without that scan re-assigned the corpus per query
    val n12 = SparkEntry.queries("n12_incremental_ivf")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(n12.contains("ivf_lists"),
      s"n12 must read the persisted ivf_lists artifact:\n$n12")
  }

  test("closing-wave plan claims: m7 artifact read + equi-join, u4 join-free, c9/u4 budgets") {
    // m7: both sides of the candidate join read the PERSISTED
    // media_micro artifact (feature extraction is the expensive model
    // pass — built once), and the candidate join is a hash EQUI-join,
    // never a nested loop (the pigeonhole banding exists precisely to
    // make that possible)
    val m7 = SparkEntry.queries("m7_media_neardup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("media_micro".r.findAllIn(m7).length >= 2,
      s"m7 must read the persisted media_micro artifact on both sides:\n$m7")
    assert(m7.contains("HashJoin") && !m7.contains("NestedLoop"),
      s"m7's candidate join must be a hash equi-join:\n$m7")
    // u4: the merge collapsed to ONE side-pivoting aggregate — a Join
    // node here means the full-outer formulation (which re-shuffles its
    // own coalesced-key intermediate) crept back
    val u4 = SparkEntry.queries("u4_three_way_merge")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!u4.contains("Join"),
      s"u4 must merge via the union + single aggregate, not joins:\n$u4")
    assert("Exchange ".r.findAllIn(u4).length <= 3,
      s"u4 grew a shuffle beyond merge + accounting + sort:\n$u4")
    // c9: distinct-counting is structural — a count(distinct) Expand
    // here means the two-level groupBy was flattened
    val c9 = SparkEntry.queries("c9_l_diversity")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!c9.contains("Expand"),
      s"c9 must not plan a count(distinct) Expand:\n$c9")
    assert("Exchange ".r.findAllIn(c9).length <= 3,
      s"c9 grew a shuffle beyond class agg + rollup + accounting:\n$c9")
  }

  test("w10/a11 hold their shuffle budgets (2 and 1 work exchanges)") {
    // the SCALE.md claims as plan assertions: retention = one user window
    // + one grouped distinct (no cohort join back); decay = one grouped
    // sum of longs. ALL Exchange flavors count (a regression to range or
    // single partitioning is still a shuffle) — each query's trailing
    // ORDER BY legitimately adds one rangepartitioning presentation sort
    // on top of the work budget.
    def exchanges(name: String): Int = {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      "Exchange ".r.findAllIn(plan).length
    }
    assert(exchanges("w10_retention") <= 3,
      s"w10 grew a shuffle: ${exchanges("w10_retention")}")
    assert(exchanges("a11_decayed_engagement") <= 2,
      s"a11 grew a shuffle: ${exchanges("a11_decayed_engagement")}")
  }

  test("Q.spread over an aggregate repartitions without running a job") {
    // under AQE a df.rdd width probe of an aggregate materializes its
    // shuffle stage; the decision must come from the logical plan
    val agg = spark.range(1000).groupBy().count()
    val jobs = Metrics(spark)(Q.spread(agg))._2.jobs
    assert(jobs.isEmpty, s"Q.spread ran jobs: $jobs")
  }
}
