package graft

import graft.queries.Catalog

/** Mechanized plan-shape regression for the most expensive catalog
  * entries (round-9 verdict item 5): PLAN_AUDIT.md documents the plans,
  * but nothing FAILED when a flagship query silently grew an exchange
  * or flipped a broadcast join to a sort-merge. This spec pins the
  * physical-operator budget — (hash exchanges, broadcast-hash joins,
  * sort-merge joins, broadcast-nested-loop joins, shuffled-hash joins)
  * — of the ~15 entries that dominate bench cost, counted on the FINAL
  * adaptive plan after execution at sf0.001 by [[PlanAudit.operatorCounts]]
  * (a persisted input counts as its scan).
  *
  * A failure here means the plan CHANGED, not necessarily broke: if the
  * change is a deliberate improvement, re-pin the row and say why in
  * the commit; if it is an accidental hint, a lost broadcast, or a new
  * shuffle, the budget caught a scale regression before the bench did.
  *
  * Notes on the expected values:
  *  - g01/g06 return a frame over per-round localCheckpoint state, so
  *    the RETURNED plan is exchange-free — their per-round cost is
  *    covered by GraphSpec's convergence checksums, and this pin
  *    guards the read-out plan staying trivial;
  *  - the BNLJ entries (q89, s12, s14–s16) are tiny-broadcast-side by
  *    construction (centroid/query-batch cross joins) — the pin holds
  *    their count DOWN as much as it documents them;
  *  - streaming entries are excluded: their per-batch plans are not
  *    reachable from a returned DataFrame (STREAM_COST attributes
  *    their wall-time instead).
  */
class PlanBudgetSpec extends SparkSpecBase {

  /** (hash exchanges, BHJ, SMJ, BNLJ, SHJ) — pinned at HEAD as UPPER
    * BOUNDS: a plan may legitimately come in under budget when the
    * shared test session's exchange/cache reuse kicks in (q89 ran at 11
    * exchanges in-suite vs 13 isolated; s12 at 5 vs 4 — context decides
    * what gets reused), but exceeding a bound means a NEW shuffle, a
    * broadcast join flipping to sort-merge, or a nested loop appearing
    * — the regression classes this spec exists to catch. Values are
    * the max observed across isolated and in-suite runs. */
  private val budgets = Map(
    "q23_asof_join"                 -> (2, 0, 0, 0, 0),
    "q78_asof_join_native"          -> (3, 0, 0, 0, 0),
    "q66_kmv_distinct_rollup"       -> (6, 1, 0, 0, 0),
    "q89_kmv_set_ops"               -> (13, 9, 0, 6, 0),
    "q92_quantile_sketch_ladder"    -> (6, 3, 0, 0, 0),
    // +1 exchange in r15, deliberate: the probe side is round-robin
    // spread to the core grant before the block join — AQE coalesced
    // the few-MB probe shuffle to ONE partition while the join fans
    // out ~MaxBlock× with a per-row cosine, serializing the expensive
    // stage (2×1.7 s single-task stages, incl. the sort's range-sample
    // recomputing the collapsed pipeline). See knnJoinCells.
    "s12_knn_join_cells"            -> (6, 2, 0, 3, 0),
    // the IVF-PQ family rides InternalCaches-persisted index frames —
    // whether a cached frame is reused or rebuilt moves their exchange
    // count by one (s16 measured at both 8 and 9), so these carry the
    // rebuild-path maximum
    "s14_similarity_ivfpq_topk"     -> (9, 6, 0, 3, 0),
    "s15_similarity_ivfpq_residual" -> (8, 5, 0, 2, 0),
    "s16_similarity_ivfpq_rerank"   -> (9, 7, 0, 3, 0),
    "g01_pagerank"                  -> (0, 0, 0, 0, 0),
    "g04_bfs_distance"              -> (3, 2, 0, 0, 0),
    "g06_personalized_pagerank"     -> (0, 0, 0, 0, 0),
    "g09_hyperball_kmv"             -> (3, 2, 0, 0, 0),
    "d05_dedup_clusters"            -> (3, 1, 0, 0, 0),
    // d08's dup-gram probe is MERGE-hinted (round 14): the dup side is
    // corpus-sized and must never broadcast, so the semi join is a
    // sort-merge — one more hash exchange (the grams probe side; the
    // dup side reuses the count-distinct shuffle) and the pinned SMJ
    // Exch 4 since the count walks the plan tree (PlanAudit.operatorCounts):
    // the plan text it replaced was cut at the first nested cached plan,
    // which hid two shuffles; 4 at both 4 and 32 cores
    "d08_dup_span_detect"           -> (4, 2, 1, 0, 0),
    // round-10 additions (the new >1.5s bench entries): q93's one BNLJ
    // is the single-row basket-total cross join; d16/d17/g10 budgets
    // are the PLAN_AUDIT static counts (their adaptive plans come in at
    // or under these)
    "d16_dedup_canonical_keep"      -> (5, 3, 0, 0, 0),
    // +SMJ in r15, deliberate: the unbounded band-keyed joins (the
    // batch bucket semi and candidatePairs' semi + pair join) are
    // MERGE-hinted — the d08 policy, extended after the 500k-doc plan
    // dump showed every dedup join picking corpus-sized broadcast
    // builds (plans/r15-scale/). At sf0.001 AQE empty-relation
    // elimination collapses most of them; 3 covers the surviving set.
    // BHJ 7 with the tree walk, as d08's Exch above
    "d17_incremental_neardup"       -> (5, 7, 3, 0, 0),
    "g10_weighted_sssp"             -> (4, 2, 0, 0, 0),
    "q93_basket_pairs"              -> (8, 3, 0, 1, 1))

  /** Operator counts of `name`'s final plan ([[PlanAudit.operatorCounts]])
    * and the plan itself, for the failure message. */
  private def finalPlan(name: String): (Map[String, Int], String) = {
    val p = PlanAudit.executed(Catalog.queries(name)(spark, sf0001)).executedPlan
    val out = (PlanAudit.operatorCounts(p), p.toString)
    InternalCaches.releaseAll()
    spark.catalog.clearCache()
    out
  }

  /** Single-partition-window allowlist (round-13 verdict item 5): a
    * Window with NO partition spec is a one-task total sort — a
    * scale-killer on fact data, tolerated ONLY on the documented
    * parity-mode windows over bounded DIMENSION frames (§7.4 policy;
    * scale path `denseIdsBy`). Keys are catalog entries, values the
    * bounded frame that justifies them. PLAN_AUDIT.md's `1pW` column is
    * the audited census; this spec fails when a non-listed entry grows
    * one (regenerate the audit after plan changes: `runMain
    * graft.PlanAudit`). */
  private val onePartWindowAllowlist: Map[String, String] = Map(
    "q04_trend_pct_change" -> "lag over the ≤8-row quarter dimension",
    "q09_dim_surrogate_keys" -> "row_number over the ≤7-row parity dimension",
    "q89_kmv_set_ops" -> "bit assignment over the 5-row event-type dimension")

  test("1pW guard: no catalog entry outside the allowlist has a single-partition window") {
    val audit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("docs/PLAN_AUDIT.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val rows = audit.linesIterator
      .filter(l => l.startsWith("| ") && l.count(_ == '|') == 9)
      .map(_.split('|').map(_.trim))
      .filter(c => c.length >= 9 && c(1).matches("[a-z].*") && c(8).matches("\\d+"))
      .map(c => c(1) -> c(8).toInt)
      .toSeq
    assert(rows.size > 150, s"PLAN_AUDIT.md parse found only ${rows.size} rows — " +
      "column layout changed? (expected 9 columns incl. 1pW)")
    val offenders = rows.filter { case (name, w) =>
      w > 0 && !onePartWindowAllowlist.contains(name) }
    assert(offenders.isEmpty,
      s"entries grew single-partition windows outside the allowlist: " +
        s"${offenders.mkString(", ")} — partition the window (or argue the " +
        "bounded-dimension exemption here)")
    // stale allowlist rows keep the floor shrinking
    val byName = rows.toMap
    val stale = onePartWindowAllowlist.keys.filter(n => byName.get(n).exists(_ == 0))
    assert(stale.isEmpty, s"allowlist rows with 1pW=0 in the audit (remove): $stale")
  }

  test("1pW mechanism: the tree walk counts windows through AQE stage wrappers") {
    // live sanity of PlanAudit.onePartitionWindows — the audit column is
    // only as good as the walker
    def count(name: String): Int = {
      val qe = PlanAudit.executed(Catalog.queries(name)(spark, sf0001))
      val n = PlanAudit.onePartitionWindows(qe.executedPlan)
      InternalCaches.releaseAll(); spark.catalog.clearCache()
      n
    }
    assert(count("q04_trend_pct_change") >= 1,
      "walker missed q04's documented parity window")
    assert(count("q01_topk_filter_agg") === 0,
      "q01 must not carry an unpartitioned window")
  }

  budgets.toSeq.sortBy(_._1).foreach { case (name, (exch, bhj, smj, bnlj, shj)) =>
    test(s"plan budget: $name stays within exch<=$exch bhj<=$bhj smj<=$smj bnlj<=$bnlj shj<=$shj") {
      val (counts, p) = finalPlan(name)
      val got = Seq(
        "Exchange hashpartitioning" -> exch, "BroadcastHashJoin" -> bhj,
        "SortMergeJoin" -> smj, "BroadcastNestedLoopJoin" -> bnlj,
        "ShuffledHashJoin" -> shj)
        .map { case (op, budget) => (op, counts.getOrElse(op, 0), budget) }
      got.foreach { case (op, n, budget) =>
        assert(n <= budget,
          s"$name exceeded its $op budget ($n > $budget) — a new shuffle/" +
            s"join-strategy regression, or a deliberate change to re-pin. " +
            s"Plan:\n${p.take(8000)}")
      }
    }
  }
}
