package graft

import java.nio.file.{Files, Paths}

/** Generates docs/PLANS.md: the formatted physical plans of the flagship
  * queries with commentary — the ".explain and iterate until it's the
  * plan you'd want" evidence, kept in-repo. Each query runs first
  * ([[PlanAudit.executed]]), so every section is the final adaptive
  * plan (`isFinalPlan=true`): the joins and exchanges that actually ran.
  * Regenerate with `sbt "runMain graft.PlanDump"`. */
object PlanDump {

  private val picks: Seq[(String, String)] = Seq(
    "q01_topk_filter_agg" ->
      """Filter pushed into the parquet scan (`PushedFilters`), 2-column
        |`ReadSchema` (pruning), broadcast hash join on the dim,
        |partial+final hash aggregate, and `TakeOrderedAndProject` —
        |top-k never global-sorts.""".stripMargin,
    "q08_star_denormalize" ->
      """The whole star joined in one plan: every dimension edge is a
        |`BroadcastHashJoin`, and at sf0.001 AQE broadcasts the
        |1,500-row orders side of the fact⋈orders join too, so the final
        |plan has no shuffle exchange at all. No output sort — the checker order-normalizes,
        |and a total sort of the denormalized fact would be the plan's
        |only scale-killer.""".stripMargin,
    "q26_grouped_topk_agg" ->
      """Grouped exact top-k via the typed bounded-heap Aggregator:
        |`ObjectHashAggregate` partial/final pair — at most k elements
        |per (group, partition) enter the shuffle, vs a window-rank plan
        |that shuffles and sorts every row of every group.""".stripMargin,
    "s05_similarity_batch_topk" ->
      """Batch ANN: the whole query set broadcast once, ONE scan of the
        |index, native `cosine_similarity` per (row, query), grouped
        |top-k aggregate — per-query cost is a vector dot, not a job.""".stripMargin,
    "q23_asof_join" ->
      """As-of join by composition: one hash exchange on the equality
        |key, one sort per partition, `last(_, ignoreNulls)` running
        |window — the same shape a dedicated sort-merge as-of operator
        |would produce.""".stripMargin,
    "d03_dedup_ngram_jaccard" ->
      """Blocked exact set-similarity: the source-block self-join is
        |capped (`MaxBlock` semi-join guard) so a hot blocking key can't
        |go quadratic; per-pair work is ONE codegen'd O(n+m) sorted-hash
        |merge (`sorted_intersect_size`), no per-pair set objects.""".stripMargin,
    "q25_reference_etl" ->
      """The reference's entire ETL as one lazy plan: schema-first CSV
        |scans, broadcast semi-join orphan cleanup, dim builds and ONE
        |star join whose projection is the wide table — every dimension
        |edge a `BroadcastHashJoin`. The wide table reads no surrogate
        |id, so no `row_number` window runs; the only shuffles are the
        |three small `distinct` dim builds.""".stripMargin,
    "d02_dedup_minhash_lsh" ->
      """MinHash+LSH: `minhash_signature` (native one-pass expression)
        |over cached shingles, band explode, self-join on (band, sig)
        |with degenerate-bucket capping, exact-Jaccard verification only
        |on candidates.""".stripMargin,
    "s01_similarity_bruteforce_topk" ->
      """Brute-force ANN baseline: broadcast 1-row query vector, native
        |`cosine_similarity` codegen'd per row, `TakeOrderedAndProject`
        |for top-k.""".stripMargin,
    "t05_chunk_documents" ->
      """Context-window chunking: the chunk array is generated by a
        |codegen'd lambda and exploded in the SAME stage as the scan —
        |one row fans out to N chunk rows with zero exchanges before the
        |output sort.""".stripMargin,
    "q24_range_join" ->
      """Bucketized range join: equi-join on (user, 5-min bucket) after a
        |2-bin explode — no nested-loop; exact range predicate applied
        |post-join; left semantics preserved for zero-match rows.""".stripMargin,
    "t08_quality_gopher" ->
      """Repetition/quality signals: ONE `regexp_extract_all` in the whole
        |plan (the token array is lambda-let-bound, so re-references are
        |variable lookups — not CollapseProject re-inlines), one generator
        |projection, zero hash exchanges before the output sort.""".stripMargin,
    "t09_tfidf_terms" ->
      """TF-IDF: tf and df are partial+final hash aggregates joined by a
        |`BroadcastHashJoin` (at sf0.001 AQE broadcasts the (doc, term)
        |tf side, `BuildLeft`, and streams the df frame), corpus size attaches as a 1-row `BroadcastNestedLoopJoin`; only
        |the per-doc rank windows over the already-reduced (doc, term)
        |frame.""".stripMargin,
    "q76_agg_summary_rewrite" ->
      """Summary navigation: the query is WRITTEN against the events
        |fact table, but the scan in this plan is the (day, type)
        |summary parquet — the injected optimizer rule swapped it in at
        |plan time (key filter pushed into the summary scan, partial+
        |final re-aggregation above). The fact table appears nowhere.""".stripMargin,
    "s20_similarity_jl_project" ->
      """JL pre-transform ANN: one corpus pass computes all 32 projected
        |coordinates via the native `plane_project_e4` loop (bit-packed
        |planes, whole-stage codegen), reduced-space `squared_distance_
        |long` feeds the bounded-heap candidate cut, and the exact
        |re-rank fetches candidates by broadcast point-lookup.""".stripMargin,
    "q82_variant_shred" ->
      """VARIANT shredding pushdown: the three `variant_get` typed
        |extractions are compiled INTO the parquet scan — `ReadSchema`
        |is the pruned typed struct of exactly the requested paths, so
        |the variant binary never reaches the query operators and the
        |scan materializes 3 typed columns, not N payloads.""".stripMargin,
    "q87_cbo_join_reorder" ->
      """Cost-based join reorder: the SQL text is worst-order (fact ⋈
        |fact first, selective dim last), but with ANALYZE'd stats the
        |plan joins the mktsegment-filtered customer to orders FIRST —
        |the fact table meets a fifth of orders instead of all of them.
        |Identical SQL without stats keeps the written order.""".stripMargin,
    "q95_dsv2_jsonl_pushdown" ->
      """The native DSv2 connector: `BatchScan` with the date-range and
        |priority-IN predicates ABSORBED into the scan description
        |(`graft-jsonl PushedFilters: [...]`) and `ReadSchema` pruned to
        |the five requested keys — rows failing the predicate die inside
        |the reader before materialization; no residual Filter node.""".stripMargin,
    "q101_manifest_delete_vectors" ->
      """Merge-on-read deletes: the scan unions only the manifest's DATA
        |files, and the tombstone side enters as a `BroadcastHashJoin
        |LeftAnti` — a delete costs one tiny broadcast probe at read
        |time and zero data-file rewrites at write time.""".stripMargin
  )

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("plandump")
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# Flagship physical plans (sf0.001, local)\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"` — do not edit by hand.\n")
    picks.foreach { case (name, commentary) =>
      val qe = PlanAudit.executed(graft.queries.Catalog.queries(name)(spark, dir))
      sb.append(s"\n## $name\n\n")
      sb.append(commentary.replaceAll("\n", " ")).append("\n\n```\n")
      sb.append(qe.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
      InternalCaches.releaseAll()
      spark.catalog.clearCache()
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println("wrote docs/PLANS.md")
    spark.stop()
  }
}
