package graft

import java.nio.file.{Files, Paths}

/** Writes `PLANS.md`: the formatted physical plan of each headline
  * query at sf0.001 — the artifact backing the plan-quality claims
  * (pushdown, pruning, broadcast selection, no cartesian fallbacks).
  * Regenerate with: sbt "runMain graft.Plans [outFile] [query,...]"
  *
  * A query list after the output file writes those plans instead of the
  * headline set — the per-round before/after evidence a verdict checks
  * optimization claims against, e.g.
  * `runMain graft.Plans plans/r15/after.md d32_cross_doc_repeats,p07_substring_funnel`.
  * The session runs a fixed 4 threads, so the plan text does not
  * depend on the host.
  */
object Plans {

  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_project", "q03_join_agg",
    "q13_multiway_join", "q16_asof_join", "d01_exact_dedup",
    "d02_minhash_lsh", "d04_ngram_jaccard", "s01_topk_bruteforce",
    "s05_topk_ivf", "e02_session_window", "e04_json_props",
    "x01_xml_ingest_counts", "c03_contamination",
    // round 3: q31 salted-join shape (explode replication, no cartesian),
    // c08 broadcast decontamination semi-join (corpus never shuffles),
    // s09 PQ ADC search (broadcast distance tables, lookup-only scoring),
    // t10 rarity (df table groupBy + sampled probe join).
    // q30/q32 are absent by design: they materialize eagerly after
    // cleaning up their layout artifacts, so the returned plan is a
    // LocalTableScan — their plan gates live in LayoutSkewSpec.
    "q31_salted_join", "c08_decontaminate", "s09_pq_topk", "t10_rarity",
    // q34: the bucketized interval join — hash join on buckets, never BNLJ
    "q34_interval_join",
    // round 4: c07 PII scrub (pure codegen'd column math at scan speed),
    // d09 incremental dedup (map-side-combined groupBy + anti join),
    // q37 two-level CMS merge (cell sums + broadcast probe joins),
    // s10 composed IVF-PQ (candidate scoring is a list equi-join with
    // broadcast distance tables — the only BNLJ nodes are the
    // intentional tiny-centroid cross joins, as in s05)
    "c07_pii_redaction", "d09_incremental_dedup", "q37_cms_merge",
    "s10_ivfpq_topk",
    // round 4 cont.: q42 incremental agg (level-2 merge reuses level-1's
    // partitioning — states, not rows, cross the second exchange),
    // d11 prefix-filter join (inverted-index equi-joins only, no
    // cartesian anywhere despite being an exact similarity JOIN),
    // s12 is absent for the same reason as q30/q32: its greedy steps
    // are eagerly localCheckpoint'ed (the returned plan is RDD scans),
    // because a state that feeds both the output and the next step
    // would otherwise re-expand its lineage multiplicatively — the
    // corpus-scan discipline (two pruned scans, ids+scores-only top-k
    // exchange) is documented in Similarity.mmrRerank's scaladoc.
    "q42_incremental_agg", "d11_prefix_filter_join",
    // round 4 cont.: d13 SemDeDup (cid equi-join bounds the pair
    // stage; kmeans model state is literals so only the pair join
    // shuffles), c13 Pareto frontier (per-x/per-bucket windows + a
    // broadcast bucket prefix-max — the one global window is over the
    // bounded bucket axis), t13 BPE encode (vocab-map equi-join onto
    // the exploded corpus; training itself is RDD-materialized per
    // step, the s12 discipline)
    "d13_semantic_dedup", "c13_pareto_frontier", "t13_bpe_encode",
    // round 5: p01 composed pipeline — the returned plan covers the
    // stages AFTER the last eager stage-boundary checkpoint
    // (decontaminate → quality gate → split → shard pack over the
    // settled corpus; earlier stages appear as RDD scans by design,
    // the s12 materialization discipline at pipeline scale); p02
    // incremental settle (two-day history anti-join composition)
    "p01_curation_pipeline", "p02_incremental_settle",
    // round 5 cont.: g01 integer PageRank (the unrolled superstep
    // chain as ONE plan — equi-joins + map-side-combined integer sums
    // over the checkpointed edge relation), t16 bigram LM (count
    // equi-joins + per-doc fold; the model relations derive from one
    // checkpointed tokenize pass), c14 DSIR (broadcast bucket model,
    // TakeOrdered selection), q47 incremental join maintenance (four
    // disjoint delta joins re-aggregated)
    "g01_user_pagerank", "t16_bigram_lm_score", "c14_dsir_selection",
    "q47_incremental_join",
    // round 5 cont.: p03 targeted-selection pipeline (the stages after
    // the dedup checkpoint: DSIR broadcast-model scoring, bounded LM
    // gate, split + pack), g02 degree-ordered triangles (equi-joins
    // over the oriented edge relation)
    "p03_targeted_selection", "g02_triangle_count",
    // round 6: g04 path-doubling closure (log₂ checkpointed doubling
    // rounds — closure⋈pointer equi-joins, no cartesian, no distinct),
    // p04 disposition audit (stages 1-4 + id-sized marker joins),
    // d16 incremental LSH (batch bands probe the persisted index)
    "g04_deep_closure", "p04_drop_audit", "d16_incremental_lsh",
    // round 6 cont.: s15 k-NN graph (bucket-keyed LSH self-join — no
    // broadcast side exists, both sides shuffle on the bucket), c18
    // sequence packing (two-pass distributed cumsum: intra-granule
    // windows + broadcast granule prefix offsets; the only global
    // window is over the granule totals), t21 perceptron scoring
    // (trained weights re-enter as literals — a codegen'd projection,
    // zero joins; the d17 label-graph CC plan is RDD-materialized by
    // the CC engine, so its gate lives in DedupClusterSpec instead)
    "s15_knn_graph", "c18_sequence_packing", "t21_perceptron_classify",
    // round 7 — the rest of the round-6 set (every query with a join
    // or window now has a committed plan): c17 perplexity buckets
    // (broadcast LM count joins + per-source ntile), d17 incremental
    // clustering (the label remap joins over the RDD-materialized CC —
    // the iterative core's gates live in DedupClusterSpec), d18
    // estimator accuracy (band pairs + candidate-only exact verify),
    // e14 ntile RFM vs e15 threshold RFM (the global windows next to
    // the broadcast-threshold column math replacing them), g05 BFS
    // (visited-set anti-join pruning), j02/j03/j04 interchange
    // round-trips (scan shapes for csv/orc/merged parquet), m07
    // keyframes (generator projection, payloads never shuffle), q50
    // MAD outliers (grouped exact percentiles), q51 quality suite
    // (aggregate/anti-join per check, unioned), s16 nprobe sweep
    // (level-expanded ground-truth join), t22 OLS residuals (trained
    // scalars as literals), t23 drift (full-outer count merge), t24
    // fertility (map-side-combined sums)
    "c17_perplexity_buckets", "d17_incremental_clusters",
    "d18_minhash_estimate", "e14_rfm_segments", "g05_bfs_distances",
    "j02_csv_roundtrip", "j03_orc_roundtrip", "m07_keyframe_checksums",
    "q50_robust_outliers", "q51_quality_checks", "s16_nprobe_sweep",
    "t22_ols_residuals", "t23_token_drift", "t24_tokenizer_fertility",
    // round 7 additions: s17 banded k-NN graph (per-band bucket
    // self-joins unioned + distinct, vectors re-attach by id), e15
    // threshold segmentation, d19 exact span dedup (l-gram groupBy +
    // semi-join + per-doc island window), g06 warm-start PageRank (the
    // resumed superstep chain), q52 rollup (one-pass expand+agg), c19
    // leakage-safe split (cluster-label split key), t25 PMI
    // (TakeOrdered top-k, no global sort), j04 schema evolution
    "s17_knn_graph_banded", "e15_rfm_threshold_segments",
    "d19_exact_dup_spans", "g06_warm_pagerank", "q52_rollup",
    "c19_leakage_safe_split", "t25_pmi_collocations",
    "j04_schema_evolution",
    // d20 span removal (spans join + indexed array filter), m08 frame
    // dedup (checksum groupBy + join — payloads never shuffle), g07
    // degree profile (full-outer node merge), q53 set ops
    // (INTERSECT/EXCEPT as aggregates/anti-joins)
    "d20_exact_span_removal", "m08_frame_dedup", "g07_degree_profile",
    "q53_set_ops",
    // c20 curriculum pack (LM chain + threshold tiles + per-stage
    // pack), x05 attribute pivot (map-key projection over the tall
    // scan — the reference's wide-table shape)
    "c20_curriculum_pack", "x05_attribute_pivot",
    // round 7 cont.: d21 containment join (prefix × full-token
    // equi-join, the asymmetric form), d22 superset removal (d21 +
    // pair-sized mutuality self-join), d23 canonical dedup (NFC
    // normalize inside the fingerprint groupBy), g08 k-core (the plan
    // covers the converged survivor relation — per-round peel joins
    // are checkpointed by design, gates in KCoreSpec), m09 perceptual
    // hash pairs (band self-join over checkpointed 32-bit hashes,
    // payloads never shuffle), q54 global index / c21 shuffle order
    // (intra-granule windows + broadcast granule-offset join — the
    // two-pass row numbering), t26 encoding profile (codegen'd strips
    // + one rollup)
    "d21_containment_join", "d22_superset_removal", "d23_canonical_dedup",
    "g08_kcore", "m09_phash_neardup", "q54_global_index",
    "c21_shuffle_order", "t26_encoding_quality",
    // p05 containment pipeline (stages after the dedup checkpoint:
    // containment drop anti-join, quality gate, split + pack)
    "p05_containment_pipeline",
    // round 8: the join/window queries the r7 verdict flagged as
    // absent despite the preamble's coverage claim — d24 incremental
    // containment (three probe equi-joins against the frozen-order
    // persisted index, now with the length lower-bound in each), m10
    // silence segmentation (codegen'd projections + island windows),
    // x03 hierarchy join, q15 broadcast decode join, q43 SCD2
    // point-in-time join, d12 two-pass fuzzy blocking, e10–e13
    // event-stream twins, q06/q07/q22/q25–q27 relational joins and
    // windows
    "d24_incremental_containment", "m10_silence_segments",
    "x03_hierarchy_join", "q15_decode_join", "q43_scd2_join",
    "d12_fuzzy_join", "e10_click_attribution", "e11_markov_transitions",
    "e12_top_paths", "e13_timed_funnel",
    "q06_topk_per_group", "q07_running_total", "q22_lag_lead",
    "q25_correlated_subquery", "q26_range_frame", "q27_window_nav",
    // round 8/9: g09 SCC (post-fixpoint decomposition — per-round
    // label joins are checkpointed by design), g10 LPA over the k-NN
    // graph (vote joins + per-node argmax windows), d25 hashed-gram
    // spans (gram groupBy + island windows), m11/m12 WAV round-trips
    // (codec mapPartitions + energy join), d26 blocked containment
    // (the d21 chain over block-qualified tokens), x06 FK cascade SCC
    // (hierarchy edge join into the decomposition)
    "g09_scc", "g10_knn_communities", "d25_exact_dup_spans_hashed",
    "m11_wav_roundtrip", "m12_wav16_stereo_roundtrip",
    "d26_blocked_containment", "x06_fk_cascade_scc",
    // g11 personalized PageRank (seed-flagged superstep joins), m13
    // scene segmentation (per-media lag + running-sum windows)
    "g11_personalized_pagerank", "m13_scene_segments",
    // round 9: g12 HyperBall (edges⋈registers equi-join + (id, bucket)
    // max-merge per round — constant sketch state per node), d27 CDC
    // chunk dedup (one generated pass per doc, then chunk-hash groupBy
    // + per-source stats join)
    "g12_hyperball_nf", "d27_cdc_chunks",
    // c22 hard negatives (broadcast anchors over the corpus scan +
    // per-anchor top-k window), c23 segment LM filter (chunk explode →
    // LM joins → per-source ntile → ordered rebuild), m14 decimation
    // (codec round-trip + codegen'd decimate + dual-rate energy join)
    "c22_hard_negatives", "c23_segment_lm_filter", "m14_resample_decimate",
    // s18 multiprobe (exploded probe ring -> bucket equi-join), g13
    // effective radius (register-round RDD scans -> final-ball join),
    // d28 incremental CDC (two index aggs -> algebraic merge -> stats
    // join), m15 peak normalize (codec + normalize + dual profile join)
    "s18_multiprobe_topk", "g13_effective_radius",
    "d28_incremental_cdc", "m15_peak_normalize",
    // p06 segment-curated pipeline (plan covers the post-rebuild
    // stages: canon groupBy + keep join + pack window; the rebuild is
    // the eager checkpoint boundary, the p01 discipline)
    "p06_segment_curated",
    // t27 vocab growth (first-doc groupBy join + the two-pass cumsum's
    // granule windows and broadcast offset joins)
    "t27_vocab_growth",
    // d29 winnowing (one generated pass → fingerprint explode →
    // 32-bit-hash share join), d30/d31 suffix array (the ONE head
    // exchange + per-round window sorts; d31 adds the rank-adjacency
    // lead window, per-doc pair fold, and the text-once LCP join),
    // t28 blocklist scan (reference-object automaton inside codegen →
    // posexplode → per-source rollup)
    "d29_winnow_fingerprints", "d30_suffix_ranks", "d31_longest_repeat",
    "t28_blocklist_scan",
    // d32 generalized suffix array (r10 rebuild: offset cumsum window
    // → stable-rank() tie-pruned levels (only still-tied rows refine;
    // class-partitioned windows) → candidate-only broadcast binary
    // search → overlap-only witness assembly; no adjacency window,
    // no group-sized rows)
    "d32_cross_doc_repeats",
    // d34 span removal (d31's chain + both-sides span explode →
    // per-doc island merge windows → complement fold), p07 funnel
    // (winnow candidate agg → broadcast-semi source gate → the d32
    // chain on the flagged subset)
    "d34_repeat_span_removal", "p07_substring_funnel",
    // d33 incremental winnow index (two per-batch index aggs →
    // algebraic share-merge → d29's share join, the settle face), t29
    // Good-Turing (count-of-counts double groupBy + smoothed-rate
    // join), t30 Zipf octaves (rank window over the term table →
    // octave rollup)
    "d33_incremental_winnow", "t29_good_turing", "t30_zipf_octaves",
    // round 10: g14 bipartite projection (distinct + node-keyed
    // self-equi-join, hub-capped — no cartesian), g15 RA link
    // prediction (center-keyed wedge join + pair anti-join), s19
    // exact MIPS (band-pruned two-scan union, broadcast queries),
    // t31 TextRank (per-doc adjacency window → vocab-sized PageRank
    // supersteps), t32 readability (scan-only column math), m16
    // strided tiles (coordinate explode + bounded substring fold),
    // e16 streaks (distinct user-days → per-user island window)
    "g14_bipartite_projection", "g15_link_prediction", "s19_mips_topk",
    "t31_textrank_keywords", "t32_readability", "m16_image_tiles",
    "e16_activity_streaks",
    // round 11: d35 cross-document span removal (per-doc gram pass →
    // (source, gram) distinct-doc count → start semi-join → per-doc
    // island merge + complement fold; no window or array bounded by
    // a source)
    "d35_cross_span_removal",
    // round 12: d36 incremental cross-span removal (the d35 cut faces
    // driven by the merged (source, gram, n_docs) index — the probe
    // side is a sum-merged equi-join, never a recount of history)
    "d36_incremental_cross_span",
    // round 12: d37 wide cross-span removal (minLen=40 — d35's one
    // literal gram carrier at a wider window)
    "d37_wide_cross_span")

  def main(args: Array[String]): Unit = {
    require(args.length <= 2, "usage: Plans [outFile] [query,...]")
    val out = args.headOption.getOrElse("PLANS.md")
    val names = args.lift(1).fold(headline)(
      Cli.subset("Plans query list", _, SparkEntry.queries.keys.toSeq.sorted))
    val spark = GraftSession.builder(cpus = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb ++= "# Physical plans (generated by `graft.Plans`, sf0.001)\n\n"
    sb ++= "Evidence for the plan-quality gates asserted in PlanSpec:\n"
    sb ++= "filters reach the parquet scan (`PushedFilters`), scans are\n"
    sb ++= "pruned (`ReadSchema`), dimensions broadcast, LSH/as-of joins\n"
    sb ++= "never fall back to cartesian products.\n\n"
    sb ++= "Curation policy: entries cover every operator FAMILY's\n"
    sb ++= "load-bearing plan shape (each novel join strategy, window\n"
    sb ++= "cascade, index probe and composed pipeline appears at least\n"
    sb ++= "once), plus every query a round verdict has called out — NOT\n"
    sb ++= "every oracle query: same-shaped siblings (e.g. the simple\n"
    sb ++= "windowed relationals beyond the q06/q07/q22/q25–q27 set below)\n"
    sb ++= "and trivially-planned queries (single scan + agg) are omitted,\n"
    sb ++= "and queries whose iterative core is eagerly RDD-materialized\n"
    sb ++= "by design (s12 MMR, q30/q32 layout, the CC fixpoint inside\n"
    sb ++= "d06/d17 — their shape gates live in the named specs) show the\n"
    sb ++= "post-checkpoint stages. CI enforces the load-bearing shapes in\n"
    sb ++= "PlanSpec and sibling specs; this file is the human-readable\n"
    sb ++= "evidence, regenerated per round.\n"
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb ++= s"\n## $name\n\n```\n$plan```\n"
    }
    Option(Paths.get(out).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
