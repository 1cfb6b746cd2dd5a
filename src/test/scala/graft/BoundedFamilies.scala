package graft

/** Documented bounded-frame families shared by the plan audits
  * ([[BroadcastAuditSpec]], [[CartesianAuditSpec]]): family ->
  * (why bounded, query -> the exact column sets it may materialize on
  * a broadcast/nested-loop build side). One source of truth so the two
  * audits cannot drift on what "bounded" means.
  */
object BoundedFamilies {
    val families: Seq[(String, String, Map[String, Set[Set[String]]])] = Seq(
    ("one-row-ride",
      "exactly ONE row by construction: a corpus-level aggregate (count/total/threshold) or the probe's own vector riding along a cross join",
      Map(
        "q31_cosine_topk" -> Set(Set("qv")),
        "q32_ann_bucket" -> Set(Set("qv")),
        "q171_multiprobe" -> Set(Set("qv")),
        "q44_ann_ivf" -> Set(Set("qv")),
        "q50_ann_nprobe" -> Set(Set("qv")),
        "q80_filtered_ann" -> Set(Set("qv")),
        "q149_matryoshka" -> Set(Set("qv")),
        "q157_mrl_rerank" -> Set(Set("qv")),
        "q144_recall" -> Set(Set("qv")),
        "q65_tfidf" -> Set(Set("n")),
        "q175_heavy_hitters" -> Set(Set("n")),
        "q183_class_keywords" -> Set(Set("t")),
        "q191_index_stats" -> Set(Set("t")),
        "q97_lm_score" -> Set(Set("n", "v")),
        "q133_bm25" -> Set(Set("avgdl", "n")),
        "q172_rrf_fusion" -> Set(Set("avgdl", "n"), Set("qv")),
        "q141_shard_budget" -> Set(Set("total")),
        "q177_psi_drift" -> Set(Set("tb", "tc")),
        "q163_temperature_mix" -> Set(Set("total")),
        "q166_curation_v3" -> Set(Set("total")),
        "q161_sq8_topk" -> Set(Set("q_scale", "q_codes")),
        "q165_sq8_recall" -> Set(Set("q_scale", "q_codes"), Set("qv")),
        "q148_lm_buckets" -> Set(Set("t1", "t2")),
        "q197_dsir" -> Set(Set("nr", "nt")),
        "q71_mixture" -> Set(Set("nstar")),
        "q85_curation_v2" -> Set(Set("nstar")))),
    ("probe-keys",
      "nprobe-/band-bounded key sets derived from the probe side (the cells or buckets ONE query hashes into), never the corpus's keys",
      Map(
        "q32_ann_bucket" -> Set(Set("bucket")),
        "q171_multiprobe" -> Set(Set("bucket")),
        "q44_ann_ivf" -> Set(Set("cell")),
        "q50_ann_nprobe" -> Set(Set("cell")),
        "q144_recall" -> Set(Set("cell")),
        // the multi-phrase (w -> slot index) map: bounded by the
        // expanded slots (<= maxTerms alternatives per slot), never
        // the corpus's terms
        "q261_wildcard_phrase" -> Set(Set("i", "w")))),
    ("dimension-table",
      "a genuine dimension/reference table or slice (region, nation, ontology terms, id maps, tag vocab, robots rules) — cardinality fixed by the domain, not the corpus",
      Map(
        "q2_multijoin" -> Set(Set("r_name", "r_regionkey"),
          Set("n_name", "n_nationkey", "n_regionkey")),
        "q14_pipe_fold" -> Set(Set("r_name", "r_regionkey")),
        "q58_idmap" -> Set(Set("n_name", "n_nationkey", "n_regionkey")),
        "q21_fanout" -> Set(Set("status", "tag")),
        "q114_gaf_validity" -> Set(Set("cv_name", "go_id"),
          Set("feature_uniquename", "gene_id")),
        "q136_robots" -> Set(Set("_host", "prefix")),
        // the per-language (floor epochs, fractional hex cutoff) table
        "q202_epoch_mix" -> Set(Set("lang", "_full", "_cut")),
        // the 3-key probe dimension of the dynamic-file-pruned join
        "q203_dim_join" -> Set(Set("key", "label")))),
    ("model-state",
      "trained model / vocabulary frames whose size is the MODEL's (classifier weights, LM bigram table, IDF table, per-stratum rates, cell representatives), trained once and reused",
      Map(
        "q95_classifier_score" -> Set(Set("tok", "weight")),
        "q168_calibration" -> Set(Set("tok", "weight")),
        "q97_lm_score" -> Set(Set("bg", "logp")),
        "q133_bm25" -> Set(Set("df", "w")),
        // terms-sized df tables of the store-served BM25 (exact df is
        // derivable from the read postings — a term's postings live
        // entirely inside its bucket)
        "q222_text_store" -> Set(Set("df", "w")),
        "q223_text_lifecycle" -> Set(Set("df", "w")),
        "q224_text_compact" -> Set(Set("df", "w")),
        "q226_text_selective" -> Set(Set("df", "w")),
        "q228_term_filter" -> Set(Set("df", "w")),
        "q229_hybrid_store" -> Set(Set("df", "w")),
        "q230_text_batch" -> Set(Set("df", "w")),
        // delete-lifecycle rows serve through the same topK (their
        // tombstone anti-joins are deliberately UN-hinted — AQE
        // broadcasts the deleted-ids-sized set or falls back)
        "q231_text_delete" -> Set(Set("df", "w")),
        "q232_text_purge" -> Set(Set("df", "w")),
        "q234_text_update" -> Set(Set("df", "w")),
        // the batched hybrid's lexical leg and the PRF expansion's two
        // serves reach the same terms-sized df broadcast
        "q238_hybrid_batch" -> Set(Set("df", "w")),
        "q239_prf_expand" -> Set(Set("df", "w")),
        // the retrieval-eval pipeline serves through q239's expansion
        "q246_retrieval_eval" -> Set(Set("df", "w")),
        // the batched PRF's two topKBatch serves
        "q248_prf_batch" -> Set(Set("df", "w")),
        // the LM ranker's terms-sized collection-frequency table
        // (exact ctf from the read postings, like BM25's df)
        "q250_lm_rank" -> Set(Set("ctf", "w")),
        // the unified positional store serves BM25 (df) AND LM (ctf)
        // from one index — both tables stay terms-sized
        "q251_unified_store" -> Set(Set("df", "w"), Set("ctf", "w")),
        // the batched LM serve's shared collection-frequency table
        "q253_lm_batch" -> Set(Set("ctf", "w")),
        // the three-arm hybrid's BM25 and LM legs from the one store
        "q254_tri_hybrid" -> Set(Set("df", "w"), Set("ctf", "w")),
        // the expansion serves (wildcard/fuzzy/regexp) delegate to the
        // same topK/topKBatch, reaching its terms-sized df table
        "q255_wildcard_rank" -> Set(Set("df", "w")),
        "q256_fuzzy_rank" -> Set(Set("df", "w")),
        "q257_wildcard_batch" -> Set(Set("df", "w")),
        "q258_regexp_rank" -> Set(Set("df", "w")),
        "q259_fuzzy_batch" -> Set(Set("df", "w")),
        "q260_regexp_batch" -> Set(Set("df", "w")),
        // BM25F's any-field document-frequency table — terms-sized,
        // exact from the fields' probed postings
        "q263_bm25f" -> Set(Set("df", "w")),
        "q264_bm25f_batch" -> Set(Set("df", "w")),
        // the block-max pruned serves inline the SIDECAR-derived df /
        // ctf (exact on a tombstone-free store, still terms-sized)
        "q266_pruned_rank" -> Set(Set("df", "w")),
        "q267_pruned_multi" -> Set(Set("df", "w")),
        "q268_pruned_lm" -> Set(Set("ctf", "w")),
        "q269_pruned_batch" -> Set(Set("df", "w")),
        "q276_pruned_lm_batch" -> Set(Set("ctf", "w")),
        // positional field stores serve the same BM25F df table
        "q271_bm25f_positional" -> Set(Set("df", "w")),
        // suffix expansion delegates to topK's terms-sized df table
        "q272_suffix_rank" -> Set(Set("df", "w")),
        // per-facet top-k ranks with topK's df table
        "q274_facet_topdocs" -> Set(Set("df", "w")),
        // the scatter-gather's GLOBAL df union — terms-sized, the
        // only cross-shard exchange (idf-consistency contract)
        "q275_sharded_rank" -> Set(Set("df", "w")),
        // sharding composed with pruning: the same global-df table,
        // summed from the shards' sidecars
        "q277_sharded_pruned" -> Set(Set("df", "w")),
        // pruned BM25F: the exact ANY-FIELD df collected from the
        // cheap (doc_id, w) pass — terms-sized; the batched form also
        // broadcasts the union-terms frame into the sidecar/probe
        // reads (query-terms-sized by construction)
        "q278_pruned_bm25f" -> Set(Set("df", "w")),
        "q285_pruned_bm25f_batch" -> Set(Set("df", "w"), Set("w")),
        // the LM scatter's global ctf union (zero data files when
        // pruned — summed from the shards' sidecars)
        "q279_sharded_lm" -> Set(Set("ctf", "w")),
        // the batched scatter: global df
        "q280_sharded_batch" -> Set(Set("df", "w")),
        // pruning through tombstones: sidecar df minus the tombstoned
        // postings' point-lookup counts — still terms-sized
        "q281_tombstone_prune" -> Set(Set("df", "w")),
        // expansion through the pruned front door: topKPruned's
        // sidecar-derived df for the expanded terms
        "q282_expansion_pruned" -> Set(Set("df", "w")),
        // the sharded tri-hybrid's text arms: global df + global ctf
        "q284_sharded_hybrid" -> Set(Set("df", "w"), Set("ctf", "w")),
        // fields x shards: the disjoint-sum any-field df table
        "q286_bm25f_sharded" -> Set(Set("df", "w")),
        "q172_rrf_fusion" -> Set(Set("df", "w")),
        // the range-facet bucket list: a handful of driver literals
        "q273_facet_range" -> Set(Set("lo", "hi")),
        "q71_mixture" -> Set(Set("lang", "rate")),
        "q85_curation_v2" -> Set(Set("lang", "rate")),
        "q96_semantic_dedup" -> Set(Set("cell", "rep_id", "rv")),
        "q162_oov_rate" -> Set(Set("tok", "in_vocab")),
        // the 256-bucket hashed-unigram log-ratio table (fixed feature space)
        "q197_dsir" -> Set(Set("b", "lw")),
        "q163_temperature_mix" -> Set(Set("lang", "weight", "alloc")),
        "q166_curation_v3" -> Set(Set("tok", "in_vocab"),
          Set("lang", "weight", "alloc")))),
    ("seed-set",
      "small-by-premise hand-curated/eval frames: labeled seeds, eval query sets, benchmark shingles — the operator's contract says this side is the sample, the corpus streams (J9/IdStash discipline)",
      Map(
        "q150_knn_classify" -> Set(Set("cand_id", "cv"), Set("label", "vec_id")),
        // the benchmark/eval suite broadcasts; the corpus streams
        "q205_semantic_decon" -> Set(Set("cand_id", "cv")),
        "q73_knn_join" -> Set(Set("query_id", "qv")),
        "q182_hard_negatives" -> Set(Set("query_id", "qv")),
        "q192_bitext_margin" -> Set(Set("query_id", "qv")),
        "q52_decontaminate" -> Set(Set("shingle")))),
    // NOT visible to this audit (and deliberately so): the batched
    // term-expansion serves (q257/q259/q260) force-broadcast their
    // caller-held query frames (prefixes/terms/patterns — seed-set
    // bounded by the batched-API contract) against the vocab-sized
    // dictionary, but that join runs UPSTREAM of topKBatch's
    // localCheckpoint, so the final plan the audit walks starts after
    // it. The boundedness argument is the same as q73's query frame.
    ("k-bounded",
      "frames capped by an explicit LIMIT in the same plan (negative-sample pool, top-N anchors) — the cap is the boundedness proof",
      Map(
        "q84_neg_sample" -> Set(Set("neg_id")),
        "q186_train_triples" -> Set(Set("neg_id")),
        "q90_range_join" -> Set(Set("anchor_key", "anchor_price", "hi", "lo")),
        "q157_mrl_rerank" -> Set(Set("vec_id")),
        // Misra-Gries candidate set: sketchK-capped by construction
        "q175_heavy_hitters" -> Set(Set("tok")))))
    // NOT documented (and deliberately un-hinted): groupQuota's keep
    // set (q159/q166) is groups-proportional — at web-scale host counts
    // it is not broadcastable, so the operator lets AQE pick the join
    // strategy instead of forcing a hint this audit would have to bless.

  /** Every documented (query, columnSet) pair, flattened. */
  val documented: Set[(String, Set[String])] = families.flatMap {
    case (_, _, qs) => qs.toSeq.flatMap { case (q, sets) => sets.map(q -> _) }
  }.toSet

  /** Bounded build sides that surface as PLANNER-chosen nested-loop
    * joins (no forced hint, so the broadcast audit never sees them;
    * only [[CartesianAuditSpec]] checks these — with its own staleness
    * guard):
    * - q154 `n_found` / q165 `n_hit`: one-row COUNT aggregates riding
    *   a cross join into the recall ratio.
    * - q172 `id2, s2`: the second leg of rrfFuse's better-than rank
    *   count — top-N-bounded by the fusion's own LIMIT before the
    *   non-equi self-join. */
  val nestedLoopOnly: Set[(String, Set[String])] = Set(
    "q154_lsh_recall" -> Set("n_found"),
    "q165_sq8_recall" -> Set("n_hit"),
    "q172_rrf_fusion" -> Set("id2", "s2"),
    // same k-bounded better-than rank join, store-served legs
    "q229_hybrid_store" -> Set("id2", "s2"),
    // q246's single-query eval: the literal query_id constant-folds
    // the metric joins' equi-keys away, so the one-row-per-query
    // aggregate frames (idcg, first-hit rank, the mrr row) surface as
    // nested-loop build sides — each is <= #queries rows (here 1) by
    // the groupBy(query_id) above it
    "q246_retrieval_eval" -> Set("query_id", "idcg"),
    "q246_retrieval_eval" -> Set("first_rank"),
    "q246_retrieval_eval" -> Set("rr"))
}
