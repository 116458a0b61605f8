package graft

import org.apache.spark.sql.functions._

/** Plan-quality regression guard: the properties the 100 TB design rests
  * on (scan pushdown, broadcast dims, equi-keyed interval joins, top-k
  * group limits) asserted on the actual physical plans, so a refactor
  * that silently degrades a plan fails CI, not the cluster.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("entry (driver smoke) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("s1_scan_prune pushes range filters into the parquet scan") {
    val p = plan("s1_scan_prune")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("GreaterThanOrEqual(l_discount"))
    // column pruning: tax is never read
    assert(!p.contains("l_tax"))
  }

  test("j9_asof_join is one merged-stream window: no join operator, one hash shuffle") {
    val p = plan("j9_asof_join")
    assert(!p.contains("Join"), "the as-of must not plan a join operator")
    // exactly one hash exchange (the key window); the only other
    // exchange is the display-sort rangepartitioning
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1,
      "as-of regressed to more than one hash shuffle (pre-dedup window?)")
  }

  test("j5_broadcast_star plans broadcast hash joins for all dims") {
    val p = plan("j5_broadcast_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("interval joins never degenerate into cartesian products") {
    for (q <- Seq("j1_containment", "j3_max_overlap", "u4_anti_overlap")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop")
    }
  }

  test("rematch_remap joins on equi keys and broadcasts the mapping") {
    val p = plan("rematch_remap")
    assert(!p.contains("CartesianProduct"), "remap plans a cartesian product")
    assert(p.contains("BroadcastHashJoin"), "mapping relabel should broadcast")
  }

  test("dedup_embedding_ivf consumes the staged pair relation, no recomputed chain") {
    val p = plan("dedup_embedding_ivf")
    assert(!p.contains("CartesianProduct"))
    // the verified pair set is STAGED to session parquet once
    // (QuerySupport.stagedRelation) — the consumer plan is a pure scan
    // of it, never a re-run of the candidate chain (whose internal
    // 16-row seed crossJoin was the one intended nested loop)
    assert(p.contains("Scan parquet"), "should scan the staged pair relation")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the staged scan leaves no nested loop in the consumer plan")
  }

  test("sim_cosine_topk keeps the intended broadcast + window group limit") {
    val p = plan("sim_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin")) // query side broadcast, intended
    assert(p.contains("WindowGroupLimit")) // rank<=k pushed below the sort
  }

  test("w1_sessionize shuffles exactly once before aggregation") {
    val p = plan("w1_sessionize")
    // one hashpartitioning exchange on user_id for the windows; the
    // aggregation reuses it (partial agg keys are a superset)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size >= 1)
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup candidates join on equi keys (shingle/band/bucket), not theta") {
    for (q <- Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
        "dedup_embedding_lsh")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop")
    }
  }

  test("c_decontaminate broadcasts the probe shingles, corpus side never shuffles for the join") {
    val p = plan("c_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "probe side should broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus must stream past a broadcast, not sort-merge")
  }

  test("round-3 additions keep their intended join strategies") {
    // trigram langid: the per-doc score join must broadcast (the
    // classifier itself is shuffle-free — asserted separately below);
    // the corpus side streams by without a sort-merge
    val lp = plan("t_langid_ngram")
    assert(lp.contains("BroadcastHashJoin"), "lang rollup join should broadcast")
    assert(!lp.contains("CartesianProduct"))
    // stratified sample: the per-stratum quota table must broadcast
    val sp = plan("c_stratified_sample")
    assert(sp.contains("BroadcastHashJoin"), "quota table should broadcast")
    assert(!sp.contains("SortMergeJoin"), "sample join must not sort-merge")
    // incremental dedup: candidates come from band equi joins only
    val ip = plan("dedup_incremental")
    assert(!ip.contains("CartesianProduct"))
    assert(!ip.contains("BroadcastNestedLoopJoin"))
  }

  test("late-round-3 additions keep their intended plan shapes") {
    // zero-shuffle langid: the classifier alone is a pure codegen'd
    // projection + filter — NO exchange of any kind
    val cp = graft.ops.TextOps
      .langIdNgram(Tables.documents(spark, dir), "doc_id", "text")
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!cp.contains("Exchange"), "langIdNgram classifier must not shuffle")
    // substring dedup: seeds pair up through the gram equi join only
    for (q <- Seq("dedup_substring", "dedup_substring_stats")) {
      val sp = plan(q)
      assert(!sp.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!sp.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop")
    }
    // KMV sketch: partial + final typed aggregation (map-side combine —
    // the bounded-state sketch must merge, not ship raw hashes)
    val kp = plan("sketch_kmv_distinct")
    assert("ObjectHashAggregate".r.findAllIn(kp).size >= 2,
      "KMV should aggregate partial then final")
  }

  test("bloom/CMS sketches aggregate partial-then-final; one-row result broadcasts") {
    // The bounded-state sketches must run as true partial-merge
    // aggregates (map-side combine — shipping raw positions instead of
    // merged bitsets/grids would be the 100 TB anti-shape), and the
    // single-row sketch result must reach the probe side as a broadcast,
    // never a shuffle.
    for (q <- Seq("j_bloom_prune", "sketch_cms_topk")) {
      val p = plan(q)
      assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
        s"$q should aggregate the sketch partial then final")
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$q should broadcast the one-row sketch to the probe side")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("L45-L48 additions keep their intended plan shapes") {
    // log-quantile sketch: the histogram must aggregate partial then
    // final (bounded-state map-side combine, never raw values shuffled)
    val lq = plan("sketch_log_quantiles")
    assert("ObjectHashAggregate".r.findAllIn(lq).size >= 2,
      "log-hist sketch should aggregate partial then final")
    // SQ-ADC: the one-row stats table and the tiny query side both
    // broadcast; the code scan never shuffles for a join; top-k is a
    // partial-merge aggregate
    val sq = plan("sim_sq_adc_topk")
    assert(sq.contains("BroadcastNestedLoopJoin"),
      "SQ stats/queries should broadcast to the code scan")
    assert(!sq.contains("SortMergeJoin"), "SQ scan must not sort-merge")
    assert("ObjectHashAggregate".r.findAllIn(sq).size >= 2,
      "SQ top-k should aggregate partial then final")
    // packed SQ-ADC: same shape as the unpacked flavor — broadcast
    // one-row stats + tiny LUT side, no sort-merge, partial+final top-k
    val pq = plan("sim_sq_packed_topk")
    assert(pq.contains("BroadcastNestedLoopJoin"),
      "packed SQ stats/LUT should broadcast to the code scan")
    assert(!pq.contains("SortMergeJoin"), "packed SQ scan must not sort-merge")
    assert("ObjectHashAggregate".r.findAllIn(pq).size >= 2,
      "packed SQ top-k should aggregate partial then final")
    // domain cap: blocklist drops via broadcast anti join; per-host cap
    // is the bounded-state TopKAgg, partial then final
    val dc = plan("c_domain_cap")
    assert(dc.contains("BroadcastHashJoin"), "blocklist should broadcast")
    assert("ObjectHashAggregate".r.findAllIn(dc).size >= 2,
      "domain cap should aggregate partial then final")
    // decayed counts: the 2-value bounds row broadcasts; the weighted
    // count is a plain partial+final hash aggregate
    val dy = plan("c_decayed_counts")
    assert(dy.contains("BroadcastNestedLoopJoin"),
      "bucket bounds should broadcast")
    assert("HashAggregate".r.findAllIn(dy).size >= 2,
      "decayed sum should aggregate partial then final")
  }

  test("L57-L62 additions keep their intended plan shapes") {
    // z-order: the 1-row min/max bounds table broadcasts; buckets and
    // interleave are projections — no sort-merge join anywhere
    val zo = plan("c_zorder_layout")
    assert(zo.contains("BroadcastNestedLoopJoin"),
      "z-order bounds row should broadcast")
    assert(!zo.contains("SortMergeJoin"), "z-order must not sort-merge")
    // chunking is array-local: explode + slice, NO shuffle of any kind
    // before the display sort
    val ch = plan("t_chunk_windows")
    assert(ch.contains("Generate"), "chunking should explode chunk ids")
    assert(!ch.contains("hashpartitioning("),
      "chunking must not shuffle — it is per-document array work")
    // space-saving heavy hitters: bounded-state partial then final agg
    val hh = plan("hh_space_saving")
    assert("ObjectHashAggregate".r.findAllIn(hh).size >= 2,
      "space-saving should aggregate partial then final")
    // leakage-safe split: equi joins only (label join + components);
    // the hash-split is a pure projection
    val ls = plan("c_split_leakage_safe")
    assert(!ls.contains("BroadcastNestedLoopJoin") && !ls.contains("CartesianProduct"),
      "leakage-safe split must stay equi-keyed")
    // PQ-ADC: codebook broadcasts to the encode scan (equi on sub_id),
    // queries broadcast to the scoring scan, top-k partial then final
    val pq = plan("sim_pq_adc_topk")
    assert(pq.contains("BroadcastHashJoin"), "PQ codebook should broadcast")
    assert(pq.contains("BroadcastNestedLoopJoin"),
      "PQ query side should broadcast to the scoring scan")
    assert(!pq.contains("SortMergeJoin"), "PQ must not sort-merge")
    assert("ObjectHashAggregate".r.findAllIn(pq).size >= 2,
      "PQ top-k should aggregate partial then final")
    // IVF-PQ: coarse quantizer and codebook broadcast; candidates and
    // reconstructions join on equi keys only; no unbounded cartesian
    // (the global sweep) and no sort-merge join anywhere
    val ip = plan("sim_ivfpq_topk")
    assert(ip.contains("BroadcastNestedLoopJoin"),
      "IVF-PQ quantizer/query tables should broadcast")
    assert("ObjectHashAggregate".r.findAllIn(ip).size >= 2,
      "IVF-PQ top-k should aggregate partial then final")
  }

  test("L64-L68 additions keep their intended plan shapes") {
    // LM familiarity: the count-table joins are equi-keyed (bigram /
    // leading word); only the one-row vocab and totals rows broadcast
    // as nested loops; nothing sort-merges
    val lm = plan("c_lm_familiarity")
    assert(!lm.contains("CartesianProduct"),
      "lm familiarity must not plan an unbounded cartesian")
    assert(!lm.contains("SortMergeJoin"), "count joins should hash, not sort-merge")
    // BM25: probes broadcast into the token scan; the per-term top-k is
    // the bounded-state aggregate (partial then final), NOT a window —
    // no rangepartitioning before the display sort's
    val bm = plan("r_bm25_topk")
    assert(bm.contains("BroadcastHashJoin"), "probe terms should broadcast")
    assert("ObjectHashAggregate".r.findAllIn(bm).size >= 2,
      "BM25 top-k should aggregate partial then final")
    assert(!bm.contains("Window"), "BM25 top-k must not use a window sort")
    // boilerplate strip: the line-df join is equi on the line; the
    // final rollup is one hash aggregate per doc
    val bp = plan("c_boilerplate_strip")
    assert(!bp.contains("CartesianProduct") && !bp.contains("BroadcastNestedLoopJoin"),
      "line-df join must stay equi-keyed")
    // hard negatives: same shape contract as sim_cosine_topk — the
    // query side broadcasts, the corpus never shuffles for the join
    val hn = plan("sim_hard_negatives")
    assert(hn.contains("BroadcastNestedLoopJoin"),
      "query side should broadcast to the corpus scan")
    assert(!hn.contains("SortMergeJoin"))
  }

  test("L77-L79 additions keep their intended plan shapes") {
    // sigma outliers: the |groups|-row stats table broadcasts back onto
    // the event stream — the flag is map-side, the stats agg is the
    // only wide stage
    val so = plan("e_sigma_outliers")
    assert(so.contains("BroadcastHashJoin"), "stats table should broadcast")
    assert(!so.contains("SortMergeJoin"), "the probe must not sort-merge")
    // SNM: the neighborhood window is PARTITIONED by the block — a
    // degenerate single-partition global-sort window would serialize
    // the whole corpus through one task
    val snm = plan("dedup_snm")
    assert(snm.contains("hashpartitioning(snm_blk"),
      "SNM window must partition by the block key, not sort globally")
    // next-fit packing: one hash shuffle on the shard, then the
    // partition-local external sort the fold runs over
    val pk = plan("c_pack_nextfit")
    assert(pk.contains("hashpartitioning(shard"),
      "packing must route whole shards, not range-partition")
  }

  test("L88-L91 additions keep their intended plan shapes") {
    // attribution: the touch-conversion pairing carries the user equi
    // key (never a pure theta join); the rank window partitions on the
    // conversion id, not a global sort
    val at = plan("e_attribution")
    assert(!at.contains("CartesianProduct") && !at.contains("BroadcastNestedLoopJoin"),
      "attribution pairing must keep the user equi key")
    assert(at.contains("hashpartitioning(convId"),
      "attribution rank window must partition by conversion id")
    // cusum: the 1-row-per-group median broadcasts back; both cumulative
    // windows share one (event_type) partitioning
    val cu = plan("e_cusum_drift")
    assert(cu.contains("BroadcastHashJoin"), "median table should broadcast")
    assert(!cu.contains("CartesianProduct"))
    // epoch interleave: the |sources|-row size table broadcasts (tiny
    // nested-loop fan-out is the design); no sort-merge join anywhere
    val ei = plan("c_epoch_interleave")
    assert(ei.contains("BroadcastNestedLoopJoin"),
      "size table should broadcast to the fan-out")
    assert(!ei.contains("SortMergeJoin"))
    // oov: the vocab probe is a broadcast hash join into the token scan
    val ov = plan("t_oov_rate")
    assert(ov.contains("BroadcastHashJoin"), "vocab should broadcast")
    assert(!ov.contains("SortMergeJoin"), "token scan must not sort-merge")
  }

  test("L93-L94 additions keep their intended plan shapes") {
    // chao1: two hash aggregates (fp counts, then the histogram), no
    // join anywhere — the estimate is pure aggregation
    val ch = plan("c_chao1_estimate")
    assert(!ch.contains("Join"), "chao1 must be join-free")
    assert("HashAggregate".r.findAllIn(ch).size >= 2,
      "chao1 should aggregate partial then final")
    // disorder profile: both windows and the rollup share the user-key
    // partitioning; the p99 join is equi on the key
    val dp = plan("e_disorder_profile")
    assert(dp.contains("hashpartitioning(user_id"),
      "disorder windows must partition by the key")
    assert(!dp.contains("CartesianProduct") && !dp.contains("BroadcastNestedLoopJoin"),
      "p99 join must stay equi-keyed")
  }

  test("L95-L100 additions keep their intended plan shapes") {
    // ppjoin: candidates join equi on the prefix key; never a cartesian
    val pp = plan("dedup_ppjoin")
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"),
      "ppjoin candidates must stay equi-keyed on the prefix token")
    // rank fusion: every window partitions by the calibration group —
    // no single-partition global sort anywhere
    val rf = plan("c_rank_fusion")
    assert(rf.contains("hashpartitioning(lang"),
      "fusion windows must partition by the group")
    assert(!rf.contains("SinglePartition"),
      "fusion must not plan a single-partition window")
    // canonical-best / source-flow: CC composition stays equi-joined
    for (q <- Seq("dedup_canonical_best", "dedup_source_flow")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("L101-L103 additions keep their intended plan shapes") {
    // threshold curve: one aggregate over the commons core — no window,
    // no join after the commons joins, never a cartesian
    val tc = plan("dedup_threshold_curve")
    assert(!tc.contains("CartesianProduct") && !tc.contains("Window"),
      "threshold curve must be one aggregate over the commons core")
    // cell profile: the 16-seed table broadcasts (tiny nested loop is
    // the design); the corpus never shuffles for the assignment
    val cp = plan("sim_ivf_cell_profile")
    assert(cp.contains("BroadcastNestedLoopJoin"),
      "seed table should broadcast to the corpus scan")
    assert(!cp.contains("SortMergeJoin"))
    // sketch gate: the per-source threshold/summary tables broadcast
    // back; no cartesian anywhere
    val qs = plan("c_quality_gate_sketch")
    assert(qs.contains("BroadcastHashJoin"),
      "threshold table should broadcast into the map-side gate")
    assert(!qs.contains("CartesianProduct"))
  }

  test("round-7 pins: L121-L143 wave keeps its load-bearing plan shapes") {
    // MMR: the relevance pool is bounded by the WindowGroupLimit (rank
    // <= poolK below the sort) and the greedy loop is a distributed
    // MapGroups over one query's pool — never a driver loop or a
    // corpus cartesian (the only nested loop is the intended
    // query-side broadcast from cosineTopK)
    val mp = plan("sim_mmr_topk")
    assert(!mp.contains("CartesianProduct"), "MMR plans a cartesian product")
    assert(mp.contains("WindowGroupLimit"), "MMR pool limit must push below the sort")
    assert(mp.contains("MapGroups"), "MMR greedy must run distributed in flatMapGroups")

    // proto-prune: the per-cell centroid table (<= nCells rows) joins
    // BACK to the corpus as an explicit broadcast — a regression to a
    // corpus-side shuffle for that join-back is the 100 TB killer here
    val pp = plan("sim_proto_prune")
    assert(!pp.contains("CartesianProduct"), "proto-prune plans a cartesian product")
    assert(pp.contains("BroadcastHashJoin"), "centroid join-back must broadcast")

    // TextTiling scoring is per-row HOFs over each doc's own tokens:
    // the whole segmentation is JOIN-FREE and shuffles exactly once
    // (the per-doc bounds window); the display sort adds only a range
    // exchange. The scan-adjacent Tables.spread fan-out (fires only
    // when the scan carries fewer splits than the session parallelism
    // — identity at corpus scale) is an intentional REPARTITION_BY
    // exchange and does not count against the window-shuffle pin.
    // When spread fires, each of the three union branches carries its
    // own scan-adjacent REPARTITION_BY_NUM exchange on doc_id and the
    // union's co-partitioned output satisfies the window directly —
    // ZERO ENSURE_REQUIREMENTS exchanges; when it does not (corpus
    // scale), the window plans its single ENSURE_REQUIREMENTS shuffle.
    // Either way the per-doc data crosses at most one hash exchange on
    // its way to the window.
    val tp = plan("t_texttile_segments")
    assert(!tp.contains("Join"), "TextTiling must stay join-free")
    val tpEnsure =
      "hashpartitioning\\([^\n]*ENSURE_REQUIREMENTS".r.findAllIn(tp).size
    val tpSpread =
      "hashpartitioning\\([^\n]*REPARTITION_BY".r.findAllIn(tp).size
    assert(tpEnsure <= 1,
      s"TextTiling's per-doc window must shuffle at most once:\n$tp")
    assert(tpEnsure + tpSpread >= 1 && tpSpread <= 3,
      s"TextTiling shuffle shape regressed (spread/window mix):\n$tp")

    // span surgery: candidates via the gram equi self-join, removal via
    // the per-doc collected interval list — no range/theta join anywhere
    val sp = plan("dedup_span_surgery")
    assert(!sp.contains("CartesianProduct"), "span surgery plans a cartesian product")
    assert(!sp.contains("BroadcastNestedLoopJoin"), "span surgery plans a theta join")

    // Feistel epoch shuffle: the permutation is a pure codegen'd
    // expression chain — ZERO hash exchanges at any corpus size (the
    // only exchange is the display sort's range partitioning)
    val fp = plan("c_epoch_shuffle")
    assert(!fp.contains("Join"), "epoch shuffle must be join-free")
    assert(!fp.contains("Exchange hashpartitioning"),
      s"epoch shuffle must not hash-shuffle:\n$fp")

    // cluster-balanced sampling rides the cached session cells (the
    // memo is the point: no recompute of the seed assignment)
    val cp = plan("sim_cluster_sample")
    assert(!cp.contains("CartesianProduct"))
    assert(cp.contains("Scan parquet"),
      "cluster sample must reuse the staged session cells, not recompute them")

    // L144-L148 wave: triangles pair only through node-keyed equi
    // joins (the degree orientation is what makes that safe at hub
    // scale); collocations' only nested loop is the intended one-row
    // total-count broadcast; hits/ndcg never go cartesian
    val tg = plan("g_triangles")
    assert(!tg.contains("CartesianProduct") && !tg.contains("BroadcastNestedLoopJoin"),
      "triangle counting must join on node keys only")
    val cl = plan("t_collocations")
    assert(!cl.contains("CartesianProduct"), "collocations plans a cartesian")
    assert(cl.contains("BroadcastNestedLoopJoin"),
      "the one-row token-total should broadcast to the bigram scan")
    for (q <- Seq("g_hits", "r_ndcg", "t_normalize_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }

    // L149-L151: the iban gate is a pure per-row fold (join-free, no
    // hash shuffle — only the display sort's range exchange); quantile
    // normalization's interval probe is the intended broadcast of the
    // domain-bounded cumulative histogram; k-core joins node keys only
    val ib = plan("c_pii_iban")
    assert(!ib.contains("Join"), "iban gate must be join-free")
    assert(!ib.contains("Exchange hashpartitioning"),
      "iban gate must not hash-shuffle")
    val qn = plan("c_quantile_norm")
    assert(!qn.contains("CartesianProduct"), "quantile norm plans a cartesian")
    assert(qn.contains("BroadcastNestedLoopJoin"),
      "the cumulative histogram interval probe should broadcast")
    val kc = plan("g_kcore")
    assert(!kc.contains("CartesianProduct") && !kc.contains("BroadcastNestedLoopJoin"),
      "k-core must join on node keys only")

    // L153/L154: truss joins node keys only; the chi-square gate's one
    // nested loop is the intended one-row corpus-profile broadcast and
    // the per-doc counts never hash-shuffle
    val tr = plan("g_truss")
    assert(!tr.contains("CartesianProduct") && !tr.contains("BroadcastNestedLoopJoin"),
      "truss peel must join on node keys only")
    val cq = plan("t_char_chisq")
    assert(!cq.contains("CartesianProduct"), "chi-square plans a cartesian")
    assert(cq.contains("BroadcastNestedLoopJoin"),
      "the one-row corpus profile should broadcast")
    assert(!cq.contains("Exchange hashpartitioning"),
      "per-doc chi-square must not hash-shuffle")

    // L157: the 943-row composition lattice broadcasts to the word
    // table; everything else is equi joins — never a cartesian
    val ul = plan("t_unigram_lm")
    assert(!ul.contains("CartesianProduct"), "unigram LM plans a cartesian")
    assert(ul.contains("BroadcastHashJoin"), "slot lattice should broadcast")

    // L158/L159: DER's interval-intersection join is per-file equi
    // keyed and the 24-perm lattice broadcasts; ROUGE is per-row only
    val dp = plan("m_der")
    assert(!dp.contains("CartesianProduct"), "DER plans a cartesian")
    assert(dp.contains("BroadcastHashJoin"), "perm lattice should broadcast")
    val rp = plan("t_rouge")
    assert(!rp.contains("Join"), "ROUGE must be join-free")

    // L160/L161: BLEU is per-row only; cpWER's perm lattice broadcasts
    // and the speaker pairing is equi-keyed — never a cartesian
    val bp = plan("t_bleu")
    assert(!bp.contains("Join"), "BLEU must be join-free")
    val cw = plan("m_cpwer")
    assert(!cw.contains("CartesianProduct"), "cpWER plans a cartesian")
    assert(cw.contains("BroadcastHashJoin"), "cpWER perm lattice should broadcast")
  }

  test("round-8 pins: the eval/curation wave keeps its load-bearing plan shapes") {
    // DER + confusion diagnostic: per-file equi interval join, the
    // permutation lattice broadcasts, never a cartesian
    for (q <- Seq("m_der", "m_der_confusion")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(p.contains("BroadcastHashJoin"), s"$q should broadcast the lattice")
    }
    // turn stats: one file-keyed window shuffle, no join operator
    val ts = plan("m_turns")
    assert(!ts.contains("Join"), "turn stats must be join-free")
    // skyline: equi join back to points only — the pairwise-compare
    // anti-shape (a theta self-join) must never appear
    val sk = plan("c_skyline")
    assert(!sk.contains("CartesianProduct") && !sk.contains("BroadcastNestedLoopJoin"),
      "skyline must join on the x key only")
    // quotas / vocab overlap / kappa: everything past the first agg is
    // key-cardinality-sized; the only nested loops are the intended
    // bounded broadcast frames
    for (q <- Seq("c_quota_lr", "c_source_vocab_overlap", "e_kappa")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
    }
    // per-row eval metrics and the dow profile never join
    for (q <- Seq("e_dow_profile", "c_len_moments", "c_seqlen_hist")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
    }
  }

  test("round-9 pins: image-codec queries and global top-k windows keep their shapes") {
    // t_collocations' global top-20 must plan as TakeOrderedAndProject
    // (per-partition heap + merge of 20-row heads), never a full sort
    // of the bigram pair table followed by a limit — the optimizer-conf
    // regression r8-VERDICT item 4 pins against
    val tc = plan("t_collocations")
    assert(tc.contains("TakeOrderedAndProject"),
      s"t_collocations' global top-k lost TakeOrderedAndProject")
    assert(!tc.contains("CartesianProduct"), "collocations plans a cartesian")
    // r_ndcg's ideal-ordering window is partitioned by the query key:
    // the exchange must be a hash partitioning on it, never a single
    // global sort partition
    val nd = plan("r_ndcg")
    assert("hashpartitioning\\(term".r.findAllIn(nd).nonEmpty,
      s"r_ndcg's ideal window must partition by the query (term) key:\n$nd")
    assert(!nd.contains("CartesianProduct"), "r_ndcg plans a cartesian")
    // image-codec roundtrips are pure mapPartitions kernels: no joins
    // at all in mm_image_roundtrip; mm_image_shots shuffles once on
    // the video id for the shot window, and its near-dup-free pipeline
    // has no join either side of the codec
    val ir = plan("mm_image_roundtrip")
    assert(!ir.contains("Join"), "image roundtrip must be join-free")
    val is = plan("mm_image_shots")
    assert(!is.contains("Join"), "image shots must be join-free")
    assert("hashpartitioning\\(doc_id".r.findAllIn(is).nonEmpty,
      "image shots must shuffle on the video id for the shot window")
    // mm_dhash_neardup now routes grids through the real codec
    // roundtrip; the dedup join shape must stay the (band, value)
    // bucketed equi self-join — never theta/cartesian
    val dh = plan("mm_dhash_neardup")
    assert(!dh.contains("CartesianProduct") && !dh.contains("BroadcastNestedLoopJoin"),
      "dhash near-dup must keep the bucketed equi join")
    // c_token_drift: top-k drifted tokens run as the bounded-state
    // TopKAgg (ObjectHashAggregate, <= k pairs per group per map
    // partition), never a per-group window sort of the vocabulary;
    // histogram merges are equi joins only
    val td = plan("c_token_drift")
    assert(td.contains("ObjectHashAggregate"),
      "token drift's top-k must run as the bounded-state aggregate")
    assert(!td.contains("CartesianProduct") && !td.contains("BroadcastNestedLoopJoin"),
      "token drift must keep equi joins only")
    // header-only probe and the per-row eval metrics: join-free
    // (m_ece one hash agg; t_readability pure projections; m_eer's
    // only joins are the 1-row broadcast total and sentinel union)
    for (q <- Seq("mm_image_probe", "m_ece", "t_readability")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must be join-free")
    }
    val ee = plan("m_eer")
    assert(!ee.contains("CartesianProduct"), "m_eer plans a cartesian")
    assert(ee.contains("BroadcastNestedLoopJoin"),
      "m_eer's 1-row totals frame should broadcast")
    // m_auc: same distinct-score-table shape as m_eer
    val au = plan("m_auc")
    assert(!au.contains("CartesianProduct"), "m_auc plans a cartesian")
    // g_bfs/g_sssp relaxations, span detection, patch stats, RAKE: equi
    // joins only, never theta/cartesian
    for (q <- Seq("g_bfs", "g_sssp", "m_span_detect", "mm_patch_stats",
        "t_rake")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
    }
    // round-10 additions: the script gate and metadata audit are pure
    // per-row work — join-free AND shuffle-free (ingest-width plans);
    // the S-curve is a 101-row constant fold, no exchange at all
    for (q <- Seq("t_script_mix", "mm_image_meta", "dedup_scurve")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must be join-free")
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not hash-shuffle")
    }
    // t_token_gini: one vocab-bounded rank window per source + one agg
    val gi = plan("t_token_gini")
    assert(!gi.contains("Join"), "token gini must be join-free")
    assert("hashpartitioning\\(grp".r.findAllIn(gi).nonEmpty,
      "token gini's rank window must partition by the source key")
  }

  test("round-10 pins: graph sketches, preference/audit queries keep their shapes") {
    // hyperball rounds: register gathers are equi joins + hash
    // max-aggs — never theta/cartesian
    val hb = plan("g_hyperball")
    assert(!hb.contains("CartesianProduct")
      && !hb.contains("BroadcastNestedLoopJoin"),
      "g_hyperball must stay equi-join only")
    // bradley-terry: trials reduce once to pair counts; each MM round
    // equi-joins the items-sized strength table
    val bt = plan("e_bradley_terry")
    assert(!bt.contains("CartesianProduct"), "e_bradley_terry cartesian")
    // vocab growth & skip audit: the tiny constant grid is the
    // *intended* broadcast theta join — broadcast NLJ, never cartesian
    for (q <- Seq("c_vocab_growth", "c_skip_audit")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$q grid join must broadcast")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
    }
    // gain plan: one typed map over decoded audio, join-free
    val gp = plan("mm_gain_plan")
    assert(!gp.contains("Join"), "mm_gain_plan must be join-free")
    // affix overlap: the gram equi join only (df cap applied before)
    val ao = plan("dedup_affix_overlap")
    assert(!ao.contains("CartesianProduct")
      && !ao.contains("BroadcastNestedLoopJoin"),
      "dedup_affix_overlap must stay a gram equi join")
  }

  test("round-10 wave-2 pins: agreement metrics and the audio scrub keep their shapes") {
    // audio metadata audit + streaming twin: per-row codec/chunk work
    // only — join-free plans end to end
    for (q <- Seq("mm_audio_meta")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must be join-free")
    }
    // mcnemar: one map-side-combined 2x2 count — join-free, no hash
    // shuffle (a single global agg)
    val mc = plan("e_mcnemar")
    assert(!mc.contains("Join"), "e_mcnemar must be join-free")
    assert(!mc.contains("Exchange hashpartitioning"),
      "e_mcnemar must not hash-shuffle")
    // kripp/ARI/modularity/avg-precision: keyed rollups + broadcast
    // 1-row folds — equi/broadcast joins only, never a cartesian
    for (q <- Seq("e_kripp_alpha", "sim_cluster_ari", "g_modularity",
        "r_avg_precision", "e_spearman")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
    }
    // modularity's per-endpoint label joins must stay EQUI hash joins
    // (broadcast at this scale — labels are node-sized; at corpus
    // scale AQE picks SMJ on the same keys) — never nested-loop
    val gm = plan("g_modularity")
    assert(gm.contains("BroadcastHashJoin") || gm.contains("SortMergeJoin"),
      "g_modularity label joins must be equi hash/merge joins")
  }

  test("round-10 wave-3+ pins: ingest gates and pair miners keep their shapes") {
    // per-row probe/plan/gate queries: join-free end to end
    for (q <- Seq("mm_pdf_probe", "mm_pdf_text", "mm_resample_plan",
        "t_ocr_artifacts", "t_code_detect", "t_dehyphenate", "t_mattr")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must be join-free")
    }
    // pair miners / keyed rollup queries: equi joins only, never a
    // cartesian or (non-1-row) nested loop
    for (q <- Seq("g_neighbor_jaccard", "g_assortativity",
        "g_reciprocity", "g_degree_profile", "sim_pq_distortion",
        "c_gate_attrition", "c_token_budget", "e_ks_test", "e_wilcoxon",
        "e_mcnemar", "e_mcc", "t_burstiness")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
    }
    // burstiness' top-k must be the distributed heap, not a global sort
    assert(plan("t_burstiness").contains("TakeOrderedAndProject"),
      "t_burstiness must TakeOrderedAndProject")
  }

  test("round-11 pins: crawl/subtitle/eval waves keep their shapes") {
    // per-row parse/probe/plan queries: join-free end to end
    for (q <- Seq("c_sitemap_parse", "t_anchor_text", "t_rel_canonical",
        "t_html_ratio", "mm_wet_convert", "mm_srt_parse", "mm_vtt_parse",
        "mm_id3_probe", "c_refetch_plan", "e_runs_test")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
    }
    // the frontier schedule's window must be HOST-partitioned, never a
    // global (empty-partition) sort — the shape that shards at 100 TB
    assert(plan("c_frontier_schedule").contains("windowspecdefinition(host"),
      "c_frontier_schedule must window-partition by host")
    // iterate/join queries: equi joins only
    for (q <- Seq("c_redirect_chains", "c_crawl_traps", "c_recrawl_rate",
        "e_fdr_bh", "e_friedman", "e_cochran_q", "e_page_trend",
        "r_err", "r_rbo", "m_cue_align", "g_crawl_pagerank",
        "t_homoglyph_spoof")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
    }
  }

  test("no registered query plans an UNBOUNDED cartesian product") {
    // The only cartesian allowed anywhere is the brute-force verify
    // baseline, and it must carry its documented bounded-slice filter so
    // it can never run over a full corpus.
    val allowedBounded = Map("dedup_embedding_cosine" -> "LessThan(vec_id,1500)")
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val p = plan(name)
      if (p.contains("CartesianProduct")) {
        val bound = allowedBounded.get(name)
        assert(bound.isDefined, s"$name plans an unlisted CartesianProduct")
        assert(p.contains(bound.get),
          s"$name's cartesian baseline lost its bounding pushed filter")
      }
      spark.catalog.clearCache()
    }
  }

  test("every query has an oracle, and no output shape breaks the driver comparator") {
    // the driver sorts rows via pandas over all columns then hashes:
    // array/map cells die in sort_values (unhashable ndarray), so no
    // final projection may emit them — serialize to strings instead
    // (the r3 lesson: r_index_head / sketch_hll_distinct). Streaming
    // queries are skipped here (building one RUNS its stream; their
    // projections are plain scalars and the oracle gate covers them).
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet,
      "queries and oracleSql must declare the same names")
    import org.apache.spark.sql.types.{ArrayType, MapType}
    for (name <- SparkEntry.queries.keys.toSeq.sorted
         if !name.startsWith("streaming_")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.schema.fields.foreach { f =>
        assert(!f.dataType.isInstanceOf[ArrayType]
            && !f.dataType.isInstanceOf[MapType],
          s"$name output column ${f.name}: ${f.dataType} — the driver's " +
            "pandas comparator cannot sort/hash it; array_join it")
      }
      spark.catalog.clearCache()
    }
  }

  test("audio fingerprint and IVF training keep bucketed/broadcast join shapes") {
    // fingerprint pairs must arise from the gram equi self-join only
    val fp = plan("mm_audio_fingerprint")
    assert(!fp.contains("CartesianProduct") && !fp.contains("BroadcastNestedLoopJoin"),
      "mm_audio_fingerprint must pair through the gram equi join")
    // ivfTrain: the <=16-row centroid table reaches the corpus scan as a
    // broadcast each iteration; never an unbounded cartesian
    val tp = plan("sim_ivf_train")
    assert(!tp.contains("CartesianProduct"), "sim_ivf_train plans a cartesian product")
    assert(tp.contains("BroadcastNestedLoopJoin") || tp.contains("BroadcastExchange"),
      "centroids should broadcast to the corpus scan")
  }

  test("round-6 additions keep their intended plan shapes") {
    // margin mining: candidates only via the cell equi join; the one
    // nested-loop is the bounded broadcast seed table (<= nCells rows)
    val mm = plan("sim_margin_mine")
    assert(!mm.contains("CartesianProduct"), "margin mining plans a cartesian")
    // shot detection: exactly ONE exchange for the per-video window;
    // the shot aggregation combines partial-then-final, and AQE may
    // re-shuffle the tiny (video, shot) rollup — but the frame-scale
    // data must shuffle once only
    val sk = plan("mm_shot_keyframes")
    assert(!sk.contains("CartesianProduct") && !sk.contains("SortMergeJoin"),
      "shot detection should be join-free")
    assert("hashpartitioning\\(doc_id#".r.findAllIn(sk).size == 1,
      s"frame rows must shuffle exactly once on the video id:\n$sk")
  }

  test("bucketed tables co-locate the equi join: zero Exchange on either side") {
    // The 100 TB storage-layout technique the inventory's join notes
    // point at (SURVEY J1/X4): persist both fact tables bucketed AND
    // sorted on the join key and the sort-merge join runs with NO
    // shuffle and NO per-task sort on either side — the join cost
    // collapses to a co-located streaming merge, which is the layout a
    // recurring 100 TB pipeline pays for once at ingest and amortizes
    // over every downstream run.
    val dir = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    try {
      Tables.orders(spark, dir).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
      Tables.lineitem(spark, dir).write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
      val j = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
        .groupBy(org.apache.spark.sql.functions.col("o_orderstatus"))
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("l_quantity")))
      // disable broadcast so the join shape under test is the merge path
      val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val p = j.queryExecution.executedPlan.toString
        assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
        assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
          !p.contains("Exchange hashpartitioning(o_orderkey"),
          s"bucketed join must not shuffle its keys:\n$p")
        assert(j.count() > 0)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("file-layout ranks are range-bucketed: no corpus-wide single-partition window") {
    // r12 VERDICT weak: the layout operators ranked the whole corpus
    // with row_number() OVER (ORDER BY key) — one task sorts 100 TB.
    // Now the rank is two-pass (deterministic range bucket __pid →
    // partitioned window + broadcast offsets); the ONLY unpartitioned
    // window left is the ≤64-row offsets cumulative, whose spec starts
    // with __pid. A regression back to the global sort would reappear
    // as a windowspecdefinition whose FIRST argument is the raw
    // ordering column (__z / user_id) with no partition columns.
    for (q <- Seq("c_zorder_layout", "c_hilbert_layout", "c_skip_audit")) {
      val p = plan(q)
      assert(p.contains("windowspecdefinition(__pid"),
        s"$q should rank within __pid range buckets")
      assert(!p.contains("windowspecdefinition(__z"),
        s"$q regressed to a global corpus sort on the curve key")
      assert(!p.contains("windowspecdefinition(user_id"),
        s"$q regressed to a global corpus sort on the linear key")
    }
  }

  test("m2_separate_transparent separates once per file: one MapPartitions node") {
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val p = SparkEntry.queries("m2_separate_transparent")(spark, dir)
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // vocal and nonvocal ride in one row per file: a plan that reads
    // the two stems through separate branches runs separation twice
    assert(p.collect { case m: MapPartitionsExec => m }.size == 1, p.toString)
  }

}
