"""Plan-quality audit: assert the physical plans we designed for.

For each audited query, checks structural properties of the formatted plan —
filters pushed into the parquet scan, pruned read schemas, broadcast joins on
dimension sides, no cartesian products anywhere, whole-stage codegen present.
Run: python tools/explain_audit.py  (exit 1 on any violation).

This is the 100 TB review loop in executable form: a regression that
reintroduces a full scan or a shuffle-side dimension join fails here long
before it fails on a cluster.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.01"

# query → (must_contain regexes, must_not_contain regexes)
RULES: dict[str, tuple[list[str], list[str]]] = {
    "s1_filtered_scan": (
        [r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate",
         r"codegen id"],
        [r"CartesianProduct"]),
    "a2_agg_rollup": (
        [r"partial_sum|partial_count", r"HashAggregate"],
        [r"CartesianProduct", r"SortMergeJoin"]),
    "j13_incremental_ranges": (
        [r"BroadcastHashJoin"], [r"CartesianProduct"]),
    "pipeline_revenue_topk": (
        [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        [r"CartesianProduct"]),
    # Q5 shape: dims broadcast, but the orders-lineitem FACT join must be
    # a sort-merge — a fact-side broadcast (64m threshold at ~sf1) costs a
    # single-threaded 1.5M-row build (measured 10.7s vs 2.4s) and is
    # impossible at 100 TB
    "pipeline_region_revenue": (
        [r"BroadcastHashJoin", r"SortMergeJoin"], [r"CartesianProduct"]),
    # anti-join with the r11 recency watermark: the date filter must push
    # into the orders parquet scan (the probe side shrinks ~8x BEFORE the
    # join — at 100 TB this is the difference between anti-joining
    # against a year and against the table)
    "j5_anti_join_new_codes": (
        [r"LeftAnti",
         r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate"],
        [r"CartesianProduct"]),
    # E2 full-rule-table merge: ONE full-outer SMJ on the composite vendor
    # key + a codegen kernel projection; any Python eval node would mean
    # the reference's row-wise merge_data interpreter crept back in
    "pipeline_e2_merge_daily": (
        # (full-outer SMJ is not a whole-stage-codegen operator, so no
        # codegen-id requirement; the expression-only contract is the
        # absence of every Python eval node)
        [r"SortMergeJoin", r"FullOuter", r"Project"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython",
         r"FlatMapGroupsInPandas"]),
    # §2.8 rename ladder: a single codegen projection over the scan —
    # no join, no shuffle
    "f5_rename_ladder": (
        [r"codegen id"],
        [r"Exchange", r"Join", r"CartesianProduct"]),
    # code-mapping maintenance: broadcast fill-join + native anti-join for
    # the insert set — never a sort-merge on the tiny mapping side
    # (r2 bench flagged 3.3x growth here; plan verified clean, the growth
    # was single-shot noise — medians in bench.py now pin it)
    "j6_code_mapping_maintenance": (
        [r"BroadcastHashJoin", r"LeftAnti"],
        [r"CartesianProduct", r"SortMergeJoin"]),
    "w7_continuous_contract": (
        [r"FlatMapGroupsInPandas", r"BroadcastHashJoin"],
        [r"CartesianProduct"]),
    # sessionize: Spark's native session-window aggregate (MergingSessions)
    # partitioned on the key — never a per-user sort in one partition
    "a13_sessionize": (
        [r"MergingSessions", r"hashpartitioning\(user_id"],
        [r"CartesianProduct", r"SinglePartition", r"Join"]),
    # describe(): one two-phase aggregate on the group key (percentiles
    # force ObjectHashAggregate); no sort, no join, no global collapse
    "a9_describe": (
        [r"ObjectHashAggregate", r"hashpartitioning\(event_type"],
        [r"CartesianProduct", r"SinglePartition", r"Join"]),
    # two-level agg: partial aggregation below each exchange, grouping
    # keys partitioned — no single-partition rollup
    "a7_two_level_agg": (
        [r"partial", r"HashAggregate", r"hashpartitioning\(event_type"],
        [r"CartesianProduct", r"SinglePartition", r"Join"]),
    "a3_tick_to_bars": (
        # struct min/max plan as HashAggregate or SortAggregate; the
        # contract is map-side partial aggregation, whatever the operator
        [r"partial", r"Aggregate"], [r"CartesianProduct"]),
    "o3_topk_worst": (
        [r"TakeOrderedAndProject"], [r"Sort .*global=true"]),
    "dedup_ngram_jaccard": (
        [r"HashAggregate"], [r"CartesianProduct"]),
    # capped pair emitter: the per-doc ranking window must hashpartition on
    # the exploded doc axis (__d) — never a global sort; the only
    # nested-loop allowed is the sanctioned broadcast 1-row ledger cross
    # join, so cartesian and sort-merge stay banned
    "dedup_pairs_capped": (
        [r"hashpartitioning\(__d"],
        [r"CartesianProduct", r"SortMergeJoin"]),
    # deletion-vector read: the DV exclusion must plan as a LeftAnti join,
    # never a cartesian. Broadcast is NOT required: the fixture deletes
    # o_orderstatus='F' (~49% of orders), so the DV side is roughly half
    # the table and legitimately exceeds the broadcast threshold at larger
    # scale factors — a SortMergeJoin LeftAnti is the correct plan there
    # (the 'DV side is small' broadcast assumption only holds for
    # low-selectivity deletes).
    "s6e_deletion_vectors": (
        [r"LeftAnti"],
        [r"CartesianProduct"]),
    # DV update read path: same contract as the delete (same ~49%
    # selectivity predicate) — LeftAnti against the sidecar, never
    # cartesian; join strategy is AQE's call
    "s6f_dv_update": (
        [r"LeftAnti"],
        [r"CartesianProduct"]),
    # DV coalescing: the post-coalesce snapshot reads through ONE sidecar —
    # still a single LeftAnti over the union scan, never a cartesian
    "s6g_dv_coalesce": (
        [r"LeftAnti"],
        [r"CartesianProduct"]),
    # interval join: equi-key broadcast with the range as join condition —
    # never a nested-loop over the fact side
    "j8_interval_join": (
        [r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
    # scalable global rank: the data-row window must hashpartition on the
    # bucket — never sort all rows in one partition (w1's known bottleneck)
    "w1b_rank_scalable": (
        [r"hashpartitioning\(__bkt"],
        [r"CartesianProduct"]),
    # connected-components fixture: the chain-edge generator must use the
    # two-phase rank (per-bucket windows), never a data-row global window
    # — the only SinglePartition allowed is the n_buckets-row offset
    # rollup (input [__bkt, __n]); an o_orderkey-carrying SinglePartition
    # is the r8 Window.orderBy shape this guard exists to ban. Audited on
    # the generator DF itself (EXTRA_PLANS) because the components
    # fixpoint checkpoints — the final plan is an RDD scan that would
    # make a registry-level guard vacuously green.
    "dedup_components__edges": (
        [r"hashpartitioning\(__bkt"],
        [r"CartesianProduct",
         r"\[[^\]\n]*o_orderkey[^\]\n]*\]\nArguments: SinglePartition"]),
    # deterministic sampling: a pure map-only projection — NO shuffle at
    # all, and the scan must prune to the id column alone
    "smp_hash_split": (
        [r"ReadSchema: struct<doc_id"],
        [r"Exchange", r"CartesianProduct"]),
    # PII redaction: regexp chains are a pure map — no shuffle, no UDF node
    "txt_pii_redact": (
        [r"Project"],
        [r"Exchange", r"BatchEvalPython", r"ArrowEvalPython"]),
    # repetition stats: two (doc, gram) count aggs with map-side partials,
    # rolled up per doc — never a cartesian/join explosion
    "txt_repetition": (
        [r"partial", r"HashAggregate", r"hashpartitioning\(doc_id"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
    # bucketed interval join (both sides large): the (key, bucket) equi-join
    # must plan as a shuffled or broadcast HASH join — the range predicate is
    # a post-filter, never the join strategy, so no nested-loop anywhere
    "j8b_interval_join_bucketed": (
        [r"HashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
    # as-of via union+ffill: exactly ONE hash partitioning on the key and no
    # join operator at all — the 100 TB formulation
    "j9_asof_last_report": (
        [r"Window", r"hashpartitioning\(user_id"],
        [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
    "a4_rebar": (
        [r"partial", r"Aggregate"], [r"CartesianProduct", r"SortMergeJoin"]),
    # decontamination: benchmark shingle set must BROADCAST — corpus
    # postings never shuffle for the probe
    "txt_contamination": (
        [r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"CartesianProduct"]),
    "txt_corpus_stats": (
        [r"partial", r"HashAggregate"], [r"CartesianProduct"]),
    # reference-exact quarterization: ONE key-hash exchange feeding an
    # Arrow-batched partition scan — never per-group FlatMapGroupsInPandas
    # (per-group overhead measured 15x slower at sf0.1)
    "w8b_quarterize_exact": (
        [r"MapInPandas", r"hashpartitioning\(code"],
        [r"CartesianProduct", r"FlatMapGroupsInPandas"]),
    # video frame extraction: 1->N fan-out happens INSIDE one mapInPandas
    # pass — a pure map stage, no shuffle, no join back to a sampling plan
    "mm_video_frames": (
        [r"MapInPandas"],
        [r"Exchange", r"CartesianProduct", r"FlatMapGroupsInPandas"]),
    # frequent-ngram coverage: positional grams stay in codegen windows;
    # the doc-frequency count aggregates with map-side partials; the
    # frequent-set join back is an equi-join (AQE upgrades it to broadcast
    # at runtime once the thresholded set proves small) — never a cartesian
    "dedup_frequent_ngrams": (
        [r"partial", r"HashAggregate", r"Window"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
    # incremental index probe: per-permutation min aggregates for the NEW
    # side only, then an equi-join on (band, bucket) against the index —
    # a pure hash/merge join, never any nested-loop shape
    "dedup_minhash_incremental_md5": (
        [r"partial_min", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
    # span removal: span count + doc reassembly are hash aggregations with
    # map-side partials; the hot-span set joins back broadcast; the whole
    # plan stays JVM-side (no Python nodes) and never goes quadratic
    "dedup_span_removal": (
        [r"partial", r"HashAggregate", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"BatchEvalPython", r"ArrowEvalPython", r"SinglePartition"]),
    # epoch shuffle: rank windows hashpartition on (epoch, bucket) — the
    # global order NEVER plans as a single-partition sort; bucket offsets
    # broadcast back
    "smp_epoch_shuffle": (
        [r"hashpartitioning\(epoch.*__b", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"SinglePartition"]),
    # sector-median report composite: SCD2 windows hash-partition on the
    # member key, the interval membership is a broadcast equi-join with the
    # range as post-filter, the median a two-phase ObjectHashAggregate —
    # and at no point a single-partition exchange or nested loop
    "pipeline_sector_median": (
        [r"Window", r"ObjectHashAggregate", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"SinglePartition",
         r"BroadcastNestedLoopJoin"]),
    # worst-window report composite: the rn=1 as-of lookups must plan as
    # WindowGroupLimit (top-1 pushed below the window sort) and the final
    # ranking as TakeOrderedAndProject — row_number never runs over the
    # full corpus in one partition
    "pipeline_worst_window_return": (
        [r"WindowGroupLimit", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"SinglePartition"]),
    # banded Hamming pairs: the quadratic candidate join runs over DISTINCT
    # signatures (exact-duplicate contraction — a groupBy(sig) aggregate
    # with map-side partials feeds the band explode), never over raw docs;
    # the 30x-replica decade sweep measured the uncontracted form at
    # alpha 2.5 (742s) vs 0.94 (34s) contracted. Member expansion is
    # output-proportional equi-joins — no nested-loop shape anywhere
    # (with max_bucket=None the member count is pruned, so the aggregate
    # plans as a distinct-on-sig — the hashpartitioning(sig) exchange IS
    # the contraction signature)
    "dedup_simhash_hamming_md5": (
        [r"hashpartitioning\(sig", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"]),
    # cluster-survivor composite: banding, est-verify and star contraction
    # must run over DISTINCT signatures (minhash_clusters) — pinned by the
    # contraction aggregate's hashpartitioning(sig) exchange and the
    # rep-keyed member-expansion joins; the naive document-level pair join
    # measured alpha 1.39 at the 100x replica with constant output. Whole
    # composite is Column-only: no Python eval nodes.
    "pipeline_cluster_survivors": (
        [r"hashpartitioning\(sig", r"hashpartitioning\(rep"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"BatchEvalPython", r"ArrowEvalPython",
         r"FlatMapGroupsInPandas", r"MapInPandas"]),
    # sketch profile: HLL + GK sketches are mergeable aggregation state —
    # the whole profile must be ONE two-phase aggregation (partial → final,
    # a single exchange on the group key), no sort, no join, no distinct
    # expansion
    "a14_sketch_profile": (
        [r"partial_approx_count_distinct", r"ObjectHashAggregate"],
        [r"CartesianProduct", r"Sort ", r"Join", r"Expand"]),
    # cross-corpus decontamination: candidates come from the (band,
    # bucket) equi-join (broadcast at sf0.01 under AQE, shuffle at scale —
    # either is a hash join, never a cartesian), signatures stay out of
    # the pair distinct, everything JVM-side
    "dedup_cross_contamination_md5": (
        [r"Join", r"HashAggregate"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython",
         r"FlatMapGroupsInPandas", r"MapInPandas"]),
    # SemDeDup (blas path): assignment must be the map-only Arrow pass
    # against the broadcast seed matrix (MapInPandas; NO n×K
    # BroadcastNestedLoopJoin fan-out — the K=250 sweep showed it
    # dominating), per-cluster pair kernel is FlatMapGroupsInPandas but
    # executes eagerly inside the star-contraction fixpoint, so the
    # final plan only sees the checkpointed edge RDD — that kernel is
    # pinned by test_semdedup_blas_equals_expr. Row-at-a-time Python and
    # cartesian products stay banned in the visible plan
    # (the assignment MapInPandas and pair FlatMapGroupsInPandas both
    # execute eagerly behind the member localCheckpoint, so the final
    # plan only shows the checkpointed RDD — the kernels are pinned by
    # test_semdedup_blas_equals_expr / the oracle row instead)
    "dedup_semdedup": (
        [r"Scan ExistingRDD", r"Window"],
        [r"CartesianProduct", r"BatchEvalPython",
         r"BroadcastNestedLoopJoin"]),
    # DSIR: the 1024-row weight table reaches scoring through a broadcast
    # hash join (never a shuffle of the feature stream against it);
    # selection is TakeOrderedAndProject, never a global sort; the only
    # crossJoin is the broadcast 1-row totals frame — a
    # BroadcastNestedLoopJoin over n_buckets rows, bounded by construction,
    # so only CartesianProduct (the unbounded shuffle form) is banned
    "smp_dsir_md5": (
        [r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"Sort .*global=true", r"BatchEvalPython",
         r"ArrowEvalPython", r"FlatMapGroupsInPandas", r"MapInPandas"]),
    # bigram-LM scoring: gram-key hash joins (AQE broadcasts the sf0.01
    # model) + map-side partial aggregation; all JVM-side
    "txt_lm_perplexity": (
        [r"Join", r"partial", r"HashAggregate"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython",
         r"FlatMapGroupsInPandas", r"MapInPandas"]),
    # CCNet split: the global CE rank comes from the range-bucketed
    # decomposition (parallel windows hashpartitioned on the bucket);
    # single-partition steps are permitted only over bucket counts /
    # the 1-row total (pinned tighter by the pytest plan test)
    "txt_ccnet_split": (
        [r"hashpartitioning\(__bkt", r"Window"],
        [r"CartesianProduct", r"BatchEvalPython", r"ArrowEvalPython",
         r"FlatMapGroupsInPandas", r"MapInPandas"]),
    # chunking: scan → project → generate, the 1→N fan-out inside the
    # scan task — literally no exchange anywhere in the plan
    "txt_chunk_stride": (
        [r"Generate", r"codegen id"],
        [r"Exchange", r"Join", r"CartesianProduct", r"BatchEvalPython",
         r"ArrowEvalPython", r"MapInPandas"]),
    # BPE application: scan → normalize projection → ONE Arrow-batched
    # MapInPandas (broadcast ranks) → fingerprint projection. Map-only:
    # zero exchanges, zero joins — the corpus streams through once
    "txt_bpe_segment": (
        [r"MapInPandas", r"codegen id"],
        [r"Exchange", r"Join", r"CartesianProduct", r"BatchEvalPython",
         r"ArrowEvalPython", r"FlatMapGroupsInPandas"]),
    # token budget: data rows flow through parallel per-bucket windows
    # (hashpartitioning on the range bucket) and the per-bucket offsets
    # come back via a broadcast join. The ONLY SinglePartition exchange
    # permitted is the per-bucket-count offsets rollup (~n_buckets rows,
    # input [__bkt, __n]) — a doc-row SinglePartition (input carrying
    # doc_id) is the w1-style global funnel and is banned outright
    "smp_token_budget": (
        [r"hashpartitioning\(__bkt", r"BroadcastHashJoin"],
        [r"CartesianProduct",
         r"\[[^\]\n]*doc_id[^\]\n]*\]\nArguments: SinglePartition"]),
    # per-source quota: the salted two-stage top-N — stage 1 WindowGroup-
    # Limits on (source, salt), stage 2 re-ranks the shortlist on the bare
    # source key. Both exchanges are key-hash; a hot domain never funnels
    # every row through one task and NOTHING plans SinglePartition
    "smp_source_quota": (
        [r"WindowGroupLimit", r"hashpartitioning\(source#\d+, __salt",
         r"hashpartitioning\(source#\d+, \d+\)"],
        [r"CartesianProduct", r"SinglePartition"]),
    # boundary-bucket packing: scan → token-count projection → ONE
    # repartition on the data bucket → in-partition sort → ONE Arrow
    # MapInPandas greedy fold. No global sort, no per-group Python
    "smp_pack_sequences": (
        [r"MapInPandas", r"hashpartitioning\(bucket"],
        [r"CartesianProduct", r"SinglePartition",
         r"FlatMapGroupsInPandas", r"Sort .*global=true"]),
    # banded minhash pairs: candidate generation must run over DISTINCT
    # signatures (the hashpartitioning(sig) contraction aggregate — the
    # r7 fix that keeps dup-saturated corpora from paying duplicate-group²
    # candidate work; same shape as the simhash contraction) with member
    # expansion as equi-joins — never any nested-loop/cartesian shape
    "dedup_minhash_md5": (
        [r"hashpartitioning\(sig", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"BatchEvalPython", r"ArrowEvalPython"]),
    # IVF full-probe identity: per-query top-k must push into the shuffle
    # as a WindowGroupLimit (partial+final — only ~k rows per query cross
    # the exchange, not |Q|x|corpus|), probe fan-out joins stay hash
    # joins (the 40-query probe table broadcasts), and no row-at-a-time
    # Python anywhere (the only Python is the Arrow assign pass inside
    # the persisted index build)
    "ann_ivf_full_probe": (
        [r"WindowGroupLimit", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"BatchEvalPython"]),
    # LSH full-ball identity: probe fan-out is an explode on the QUERY
    # side only (the corpus is hashed and shuffled once on the bucket);
    # top-k pushes into the shuffle as WindowGroupLimit; the bucket join
    # must stay an equi-join, and there is no Python anywhere (signatures
    # are pure-Column hyperplane folds)
    "ann_lsh_full_probe": (
        [r"WindowGroupLimit", r"Generate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"BatchEvalPython", r"ArrowEvalPython",
         r"FlatMapGroupsInPandas", r"MapInPandas"]),
    # PQ re-rank: same top-k pushdown contract on the exact rescore; the
    # shortlist->corpus vector fetch must stay an equi-join (never a
    # nested loop), queries broadcast
    "ann_pq_rerank": (
        [r"WindowGroupLimit", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"BatchEvalPython"]),
    # sketch error-band verdict: everything is map-side-combinable
    # aggregation (partial_ pushdown) + joins of 5-row per-group
    # aggregates — no Python nodes, no cartesian shapes; the GK/HLL
    # sketches live inside objHashAggregate buffers, never a sort of the
    # row universe
    "a14b_sketch_errorband": (
        [r"partial_", r"HashAggregate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"BatchEvalPython", r"ArrowEvalPython",
         r"FlatMapGroupsInPandas"]),
}


def _extra_plans():
    """Audited DataFrames that are NOT registry queries — sub-plans whose
    contract would be hidden from the final plan (checkpoint/persist
    truncation). name → callable(spark, sf_dir) -> DataFrame."""
    from data_integration_celery_spark.queries import _chain_edges
    return {"dedup_components__edges": _chain_edges}


def main() -> None:
    from data_integration_celery_spark.queries import QUERIES
    from data_integration_celery_spark.session import get_spark

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    extra = _extra_plans()
    failures = []
    for name, (must, must_not) in RULES.items():
        if name in extra:
            df = extra[name](spark, SF)
        else:
            df = QUERIES[name].spark(spark, SF)
        plan = df._jdf.queryExecution().explainString(jvm_mode.fromString("formatted"))
        for pat in must:
            if not re.search(pat, plan):
                failures.append(f"{name}: missing /{pat}/")
        for pat in must_not:
            if re.search(pat, plan):
                failures.append(f"{name}: forbidden /{pat}/ present")
        status = "ok " if not any(f.startswith(name) for f in failures) else "BAD"
        print(f"{status} {name}")
    if failures:
        print("\nPLAN AUDIT FAILURES:")
        for f in failures:
            print(" -", f)
        sys.exit(1)
    print(f"\nall {len(RULES)} audited plans hold their contracts")


if __name__ == "__main__":
    main()
