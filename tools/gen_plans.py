"""Regenerate PLANS.md — the explain('formatted') evidence for the
headline queries. Run after any change to a headline query's shape:

    python tools/gen_plans.py
"""
# (Body mirrors the inline generation used in round 1; kept as a tool
# so the doc never goes stale silently.)
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from team_02_spark import get_spark  # noqa: E402
from team_02_spark.queries import QUERIES  # noqa: E402
from team_02_spark.plans.inspect import (  # noqa: E402
    explain_str, shuffle_count, has_broadcast_join, uses_python_udf,
)

HEADLINE = {
    "q_token_topk": "flagship: scan reads ONLY `text`; explode+agg map-side partial; TakeOrdered top-k",
    "q_groupby_agg": "TPC-H Q1: all predicates in PushedFilters; partial_sum below the single Exchange",
    "q_join_multi": "3-way: both dims BroadcastExchange; fact scanned once; one agg shuffle",
    "q_tpch_q5ish": "5-table dim chain: region filter prunes first, whole chain broadcasts",
    "q_window_rank": "one hashpartitioning exchange on the window key; rnk filter above",
    "q_topk": "TakeOrderedAndProject — per-partition heap, no global sort",
    "q_knn_topk": "probe set broadcast; corpus streams map-side; per-probe window keeps k",
    "q_dedup_near": "minhash on pre-hashed longs; band-bucket equi-join with hot-bucket triangle split (cold/hot union, +3 exchanges for the count pass + cell join — the r11 near-clone guard); anti-join finish",
    "q_join_asof": "union+window as-of: ONE shuffle on (user, time) instead of a range join",
    "q_dedup_embedding": "exact pre-collapse window; banded signature = ONE Arrow matmul UDF; bucket self-join carries vectors; cosine verify in-join (no reps re-join)",
    "q_knn_lsh": "corpus hashed map-side (single matmul UDF); multi-probe buckets broadcast; TWO-stage top-k (r9): partial rank per (probe, partition) bounds the final per-probe window however hot the direction",
    "q_bm25": "tokenize ONCE behind the explode barrier; one map-side-combined per-doc aggregate; n_docs/avgdl/df fold into ONE broadcast row; scoring is a map",
    "q_lag_features": "ONE user_id exchange serves lag, exact-µs gap, and rolling mean (single window spec)",
    "q_scd2": "both windows key on user_id — Spark reuses the one exchange; run-length collapse then lead()",
    "q_zscore_outliers": "|alphabet|-row stats side broadcasts back; fact table never shuffles",
    "q_vector_quantize": "zero shuffles: per-vector quantize + MSE is a pure HOF projection in codegen",
    "q_cooccurrence": "distinct to (user,hour,type) first — self-join candidates bounded by the type alphabet",
    "q_setsim_join": "prefix-filtered set-similarity join: rarest-token prefixes generate candidates, exact Jaccard verifies — lossless for t>=0.8",
    "q_multistep_funnel": "three chained window aggs on ONE user_id partitioning: the funnel state machine costs one shuffle",
    "q_tpch_q4ish": "EXISTS → broadcast LEFT SEMI with the correlated date predicate in the join; one agg shuffle",
    "q_tpch_q18ish": "HAVING-agg shrinks the fact FIRST; dims broadcast after; top-100 is TakeOrderedAndProject",
    "q_chunk_text": "overlapping token chunking is MAP-ONLY (0 shuffles): tokenize once, explode windows, free rider on the scan",
    "q_source_mix": "deterministic hash-gate mixing is MAP-ONLY (0 shuffles): keep-decision evaluated next to the reader",
    "q_ewma": "EWMA fold + rolling median ride ONE hashpartitioning(user_id) exchange; frame state bounded at 10 rows",
    "q_pagerank": "each rank round = edges ⋈ deg ⋈ prev → groupBy(dst); rank state stays distributed, zero driver collect",
    "q_rrf_hybrid": "two-lane fusion: BM25 and cosine lanes each end in TakeOrderedAndProject top-50; rank windows + full-outer fusion run on ≤50-row sets",
    "q_window_attribution": "NO-equi-key range join via time bins: interval side explodes to bins, point maps to ONE bin, hash join on bin + residual bound — never BroadcastNestedLoopJoin",
    "q_expectations": "per-table rules share one conditional-sum pass (stack unpivot); RI rule is a single broadcast left join — no table scanned twice",
    "q_pmi_bigrams": "ONE corpus pass: (token, next-token) pair explode → single pair-count shuffle; uni/bigram counts + totals fold the vocab-sized result",
    "q_lm_perplexity": "LM train+score in one job: count tables shuffle by token key; |V| is a 1-row broadcast; no corpus-sized sort anywhere",
    "q_temperature_mix": "per-source counts (tiny agg) broadcast back; the keep-gate is a map next to the reader",
    "q_retrieval_metrics": "probe batch broadcast; top-10 window per probe; every metric aggregate is probe-cardinality-sized",
    "q_shard_plan": "deterministic shard assignment is a map; the manifest is one map-side-combined 16-group aggregate",
    "q_pq_search": "codes-only corpus side (m small ints/row); per-query LUT broadcast; ADC scoring is a map + per-query top-k window",
    "q_decontaminate_bloom": "exact gram join: corpus 3-grams explode map-side and probe the benchmark's grams, broadcast by size stats (no hint); flagged ids leave through a left-anti join",
    "q_mmr_diverse": "corpus cost = broadcast top-N scoring per query; greedy MMR runs per-query in applyInPandas over <=N-row groups — no driver loop, no corpus re-scan",
    "q_join_salted": "fact+salt vs dim×salt equi-join: hot key spreads over salt shuffle partitions; output multiset identical to the plain join",
    "q_triangles": "degree-ordered orientation: wedge join fans out only at each edge's LOW end (out-degree bounded), closing-edge equi-join on the packed (v,w) long key (r15 — half-width unique-key build) — O(m^1.5) under hub skew",
    "q_split_leakage": "shingle equi-join candidates bounded by co-occurrence; Jaccard verify in-join; cross-split filter prunes before the pair aggregate",
    "q_dsir_select": "one exploded-token pass feeds BOTH LMs (target count = filtered re-agg of the same key); 1-row totals broadcast; selection gate is row-local (no global sort)",
    "q_variant_props": "props parsed ONCE into VARIANT next to the reader; typed variant_get extraction; ReadSchema carries only event_type+props; one 5-partial agg shuffle",
    "q_date_spine_fill": "recursive spine bounded by the date RANGE (constant rows), broadcast into the left join; fact side is a pruned scan + one agg shuffle",
    "q_component_split": "near-dup pairs via bounded shingle co-occurrence; min-label closure shuffles only the edge set; split gate is a map over (doc_id, root)",
    "q_psi_drift": "one scan, one map-side-combined (type, bin) aggregate; totals join back at alphabet size — drift costs one shuffle of bin partials",
    "q_ks_drift": "rows collapse to per-DISTINCT-value counts first; ECDF windows run over the vocab-sized table, never a corpus sort",
    "q_ks_drift_binned": "fixed-width 5-unit bins: the ECDF window sorts at most range/5 bins regardless of corpus size — the unbounded-cardinality scale path for q_ks_drift",
    "q_tpch_q2ish": "partsupp synthesized as a narrow map over part + 1-row broadcast; dim chain broadcasts; per-part MIN window over a 4-rows-per-key table",
    "q_tpch_q9ish": "one lineitem fact scan; composite-key join to the synthesized partsupp dimension (AQE-broadcastable); orders shuffle-joins unhinted; one (nation, year) agg shuffle",
    "q_tpch_q11ish": "region-pruned partsupp values in BIGINT cents; per-part agg + 1-row totals broadcast; threshold compare pure integer",
    "q_tpch_q20ish": "date-pruned fact agg (map-side combined) joins the partsupp dimension; distinct suppliers exit through broadcast dims",
    "q_source_overlap": "distinct (source, token) collapses the corpus to vocab-sized sets; pair fan-out per token bounded by the source alphabet",
    "q_dedup_substring": "ExactSubstr: ONE corpus explode to stride-1 gram anchors; gram-keyed aggregate is vocab-sized on xxhash64 slice keys (r15 — no gram strings); join-back occurrence-keyed (no pairwise term); per-doc interval merge windows on doc_id",
    "q_cms_topk": "CMS build is one map-side-combined explode pass bounded at d*w counter rows; probe joins the parameter-sized sketch back (broadcast); min over d depths per token",
    "q_join_size_est": "join size WITHOUT the join: two independent key-stream sketch passes; the estimate joins two <=d*w tables; exact side kept alongside for error visibility",
    "q_max_open_orders": "sweep-line: fact tables collapse to per-order intervals then calendar-dated deltas BEFORE any ordering; the only global window runs over ~calendar-sized rows",
    "q_bitmap_distinct": "exact mergeable distinct: per-shard bucket bitmaps (map-side construct_agg), lossless OR rollup; counts exit without rescanning raw rows",
    "q_bigram_lm": "ONE tokenize pass; bigrams from lead() on the (doc,pos) window; both count tables vocab-sized and key-joined back (broadcastable); doc score is a keyed agg — never a corpus self-join",
    "q_gaps_islands": "distinct (user, day) collapses the event stream first; island keys and per-user stats reuse the single user_id partitioning",
    "q_skyline": "banded Pareto frontier: band-parallel running mins + band-count-sized prefix pass + broadcast join-back — no global sort, no all-pairs dominance",
    "q_rolling_wau": "trailing-window distinct via bounded x7 explode of the collapsed user-day table — no day-range self-join; one count-distinct shuffle",
    "q_cohort_ltv": "integer-cents LTV: corpus collapses to per-customer first-month then cohort-age cells; the running-sum window is calendar-squared-sized",
    "q_kl_drift": "both distributions fold to alphabet-sized (type, count) tables; fixed-point e9 BIGINT ln keeps engines bit-identical; final KL is a 1-row fold",
    "q_shortest_path": "per-round frontier⋈edges equi-join + anti-join shrink: work tracks the NEW frontier, not the visited set; plan depth capped by shared_pass per round",
    "q_interval_coverage": "sweep-line union: ONE key shuffle, two window passes over the same partitioning, island-bounded aggregate — no self-join, no driver state",
    "q_growth_accounting": "events collapse to distinct (user, month) first; new/retained/resurrected/churned classify via ONE user_id window (lag); month cells are calendar-sized",
    "q_assoc_rules": "basket pairs bounded by per-order width (~7 lines); support/confidence/lift join item counts back at item-alphabet size — never a corpus self-join",
    "q_triangles_approx": "DOULION p=1/4: deterministic md5 edge gate is a MAP filter before the census; wedge join ~16x and closing join ~64x cheaper than exact; estimate = count x 64",
    "q_kmeans": "integer-exact Lloyd: MAP-SIDE argmin over the gathered centroid array (r15 — assignment shuffles nothing), one integer-sum exchange per update; no driver collect, fixed unrolled depth",
    "q_semdedup": "SemDeDup cascade: kmeans clusters -> xxhash64(raw) min/min_by exact pre-collapse (clone-immune, r12 raw-keyed) -> within-cluster pair join on reps with Arrow pdot verify -> keep-first anti-join",
    "q_kmeans_twolevel": "coarse-then-refine assignment: exact coarse Lloyd (map-side argmin, r15), two-phase per-cell seed rank (no whole-cell sort task), fine argmin is a map over the per-cell centroid array broadcast-joined on the cell id — per-row work (kc+kf)*d, not k*d",
    "q_dedup_simhash": "4-block pigeonhole equi-joins over one localCheckpointed fingerprint pass; hot blocks triangle-split (r12) instead of excluded — recall at hamming<=3 unconditional",
    "q_jl_project": "map-only JL projection: plan-time literal sign matrix, per-row left-fold dots, posexplode exit; zero exchanges — the map-only shape a 100 TB pre-step must have",
    "q_semdedup_twolevel": "the SemDeDup cascade on the two-level derived-k assignment (r13): corpus-count-derived (kc, kf) split, coarse-then-refine Lloyd, raw-keyed exact pre-collapse, within-COMPOSITE-cluster pair join — assignment per-row work (kc+kf)*d while the prune stage is unchanged",
    "q_ivf_pq_serve": "fit-ONCE serving form (r14): probed cells read partition-pruned (PartitionFilters on __cell), ADC scores codes-only via the per-unique-probe LUT kernel, exact rerank touches only the shortlist's raw vectors — no fit job anywhere in the plan (index metadata loads from the cache's _index_meta.json)",
}


def main(sf="/root/testdata/sf0.001"):
    spark = get_spark("plansdoc", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical-plan evidence for the headline queries",
        "",
        "Generated by `python tools/gen_plans.py` (explain 'formatted', sf0.001).",
        "Summary per query: shuffle exchanges, broadcast presence, Python stages;",
        "asserted continuously by tests/test_plans.py.",
        "",
    ]
    for name, note in HEADLINE.items():
        df = QUERIES[name].fn(spark, sf)
        out += [
            f"## {name}", "", f"*{note}*", "",
            f"- shuffle exchanges: **{shuffle_count(df)}** · broadcast join: "
            f"**{has_broadcast_join(df)}** · python stage: **{uses_python_udf(df)}**",
            "", "```", explain_str(df).split("\n\n")[0].strip(), "```", "",
        ]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md regenerated ({len(HEADLINE)} queries)")


if __name__ == "__main__":
    main()
