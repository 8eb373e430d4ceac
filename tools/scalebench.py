"""Scaling-ratio harness: measure how each headline query's runtime
grows when the data grows, on the SAME machine with the SAME plans.

Method: amplify the sf0.1 fixtures by an integer factor with
key-shifted replicas — every replica shifts its join keys by a fixed
offset (consistently across fact and dimension tables), so join
integrity, key cardinality ratios, selectivities, and value
distributions are all preserved exactly while volume multiplies. This
is the honest local stand-in for a bigger cluster run: a query whose
plan is scan/shuffle-linear should show time ratio ≈ data ratio (or
better, while fixed overheads still dominate); anything super-linear
is a plan that will not survive 100 TB.

Dedup/similarity queries are EXCLUDED by design: replicated text and
vectors are mutual near-duplicates, so amplification changes the
PROBLEM size (candidate-pair count), not just the data size — their
scaling story is the candidate-volume analysis in PLANS.md instead.

    python tools/scalebench.py [factor] [out_json]

Writes one JSON line: per-query seconds at 1x and Nx and the ratio.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.plans import fixture_queries as FQ
from movie_data_etl_pipeline_spark.session import (
    _dir_bytes,
    data_scaled_driver_memory,
    data_scaled_shuffle_partitions,
    get_spark,
)
from movie_data_etl_pipeline_spark.sources import load_table

# Key-shift offsets per table: larger than any key at sf0.1 so replica
# key ranges never collide.
OFFSET = 100_000_000

# (table, [key columns to shift per replica])
SHIFT_KEYS = {
    "region": [],  # 5 rows; replicated as-is (dims must stay joinable)
    "nation": [],
    "supplier": ["s_suppkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# Scan/shuffle-linear headline subset (no near-dup/ANN families — see
# module docstring). Each entry: (query name, why it represents a family).
SCALE_QUERIES = [
    "q1_pricing_summary",  # full-scan agg
    "q5_local_supplier_volume",  # widest join tree
    "q9_nation_profit",  # 5-way join + agg
    "q18_large_orders",  # agg + semi-join on big fact
    "q21_waiting_suppliers",  # exists/not-exists double probe
    "v1_top_actors",  # distinct-agg + top-k
    "v4_top_actors_by_rating",  # distinct-agg + HAVING + top-k
    "o7_top_n_per_group",  # per-group window limit
    "w4_trailing_7d",  # range-frame window
    "t5_top20",  # global top-k
    "ev_funnel",  # event sequence agg
    "ev_type_pmi",  # self-join at user grain
    "st_tumbling",  # windowed event agg
    "aj_asof_join",  # union+window as-of
    "tx_token_stats",  # per-doc text map
    "tx_quality_scores",  # per-doc scoring
    "tx_unigram_logprob",  # vocab join
    "tx_pack_sequences",  # distributed prefix sum
    "ix_global_rownum",  # two-phase numbering
    "px_shard_manifest",  # hash-shard agg
    "qa_audit",  # conditional-agg audit
    "ap_hll_rollup",  # sketch build+merge
    "gr_pagerank",  # iterative join+agg rounds (Pregel shape)
    "pit_topk_events",  # horizon-window feature join
    "ap_quantile_rollup",  # mergeable histogram sketch
    "tx_source_divergence",  # vocab-grain drift agg
    "ix_inverted_index",  # capped posting-list build
    "jx_salted_join",  # salted fact⋈fact + agg
    "ly_compaction",  # metadata-grain packing window
    "ag_ols_brand",  # moment-sum grouped regression
    "ev_attribution",  # two-window sessionization
    "ap_cms_counts",  # CMS build + broadcast probe
    "tx_score_calibration",  # histogram percent-rank + join-back
    "qa_replica_diff",  # per-bucket content checksums ×2
    "qa_join_explosion",  # key-grain c² diagnostic
    "inc_join_view",  # delta-join + state merge
    "ap_kmv_sources",  # bottom-k sketch (vocab constant under replication)
    "qa_winsorize",  # histogram order statistics + clamp scan
    "ts_rolling_corr",  # day-grain exact window sums
    "ag_abc_analysis",  # supplier-grain cumulative shares
    "qa_balance_check",  # fact agg + outer join reconciliation
    "sa_systematic",  # two-phase global numbering + modulo filter
    "ev_debounce",  # two-window burst dedup
    "w6_sliding_distinct",  # bounded 7x window-day explode
    "ag_mutual_info",  # 10x10 cell pricing
    "qa_seasonal_anomaly",  # weekday baseline z
    "qa_benford",  # digit-grain screen
    "o13_scd2_lookup",  # key join + version range filter
    "qa_entropy_profile",  # value-grain pricing x4 columns
    "tx_threshold_sweep",  # bounded threshold explode
    "qa_release_gate",  # composed 1-row gates
    # waves 8-11 (round-3 continuation)
    "ts_decompose",  # day-grain centered MA + weekday index
    "ts_m4_downsample",  # hour-bucket min/max/first/last
    "ev_audience_overlap",  # distinct (type,user) self-join
    "ag_cohort_ltv",  # custkey-shuffle cohorting + calendar cumsum
    "ly_zonemap",  # block-grain min/max audit ×2 layouts
    "o14_upsert_evolve",  # widened full-outer merge
    "fe_quantile_bins",  # value-grain histogram binning
    "fe_target_encode",  # broadcast category encode over fact
    "fe_hashed_features",  # row-local hash + bucket agg
    "ev_step_latency",  # user-grain firsts + latency histogram
    "emb_pca_power",  # fact cross-moments + 64-row iterations
    "w8_pareto_front",  # supplier-grain sort-scan skyline
    "sa_neyman_alloc",  # two-pass moments + hash membership
    "o15_partition_overwrite",  # partition anti-join restatement
    "ts_seasonal_outliers",  # residual median/MAD control chart
    "ag_did",  # broadcast-dim 2x2 conditional agg
    "ag_raking",  # cell-grain unrolled IPF
    "ix_trigram_search",  # char-grain posting build + verify
    # round-4 additions (scan/shuffle-linear members of waves 23-29)
    "ev_pattern_match",  # user-grain opcode string + row-local regex
    "gr_modularity",  # label-prop rounds + integer edge/degree sums
    "qa_dp_counts",  # nation-grain noised counts
    "ly_hilbert",  # row-local integer curve index + block agg
    "ag_huber_irls",  # day-grain IRLS rounds
    "tx_perplexity",  # bigram-model join at bigram grain
    "ev_incident_overlap",  # islands + broadcast overlap join
    "ts_esd_outliers",  # day-grain iterative removal
    "qa_fd_mining",  # one groupBy per declared pair
    "ts_periodogram",  # day-grain trig-table join
    "ix_bitmap_and",  # keyspace/32 word bitmaps + popcount joins
    "su_set_ops_all",  # multiset ops on the key
    # round-4 waves 36-40 (scan/shuffle-linear representatives)
    "rc_item_item_cf",  # capped-basket pair build + top-k
    "ag_corr_matrix",  # one-pass moment sums (map-side combine)
    "ml_calibration",  # histogram distributed prefix sum + bin rollup
    "gr_bfs_hops",  # 3 frontier-expand + anti-join rounds
    "jx_bloom_semijoin",  # broadcast Bloom reduction + exact verify
    "ev_batch_sessions",  # per-user session windows + bucket rollup
    "ev_rfm_segments",  # 3 histogram prefix pipelines + value joins
    "sq_correlated_agg",  # decorrelated EXISTS + scalar-agg joins
]


def amplify(spark, src_dir: str, out_dir: str, factor: int) -> None:
    """Materialize factor-times fixtures with shifted keys (run once;
    reused across invocations via the _done marker)."""
    done = os.path.join(out_dir, "_done")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for table, keys in SHIFT_KEYS.items():
        base = load_table(spark, src_dir, table)
        if not keys:
            out = base
        else:
            reps = []
            for k in range(factor):
                r = base
                for col in keys:
                    r = r.withColumn(col, F.col(col) + F.lit(k * OFFSET))
                reps.append(r)
            out = reps[0]
            for r in reps[1:]:
                out = out.unionAll(r)
        out.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")
    Path(done).touch()


def run_set(spark, sf_dir: str, names=None) -> dict[str, object]:
    """Times per query; a failing query records its error string
    instead of killing the whole sweep (one scale bug must not hide
    the other 88 measurements), and progress goes to stderr so a
    crashed run still names its last query."""
    times: dict[str, object] = {}
    for name in (names or SCALE_QUERIES):
        fn = FQ.QUERIES[name]
        print(f"scalebench: {name} @ {sf_dir}", file=sys.stderr, flush=True)
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — record and continue
            times[name] = f"ERROR: {str(e).splitlines()[0][:200]}"
            continue
        times[name] = round(time.time() - t0, 3)
    return times


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_json = sys.argv[2] if len(sys.argv) > 2 else ""
    # optional trailing query names restrict the sweep (for spot-checks
    # at extreme factors where the full 89-query set would take hours).
    # Unknown names are a hard error: silently dropping a typo would
    # fall back to the FULL sweep — the opposite of a spot-check.
    requested = sys.argv[3:]
    unknown = [a for a in requested if a not in SCALE_QUERIES]
    if unknown:
        sys.exit(f"scalebench: unknown query name(s) {unknown}; "
                 f"valid names are keys of SCALE_QUERIES")
    names = requested or None
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    amp_dir = f"/tmp/scalebench_x{factor}"
    # Self-size the session to the AMPLIFIED volume (the bigger of the
    # two directions this session serves); when the fixtures are not
    # built yet, anticipate base_bytes x factor — the conf is fixed at
    # session build. The explicit env knob still wins when set.
    if "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in os.environ:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        if os.path.exists(os.path.join(amp_dir, "_done")):
            data_bytes = _dir_bytes(amp_dir)
        else:
            data_bytes = _dir_bytes(base_dir) * factor
        parts = data_scaled_shuffle_partitions(data_bytes, cpus)
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(parts)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", data_scaled_driver_memory(data_bytes))
    spark = get_spark("scalebench")
    amplify(spark, base_dir, amp_dir, factor)
    # warmup both directions (JVM/codegen/footers)
    FQ.QUERIES["q1_pricing_summary"](spark, base_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    FQ.QUERIES["q1_pricing_summary"](spark, amp_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    t1 = run_set(spark, base_dir, names)
    tn = run_set(spark, amp_dir, names)
    def cell(q):
        a, b = t1[q], tn[q]
        if isinstance(a, str) or isinstance(b, str):
            return {"t1": a, "tn": b, "ratio": None}
        return {"t1": a, "tn": b, "ratio": round(b / max(a, 1e-9), 2)}

    # drift calibration (VERDICT-r6 ask #7): time the frozen CORE_R2
    # gauge in THIS session so the ratios/seconds in this record are
    # comparable across runs/boxes — divide any absolute time by
    # drift_factor before comparing to another record's.
    import bench

    calib = bench.measure_drift(spark, base_dir)
    result = {
        "factor": factor,
        **calib,
        "queries": {q: cell(q) for q in (names or SCALE_QUERIES)},
    }
    line = json.dumps(result)
    print(line)
    if out_json:
        Path(out_json).write_text(line + "\n")


if __name__ == "__main__":
    main()
