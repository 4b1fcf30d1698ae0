"""Fresh-process driver simulation (verify skill step 1).

Builds a PLAIN SparkSession (not the repo's get_spark), imports
__spark_entry__, smoke-runs entry() at sf0.001, then for every key in
queries() with an oracle_sql() counterpart runs both sides at sf0.01 and
compares the strict representation hash of flink_realtime_spark.strict_hash
(so int64-vs-float64 or "61" vs "61.0" FAILS, as the driver's hash would).

Usage: python tools/drive_driver.py [--master local[N]] [--shuffle P]
           [--sf DIR] [--mem SIZE] [--tier NAME] [keys...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# The checkout this file sits in, so a run measures its own tree.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from flink_realtime_spark import registry  # noqa: E402
# canon stays importable from here too: perfbench/oracle.py imports it.
from flink_realtime_spark.strict_hash import canon, first_difference, frame_hash  # noqa: E402, F401

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def uni_keys() -> list[str]:
    """The uni tier: every oracle key whose SQL reads `documents` or `props`."""
    registry.load_all()
    return [k for k, sql in registry.ORACLES.items() if re.search(r"\b(documents|props)\b", sql)]


# `--tier NAME` key lists, one per tools/scale_probe.py fixture directory;
# every key must be in registry.ORACLES (tests/test_drive_driver.py).
TIERS = {
    # The ×100-facts strict-hash tier (VERDICT r5 #2): every oracle key whose
    # DuckDB oracle is LINEAR in the replicated fact tables (60M lineitem /
    # 10M events, tools/scale_probe.py 100) and whose full result fits the
    # instrument's collect. Excluded, with reasons:
    # - streaming-exec keys (state_*, src_*, sink_*, mv_incremental_refresh's
    #   changelog store build) — checkpoint machinery over 10M events is a
    #   separate axis (tools/stream_bench.py, perfbench's stream_ods_ads);
    # - join_interval_time / join_window_tvf / ads_time_to_convert /
    #   agg_funnel_window etc. whose OUTPUT fans out quadratically under
    #   fact replication (every (click, view-in-interval) pair multiplies
    #   100 x 100);
    # - llm_* / pipe_* / documents-based keys — the corpus axes are grown by
    #   scale_probe --corpus / --dup (distinct docs), not fact replication;
    # - row-wise scalar/projection keys over lineitem (60M-row collects
    #   exceed the instrument even at --mem 24g; scalar keys over the 10M-row
    #   events side are in).
    # Run: python tools/drive_driver.py --tier x100 --sf /tmp/spark_graft_scale/x100 --mem 24g
    "x100": [
        # agg
        "agg_star_flagship", "agg_groupby_basic", "agg_count_distinct",
        "agg_rollup", "agg_cube", "agg_pivot", "agg_unpivot", "agg_stats",
        "agg_max_by", "agg_bool_family", "agg_histogram", "agg_retention",
        "agg_collect", "agg_grouping_sets",
        # window
        "win_tumble", "win_slide", "win_session", "win_cumulate",
        "win_tumble_offset", "win_late_drop", "win_topn", "win_dedup",
        "win_late_refire", "win_late_side_output", "win_session_dynamic",
        # over / ordered
        "over_ranking", "over_topn_pergroup", "over_lag_lead",
        "over_value_fns", "over_running_sum", "over_moving_avg",
        "over_time_range", "over_pct_of_total", "ads_pareto_share",
        # sort / setop
        "sort_multi_key", "sort_nulls_first", "sort_topk",
        "setop_union_all", "setop_union_distinct", "setop_intersect",
        "setop_except", "setop_intersect_all", "setop_except_all",
        # joins (as-of joined the tier in r06 once the oracles went linear)
        "join_inner_equi", "join_outer_left", "join_outer_full",
        "join_semi", "join_anti", "join_dim_broadcast", "join_theta_range",
        "join_salted_skew",
        "join_asof_temporal", "join_asof_forward", "join_asof_nearest",
        # cdc / cep / dq
        "cdc_latest_image", "cdc_scd2_history", "cdc_snapshot_at",
        "cep_funnel_batch", "cep_funnel_within", "cep_error_burst",
        "cep_absence", "cep_retry_then_success", "cep_bounded_burst",
        "cep_strict_next", "cep_funnel_any",
        "dq_illegal_transitions", "dq_anomaly_zscore",
        # tpch
        "tpch_q1_pricing", "tpch_q3_priority", "tpch_q6_forecast",
        "tpch_q13_custdist", "tpch_q8_market_share", "tpch_q17_small_qty",
        "tpch_q20_promo_suppliers", "tpch_q21_waiting",
        # event-side boards / scalar
        "ads_daily_uv_pv", "ads_gmv_dashboard", "ads_monthly_yoy",
        "ads_stickiness_dau_wau", "ads_heatmap_hour_dow", "ads_session_stats",
        "scalar_calendar_dow", "scalar_json_props",
    ],

    # The ×1000 tier (r06b): a THIRD decade — 600M lineitem / 100M events
    # (tools/scale_probe.py 1000). Strict hash still, but restricted to keys
    # whose OUTPUT stays small (aggregate boards / top-k) so the instrument's
    # collect and the DuckDB oracle both stay tractable at this volume; the
    # full-relation keys (cdc/cep/sort families, ~100M-row collects) remain
    # ×100-tier citizens. Run: python tools/drive_driver.py --tier x1000
    # --sf /tmp/spark_graft_scale/x1000 --mem 24g
    "x1000": [
        "agg_star_flagship", "agg_groupby_basic", "agg_rollup",
        "tpch_q1_pricing", "tpch_q6_forecast",
        "win_tumble", "sort_topk", "over_topn_pergroup",
        "ads_daily_uv_pv", "ads_gmv_dashboard", "ads_heatmap_hour_dow",
        # r07 widening (VERDICT r6 #3): more small-output / linear-oracle
        # keys — aggregate boards over the replicated facts whose result
        # cardinality is bounded by the fixed time range or dim domain, not
        # by the fact count. ads_time_to_convert stays OUT for the same
        # reason as the ×100 tier: its per-user click×purchase interval
        # pairing fans out ×k² under fact replication (same user/ts, new
        # ids), which is a corpus-shape artifact, not an engine limit.
        "win_topn", "dq_anomaly_zscore", "agg_max_by", "tpch_q12_late_lines",
        "agg_retention", "agg_histogram", "ads_retention_cohort", "agg_pivot",
        "tpch_q13_custdist", "ads_pareto_share",
        # r08 widening (VERDICT r7 #6): nine more bounded-output boards —
        # verified ≤1441 rows each at sf0.1, and fact replication adds no new
        # timestamps, event types, or dim members, so the output cardinality
        # is invariant at ×1000 (win_slide's 1441 = slide windows × event
        # types; the rest are single-digit-to-80-row cube/stat boards).
        # ads_session_stats stays OUT: its oracle LAG-sessionizes 100M rows
        # per-user in one DuckDB window sort — the ×100 tier covers it.
        "agg_cube", "agg_grouping_sets", "agg_stats", "agg_bool_family",
        "ads_monthly_yoy", "tpch_q8_market_share", "tpch_q17_small_qty",
        "ads_stickiness_dau_wau", "win_slide",
        # r09 widening (VERDICT r8 #7): four more bounded-output boards with
        # linear oracles — dq_drift_chi2's constant types×buckets grid (its
        # proportion divisions were nullif-hardened this round),
        # ads_new_vs_returning's day-bounded split, dq_integrity_checks's
        # five-row battery, ads_audience_overlap's type-pair matrix (the
        # self-join rides the DISTINCT (user,type) relation, which fact
        # replication leaves fixed). scalar_calendar_dow stays OUT: its
        # output is per-event (100M-row collect at this tier).
        "dq_drift_chi2", "ads_new_vs_returning", "dq_integrity_checks",
        "ads_audience_overlap",
    ],

    # The grow100 CORPUS tier (r07): the documents-axis analog of ×100 —
    # 500k distinct docs (tools/scale_probe.py corpus growth shape: replica
    # words tagged, vocabulary ×100, zero cross-replica near-dup pairs).
    # Strict hash over every llm_*/pipe_* key whose DuckDB oracle is LINEAR
    # in the corpus and whose result the instrument can collect. Excluded,
    # with reasons:
    # - pair-join dedup/ANN keys (ngram_jaccard, containment, editdist,
    #   semantic, embcos, simhash_pairs, minhash, two_stage, cluster,
    #   incremental, knn_*) — their ORACLES are O(n²) pair scans; the
    #   operators themselves are covered by the scale_probe corpus/dup
    #   probes (timing + planted-pair recall) and sf0.01/sf0.1 hashes;
    # - llm_pii_redact / llm_substring_clean — full-text result collects
    #   (~500k × KB strings) exceed the instrument, and the substring
    #   family's oracle window sorts the whole gram space;
    # - multimodal/media keys — embeddings/media fixtures are NOT grown by
    #   this corpus shape (symlinked sf0.1 tables).
    # Run: python tools/drive_driver.py --tier grow100
    #      --sf /tmp/spark_graft_scale/grow100 --mem 24g
    "grow100": [
        "llm_text_stats", "llm_token_count", "llm_token_topk", "llm_lang_id",
        "llm_quality_score", "llm_repetition", "llm_doc_keywords",
        "llm_dup_gram_share", "llm_length_histogram", "llm_line_dedup",
        "llm_word_rarity", "llm_vocab_coverage", "llm_doc_fingerprint",
        "llm_chunk_split", "llm_dedup_exact", "llm_decontaminate",
        "llm_source_overlap", "llm_bpe_pair_freq", "llm_cooccurrence",
        "llm_collocation_lift",
        "pipe_sample_hash", "pipe_sample_stratified", "pipe_split_assign",
        "pipe_split_leakage_safe", "pipe_token_budget", "pipe_shuffle_shard",
        "pipe_curriculum_ntile", "pipe_mixture_weighted", "pipe_dataset_card",
        "pipe_pack_sequences", "llm_dedup_substring", "llm_top_boilerplate",
    ],

    # The dup10 DUPLICATE-HEAVY corpus tier (r07): 50k docs where every
    # original doc is a 10-clique of exact copies (`scale_probe
    # build_dup_docs`) — the mirrors/reposts crawl shape. Strict hash for
    # the dedup keys whose oracles stay tractable there; this is the tier
    # that DuckDB-hash-verifies containment's exact-collapse route and
    # two-stage's collapse-first ordering end-to-end (the oracles pay the
    # k²·|sh| candidate grams those routes avoid: containment oracle ~140 s,
    # two_stage oracle ~470 s, vs 11 s / 9 s Spark-side). Excluded: the
    # LSH-only keys (minhash/cluster/incremental — exact oracles, banded
    # recall; see SCALE.md LSH lesson) and pipe_split_leakage_safe (its
    # exact pair relation is Ω(k² per clique) BY DEFINITION on this shape —
    # collapse-first is the production ordering, llm_dedup_two_stage).
    # Run: python tools/drive_driver.py --tier dup10
    #      --sf /tmp/spark_graft_scale/dup10 --mem 24g
    "dup10": [
        "llm_dedup_exact", "llm_dedup_containment", "llm_dedup_substring",
        "llm_substring_clean", "llm_top_boilerplate", "llm_line_dedup",
        "llm_dedup_two_stage",
    ],

    # The vec100 EMBEDDINGS tier (r08, VERDICT r7 #4): the vector axis was
    # the one unswept decade — facts have ×10/×100/×1000, documents have
    # grow100/dup10, but the similarity family was hash-checked only at the
    # 2k-vector fixture. 200k distinct 64-dim vectors
    # (`scale_probe.build_vec_embeddings(spark, 100)` — per-replica
    # deterministic dimension scaling, so cosine neighborhoods, centroids
    # and quantization codes all re-roll). Strict hash over every
    # linear-oracle key that reads embeddings. Excluded, with reasons:
    # - llm_dedup_embcos / llm_dedup_semantic — their ORACLES are O(n²)
    #   all-pairs scans (20B pairs at 200k); the operators' tiled-GEMM
    #   shape is covered by the kernel-equivalence and fixture hashes;
    # - llm_knn_ivf / llm_knn_ivf_gemm — KMeans quantizer, no SQL oracle
    #   by design; their recall/scan-fraction property floors re-run at
    #   this N via tools/ann_probe.py instead.
    # Run: python tools/drive_driver.py --tier vec100
    #      --sf /tmp/spark_graft_scale/vec100 --mem 24g
    "vec100": [
        "llm_knn_cosine", "llm_knn_ivf_hash", "llm_centroid_dist",
        "llm_embedding_quantize", "llm_random_projection",
        "scalar_array", "llm_multimodal_join",
    ],

    # The uni UNICODE/MULTILINGUAL tier (r09, VERDICT r8 #1): every fixture
    # string is 100% ASCII, so no prior strict hash ever executed either
    # engine's non-ASCII paths — case folding (Java full casing vs DuckDB
    # utf8proc 1:1), regex character classes over multi-byte input, code-point
    # vs byte offsets, CJK no-whitespace tokenization, NFC-vs-NFD, astral
    # (surrogate-pair) handling, JSON unicode serialization. Fixture:
    # `scale_probe.build_unicode_docs(spark)` — sf0.1 documents with ~25% of
    # docs' body words swapped for multilingual forms + segment frames, ~3%
    # CJK-joined no-whitespace docs, ~10% unicode sources (non-ASCII GROUP
    # keys), ~10% of events.props with unicode JSON values. Key list = every
    # oracle key whose oracle SQL references `documents` or `props` (the only
    # columns the rewrite touches; all other keys read symlinked sf0.1 tables
    # identical to the step-5 sweep), derived by uni_keys when asked for.
    # Run: python tools/drive_driver.py --tier uni
    #      --sf /tmp/spark_graft_scale/uni --mem 24g
    "uni": uni_keys,

    # The zipf DF-SKEW tier (r10, VERDICT r9 #7): the fixture corpus's
    # shingle df is flat (~9.6), so the ngram-jaccard PREFIX-SSJoin route —
    # the plan the engine picks on natural-language Zipf skew — never ran
    # under a strict hash; it was probe-verified only (posting==prefix pair
    # equality). Fixture: `scale_probe.build_zipf_docs(spark, 100)` — 500k
    # docs, Zipf s=1 words over a Heaps-law vocabulary, planted near-dups
    # every 200th doc. At this size head grams carry 87% of the candidate
    # mass and _pick_ngram_mode routes PREFIX (SCALE.md crossover table),
    # while the DuckDB oracle still runs its flat posting join — two
    # different plans, one hash. Companion df-sensitive text keys ride
    # along (token ranks/rarity re-roll under Zipf).
    # Run: python tools/drive_driver.py --tier zipf
    #      --sf /tmp/spark_graft_scale/zipf100 --mem 24g
    "zipf": [
        "llm_dedup_ngram_jaccard", "llm_dedup_exact", "llm_dup_gram_share",
        "llm_token_topk", "llm_word_rarity", "llm_lang_id",
    ],

    # The boiler SHARED-BOILERPLATE tier (r10): every doc carries the same
    # 17-word preamble (`scale_probe.build_boiler_docs(spark, 1)`, 5k docs)
    # — head_frac 1.00, ~190M candidate pairs, the crawl shape where the
    # posting join stops being runnable at scale. The engine routes PREFIX;
    # the oracle pays the full posting join (minutes — the oracle paying
    # what the prefix filter avoids, the dup10 pattern). The substring/
    # boilerplate-mining keys join because this corpus is their worst case.
    # Run: python tools/drive_driver.py --tier boiler
    #      --sf /tmp/spark_graft_scale/boiler1 --mem 24g
    "boiler": [
        "llm_dedup_ngram_jaccard", "llm_top_boilerplate",
        "llm_dup_gram_share", "llm_dedup_substring", "llm_substring_clean",
    ],
}


def tier_keys(name: str) -> list[str]:
    """The keys of tier `name` (uni's are derived when asked for: loading
    the registry on import would slow every importer of this module)."""
    if name not in TIERS:
        raise SystemExit(f"unknown tier {name!r} (have: {', '.join(sorted(TIERS))})")
    return TIERS[name]() if callable(TIERS[name]) else TIERS[name]


def oracle_mem_limit() -> str:
    """DuckDB memory_limit for the oracle connections:
    $SPARK_GRAFT_ORACLE_MEM (default 24GB), checked before it is spliced
    into a SET statement."""
    v = os.environ.get("SPARK_GRAFT_ORACLE_MEM", "24GB")
    if not re.fullmatch(r"[0-9]+(\.[0-9]+)?\s*(KB|MB|GB|TB)", v):
        raise ValueError(
            f"SPARK_GRAFT_ORACLE_MEM={v!r}: expected a size such as 24GB"
        )
    return v


def refused_confs_line(refused: list[tuple[str, str]]) -> str | None:
    """One `# refused confs:` line listing the (conf, reason) pairs the
    session refused to pin, or None when it refused none."""
    if not refused:
        return None
    return f"# refused confs: {json.dumps([list(p) for p in refused])}"


def main() -> int:
    global SF
    oracle_mem = oracle_mem_limit()
    args = sys.argv[1:]
    master, shuffle, mem = "local[32]", None, None
    only = []
    it = iter(args)
    for a in it:
        if a == "--master":
            master = next(it)
        elif a == "--shuffle":
            shuffle = next(it)
        elif a == "--sf":
            # Value-check at a different scale than the driver's sf0.01 —
            # e.g. sf0.1, or a tools/scale_probe.py replicated ×k facts
            # dir: the strict hash then gates correctness AT SCALE, not
            # just timing (this is how the round-5 LSH family bug class
            # gets caught — probe outputs are data, count and hash them).
            SF = next(it)
        elif a == "--mem":
            # Driver heap for the at-scale tiers: this instrument
            # COLLECTS every key's full result, and several keys return
            # millions of rows at ×10 facts — the 1g default JVM OOMs on
            # the collect, which is an instrument limit, not an engine
            # one. (The real driver never collects at that scale.)
            mem = next(it)
        elif a == "--tier":
            only.extend(tier_keys(next(it)))
        else:
            only.append(a)

    b = SparkSession.builder.master(master).appName("driver-sim")
    if shuffle:
        b = b.config("spark.sql.shuffle.partitions", shuffle)
    if mem:
        b = b.config("spark.driver.memory", mem)
    spark = b.getOrCreate()

    import __spark_entry__ as e

    out = e.entry(spark)
    n = len(out.collect())
    assert n > 0, "entry() returned no rows"
    print(f"entry() smoke: {n} rows OK", flush=True)

    qs, oracles = e.queries(), e.oracle_sql()

    def fresh_con():
        # A FRESH connection per oracle query (r11 find): DuckDB 1.0's
        # buffer manager leaks pinned blocks across heavy string-CTE
        # queries on one connection — after ~16 grow100 oracles even an
        # 8-BYTE allocation fails ("bad allocation") and every later
        # oracle in the run "fails" with it (zero real mismatches; each
        # key passes alone). Reconnecting returns each key a clean
        # budget. The explicit memory_limit + temp_directory make a
        # single heavy oracle SPILL instead of exhausting the box the
        # Spark driver (--mem 24g) and the Python collects share
        # (DuckDB's default limit is 80% of physical RAM and its 1.0
        # accounting under-counts string hash aggregates ~2×).
        c = duckdb.connect()
        # 24GB default keeps a heavy oracle from exhausting the box the
        # Spark driver shares; the quadratic dup10/grow100 oracles can
        # out-spill the DISK instead (r12: two_stage's dup10 oracle
        # filled 80 GB of /tmp/duckdb_spill) — override upward on a
        # big-RAM box so they spill less.
        c.execute(f"SET memory_limit='{oracle_mem}'")
        os.makedirs("/tmp/duckdb_spill", exist_ok=True)
        c.execute("SET temp_directory='/tmp/duckdb_spill'")
        for t in TABLES:
            p = f"{SF}/{t}.parquet"
            # scale_probe.py replicated dirs are Spark-written parquet
            # DIRECTORIES; the testdata fixtures are single files.
            if os.path.isdir(p) and not os.path.islink(p):
                p = f"{p}/*.parquet"
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
        return c

    con = fresh_con()

    keys = only or list(qs)  # driver iterates queries() in insertion order
    failures = []
    timings: dict[str, tuple[float, float]] = {}
    for k in keys:
        try:
            t0 = time.time()
            sdf = qs[k](spark, SF)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            t_spark = time.time() - t0
            if k not in oracles:
                timings[k] = (t_spark, 0.0)
                print(f"{k:28s} rows-only: {len(srows)} rows  [{t_spark:5.2f}s]", flush=True)
                continue
            t0 = time.time()
            con.close()
            con = fresh_con()  # per-key budget; see fresh_con
            cur = con.execute(oracles[k])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            t_oracle = time.time() - t0
            timings[k] = (t_spark, t_oracle)
            if frame_hash(scols, srows) != frame_hash(ocols, orows):
                failures.append(k)
                diff = first_difference(scols, srows, ocols, orows)
                print(f"{k:28s} HASH-MISMATCH " + diff.replace("\n", "\n  "))
            else:
                print(
                    f"{k:28s} OK ({len(srows)} rows)  "
                    f"[spark {t_spark:5.2f}s  oracle {t_oracle:5.2f}s]",
                    flush=True,
                )
        except Exception as ex:  # noqa: BLE001
            failures.append(k)
            print(f"{k:28s} ERROR {type(ex).__name__}: {str(ex)[:300]}")

    if timings:
        print("\n=== slowest (spark+oracle) ===")
        for k, (ts, to) in sorted(timings.items(), key=lambda kv: -(kv[1][0] + kv[1][1]))[:20]:
            print(f"{k:28s} {ts + to:6.2f}s  (spark {ts:5.2f}  oracle {to:5.2f})")
        tot_s = sum(t[0] for t in timings.values())
        tot_o = sum(t[1] for t in timings.values())
        print(f"total spark {tot_s:.1f}s  oracle {tot_o:.1f}s  combined {tot_s + tot_o:.1f}s")

    print(f"\n{len(keys) - len(failures)}/{len(keys)} keys match")
    if failures:
        print("FAILED:", failures)
    from flink_realtime_spark.session import REFUSED_CONFS

    line = refused_confs_line(REFUSED_CONFS)
    if line:
        print(line)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
