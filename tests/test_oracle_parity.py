"""Differential oracle parity — replicates the driver's CORRECTNESS check
locally (SURVEY.md §5.1): for every registered query key with an oracle,
run the Spark plan and the DuckDB SQL on the same sf0.01 parquet and demand
equal strict representation hashes (flink_realtime_spark.strict_hash).
Keys without an oracle get a rows-return smoke check here (driver runs
rows-only too)."""

from __future__ import annotations

import pytest

from flink_realtime_spark import registry
from tests.conftest import SF_DIR, assert_strict_parity

registry.load_all()

ORACLE_KEYS = sorted(k for k in registry.QUERIES if k in registry.ORACLES)
ROWS_ONLY_KEYS = sorted(k for k in registry.QUERIES if k not in registry.ORACLES)


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_parity(spark, duck, key):
    sdf = registry.QUERIES[key](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(registry.ORACLES[key])
    ocols = [d[0] for d in cur.description]
    assert_strict_parity(key, sdf.columns, srows, ocols, cur.fetchall())


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_smoke(spark, key):
    df = registry.QUERIES[key](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    out = e.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert {"r_name", "o_orderpriority", "l_returnflag", "revenue"} <= set(
        out.columns
    )


def test_driver_window_rotation():
    """The driver checks exactly the FIRST 50 keys of ordered_queries()
    per round (CLAUDE.md "Driver sampling"). Lock the round-12 contract
    (VERDICT r11 #4): the 8 keys touched by the r12 optimization round
    lead (the driver re-verifies every changed plan), then
    ads_gmv_dashboard (its r11 post-pin edit carries no driver
    evidence), then the 23 remaining r10-text-changed pool keys, then
    the 18 stalest (r06-vintage) records — no slot re-samples fresh
    records."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    # Deliberately pinned to the records the CURRENT rotation was built
    # against — extend this tuple together with each _PRIORITY_HEAD
    # rotation (next round: add r12 and rotate onto the 10 remaining
    # r06-vintage keys named in registry.py's rotation comment, then
    # the r07 cohort).
    for rnd, rec in (
        (1, "CORRECTNESS_r01.json"),
        (2, "CORRECTNESS_r02.json"),
        (3, "CORRECTNESS_r03.json"),
        (4, "CORRECTNESS_r04.json"),
        (5, "CORRECTNESS_r05.json"),
        (6, "CORRECTNESS_r06.json"),
        (7, "CORRECTNESS_r07.json"),
        (8, "CORRECTNESS_r08.json"),
        (9, "CORRECTNESS_r09.json"),
        (10, "CORRECTNESS_r10.json"),
        (11, "CORRECTNESS_r11.json"),
    ):
        path = os.path.join(root, rec)
        if os.path.isfile(path):
            with open(path) as f:
                for k in json.load(f):
                    latest[k] = rnd
    if not latest:
        pytest.skip("no prior CORRECTNESS records in this checkout")
    ordered = list(registry.ordered_queries())
    window = ordered[:50]
    # front: every key touched by the r12 optimization round
    # (OPTIMIZATION_r12.md — incl. agg_funnel_window, rewritten then
    # reverted in-round) — the driver re-verifies every changed plan
    touched_r12 = {
        "llm_doc_keywords", "llm_word_rarity", "llm_dedup_cluster",
        "llm_dedup_two_stage", "pipe_split_leakage_safe",
        "graph_pagerank", "llm_top_boilerplate", "agg_funnel_window",
    }
    assert set(window[:8]) == touched_r12
    # then the one key whose r11 edit landed after the r11 pin and so
    # carries no driver evidence (VERDICT r11 #4 mandatory item)
    assert window[8] == "ads_gmv_dashboard"
    # self-check (ADVICE r11: derive the marker from the exprs helper,
    # never a hand-typed SQL literal): every oracle embedding the
    # variant long-coercion truncation contract must already carry r11
    # driver evidence — the contract shipped and was sampled in r11. The
    # marker is the helper's SQL around its column, so an oracle on any
    # column name is covered.
    from flink_realtime_spark import exprs

    sentinel = "<col>"
    fragments = [
        f for f in exprs.json_k_variant_sql(sentinel).split(sentinel) if f
    ]
    trunc_marked = {
        k for k, sql in registry.ORACLES.items()
        if sql and all(f in sql for f in fragments)
    }
    assert trunc_marked, "variant-contract oracles disappeared"
    not_evidenced = [k for k in trunc_marked if latest.get(k, 0) < 11]
    assert not_evidenced == [], not_evidenced
    # middle: the 23 remaining r10-text-changed pool keys — vintage
    # r06-r10 (nothing fresh re-sampled; llm_dedup_cluster sits in the
    # touched block instead)
    pool = window[9:32]
    assert len(pool) == 23
    fresh_wrong = [k for k in pool if not (6 <= latest.get(k, 0) <= 10)]
    assert fresh_wrong == [], fresh_wrong
    # back: the 18 stalest records — every one r06-vintage
    back = window[32:]
    assert len(back) == 18
    stale_wrong = [k for k in back if latest.get(k) != 6]
    assert stale_wrong == [], stale_wrong
    # every oracle key with no driver record yet is in the window
    never = [
        k for k in ordered if k not in latest and k in registry.ORACLES
    ]
    assert set(never) <= set(window), sorted(set(never) - set(window))
    # nothing older than r06 remains anywhere (r05 backlog closed in
    # r11); after this round's record lands the r06 cohort shrinks to
    # the 10 keys the rotation comment names for r13
    pre_r06 = [k for k, r in latest.items() if r < 6 and k in registry.ORACLES]
    assert pre_r06 == [], pre_r06
    r06_left = {
        k for k, r in latest.items()
        if r == 6 and k in registry.ORACLES and k not in set(window)
    }
    assert len(r06_left) == 10, sorted(r06_left)


_ASOF_RANK_SPECS = {
    # The tie-total rank forms — the as-of SPEC (r05). O(per-user
    # density²), so the registered oracles are the linear merge-fill
    # equivalents; this test keeps the spec independently asserted.
    "join_asof_temporal": """
      SELECT purchase_id, user_id, click_id, click_value FROM (
        SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
          CAST(c.value AS DOUBLE) AS click_value,
          ROW_NUMBER() OVER (
            PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id ASC
          ) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
      ) WHERE rn = 1""",
    "join_asof_forward": """
      SELECT click_id, user_id, purchase_id, purchase_value FROM (
        SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id,
          CAST(p.value AS DOUBLE) AS purchase_value,
          ROW_NUMBER() OVER (
            PARTITION BY c.event_id ORDER BY p.ts ASC, p.event_id ASC
          ) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts <= p.ts
      ) WHERE rn = 1""",
    "join_asof_nearest": """
      SELECT click_id, user_id, purchase_id, purchase_value FROM (
        SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id,
          CAST(p.value AS DOUBLE) AS purchase_value,
          ROW_NUMBER() OVER (
            PARTITION BY c.event_id
            ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)),
                     p.ts ASC, p.event_id ASC
          ) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          USING (user_id)
      ) WHERE rn = 1""",
}


@pytest.mark.parametrize("key", sorted(_ASOF_RANK_SPECS))
def test_asof_linear_oracle_matches_rank_spec(key):
    """VERDICT r5 #2: the as-of oracles were rewritten from O(density²)
    rank forms to linear merge-fill forms so the family can join the ×100
    strict-hash tier. The rank form REMAINS the spec — assert both DuckDB
    forms return identical row sets on the fixture AND on a ×3
    replicated-facts view (duplicate (user_id, ts) pairs with distinct
    event_ids — exactly the tie shape where r05 caught native ASOF
    underspecification)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW base AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    for variant in ("plain", "replicated"):
        if variant == "plain":
            con.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM base")
        else:
            con.execute(
                """CREATE OR REPLACE VIEW events AS
                   SELECT event_id * 3 + r.i AS event_id, ts, user_id,
                          event_type, value, props
                   FROM base, (SELECT UNNEST([0, 1, 2]) AS i) r"""
            )
        spec = sorted(map(tuple, con.execute(_ASOF_RANK_SPECS[key]).fetchall()))
        lin = sorted(map(tuple, con.execute(registry.ORACLES[key]).fetchall()))
        assert spec == lin, f"{key}/{variant}: {len(spec)} vs {len(lin)} rows"
        assert len(spec) > 0


def test_explode_outer_null_text_oracle_agreement(spark, tmp_path):
    """ADVICE r3: DuckDB UNNEST over a NULL list emits zero rows while
    Spark explode_outer(NULL) emits one coalesced row — the fixture has
    no NULL text, so the driver can never catch a divergence. Run BOTH
    sides of flatmap_explode_outer on a synthetic documents table with a
    NULL-text doc, an empty-after-filter doc, and a normal doc."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": pd.Series([1, 2, 3], dtype="int64"),
            "text": ["longenough words keepthisone", "all tiny ws", None],
            "lang": ["en", "en", "en"],
            "source": ["web", "web", "web"],
            "n_chars": pd.Series([28, 11, 0], dtype="int64"),
        }
    )
    sf_dir = str(tmp_path)
    pdf.to_parquet(f"{sf_dir}/documents.parquet")
    sdf = registry.QUERIES["flatmap_explode_outer"](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    cur = con.execute(registry.ORACLES["flatmap_explode_outer"])
    ocols, orows = [d[0] for d in cur.description], cur.fetchall()
    con.close()
    # all three outer paths present: real tokens, empty list, NULL list
    assert {r[sdf.columns.index("doc_id")] for r in srows} == {1, 2, 3}
    assert_strict_parity(
        "flatmap_explode_outer/null", sdf.columns, srows, ocols, orows
    )


def test_round_negative_zero_normalized(spark, duck):
    """vec100 tier find (r08): the engines' ROUND disagree on the sign of
    zero — DuckDB's IEEE round keeps -0.0, Spark's BigDecimal HALF_UP
    round has no signed zero — and the driver's repr hash distinguishes
    '-0.0' from '0.0'. Pin the divergent semantics (so an engine upgrade
    that changes either side is flagged) and the `+ 0` normalizer that
    llm_random_projection's proj column (the one rounded output whose
    domain crosses zero) carries on BOTH sides."""
    import math

    from pyspark.sql import functions as F

    # the divergence this guards against
    d_raw = duck.execute("SELECT ROUND(-1e-9, 6)").fetchone()[0]
    assert d_raw == 0.0 and math.copysign(1.0, d_raw) < 0  # duck: -0.0
    s_raw = (
        spark.range(1).select(F.round(F.lit(-1e-9), 6)).collect()[0][0]
    )
    assert s_raw == 0.0 and math.copysign(1.0, s_raw) > 0  # spark: +0.0
    # the normalizer closes it
    d_norm = duck.execute("SELECT ROUND(-1e-9, 6) + 0").fetchone()[0]
    assert math.copysign(1.0, d_norm) > 0
    # and llm_random_projection carries it on both sides (inside the r10
    # specials guard: non-finite projections skip ROUND, finite ones
    # keep the +0 normalizer)
    registry.load_all()
    assert "ROUND(raw, 6) + 0" in registry.ORACLES["llm_random_projection"]
    sdf = registry.QUERIES["llm_random_projection"](
        spark, SF_DIR
    )
    for r in sdf.collect():
        assert not (
            r["proj"] == 0.0 and math.copysign(1.0, r["proj"]) < 0
        ), f"-0.0 leaked from the Spark side at vec {r['vec_id']}"
