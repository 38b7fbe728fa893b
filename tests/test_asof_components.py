"""As-of join semantics and connected-components convergence."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_excel_csv_sql_spark.operators.asof import asof_join
from etl_excel_csv_sql_spark.operators.dedup import (
    connected_components_star,
    dedup_keep_first,
)


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", "2024-01-10 12:00:00"),
            (2, "u1", "2024-01-01 00:00:00"),  # before any right row
            (3, "u2", "2024-01-10 12:00:00"),
        ],
        ["lid", "key", "ts_s"],
    ).select("lid", "key", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [
            ("u1", "2024-01-05 00:00:00", 100, "old"),
            ("u1", "2024-01-09 00:00:00", 200, "newer"),
            ("u1", "2024-01-09 00:00:00", 300, "tie-winner"),  # same ts, bigger id
            ("u1", "2024-01-11 00:00:00", 400, "future"),      # after left ts
            ("u2", "2024-01-02 00:00:00", 500, "only"),
        ],
        ["key", "rts_s", "rid", "label"],
    ).select("key", F.col("rts_s").cast("timestamp").alias("rts"), "rid", "label")
    return left, right


def test_asof_picks_latest_at_or_before_with_tiebreak(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, "key", "key", "ts", "rts",
        right_value_cols=["rid", "label"], tiebreak_col="rid", how="inner",
    )
    rows = {r.lid: r for r in out.collect()}
    assert rows[1].asof_rid == 300 and rows[1].asof_label == "tie-winner"
    assert rows[3].asof_rid == 500
    assert 2 not in rows  # inner: no right row at-or-before


def test_asof_left_keeps_unmatched(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, "key", "key", "ts", "rts",
        right_value_cols=["rid"], tiebreak_col="rid", how="left",
    )
    rows = {r.lid: r for r in out.collect()}
    assert len(rows) == 3 and rows[2].asof_rid is None


def test_asof_null_left_columns_still_match(spark):
    """ADVICE r2: the old rejoin used a USING join over every left column,
    so a NULL in ANY left payload column silently dropped the match. The
    surrogate-id rejoin must be null-proof."""
    left = spark.createDataFrame(
        [(1, None, "u1", "2024-01-10 12:00:00")],
        "lid INT, note STRING, key STRING, ts_s STRING",
    ).select(
        "lid", "note", "key", F.col("ts_s").cast("timestamp").alias("ts")
    )
    _, right = _frames(spark)
    out = asof_join(
        left, right, "key", "key", "ts", "rts",
        right_value_cols=["rid"], tiebreak_col="rid", how="left",
    ).collect()
    assert len(out) == 1
    assert out[0].note is None and out[0].asof_rid == 300


def test_asof_duplicate_left_rows_keep_cardinality(spark):
    """ADVICE r2: 'inner' used to groupBy all left columns, collapsing
    identical left rows. Each duplicate must keep its own match row."""
    left = spark.createDataFrame(
        [("u1", "2024-01-10 12:00:00")] * 3,
        ["key", "ts_s"],
    ).select("key", F.col("ts_s").cast("timestamp").alias("ts"))
    _, right = _frames(spark)
    for how, expected in (("inner", 3), ("left", 3)):
        out = asof_join(
            left, right, "key", "key", "ts", "rts",
            right_value_cols=["rid"], tiebreak_col="rid", how=how,
        ).collect()
        assert len(out) == expected, (how, out)
        assert all(r.asof_rid == 300 for r in out)


def test_asof_max_lookback_bounds_matches(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, "key", "key", "ts", "rts",
        right_value_cols=["rid"], tiebreak_col="rid",
        max_lookback=F.expr("INTERVAL 2 DAYS"), how="inner",
    )
    rows = {r.lid: r for r in out.collect()}
    # lid=1 at 01-10: window [01-08, 01-10] still catches the 01-09 rows
    assert rows[1].asof_rid == 300
    # lid=3 at 01-10: u2's only row (01-02) is outside the 2-day window
    assert 3 not in rows


def test_connected_components_chain_and_clusters(spark):
    # chain 1-2-3-4-5 (diameter 4) + separate pair (10, 11)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    )
    comp = {
        r.id: r.component for r in connected_components_star(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_dedup_keep_first_drops_losers_only(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 3), (3, 4)], ["id_a", "id_b"])
    kept = sorted(
        r.doc_id for r in dedup_keep_first(docs, pairs, "doc_id").collect()
    )
    assert kept == [0, 1, 2, 5]  # 3 and 4 fold into keeper 0


def test_dedup_keep_first_chain(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], ["doc_id", "text"]
    )
    # a chain (worst case for diameter-bounded solvers) + an isolate pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8)], ["id_a", "id_b"]
    )
    kept = sorted(
        r.doc_id for r in dedup_keep_first(docs, pairs, "doc_id").collect()
    )
    assert kept == [0, 1, 6, 7, 9]


def _comp_map(df):
    return {r.id: r.component for r in df.collect()}


def _union_find_components(edges) -> dict:
    """Reference answer: min node id of each component, by union-find."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_star_components_match_union_find(spark):
    import random

    # the chain is diameter 29 by default — far beyond the solver's
    # O(log n) round budget; full-length chain under
    # SPARK_GRAFT_FULL_TESTS=1
    chain_len = 60 if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1" else 30
    cases = {
        "chain": (
            [(i, i + 1) for i in range(1, chain_len)],
            {i: 1 for i in range(1, chain_len + 1)},
        ),
        "clusters": (
            [(0, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
            {0: 0, 3: 0, 4: 0, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20},
        ),
    }
    rand = [
        (random.Random(3).randrange(100), random.Random(3 + i).randrange(100))
        for i in range(80)
    ]
    rand = [(a, b) for a, b in rand if a != b]
    cases["random"] = (rand, _union_find_components(rand))
    for name, (raw, want) in cases.items():
        pairs = spark.createDataFrame(raw, ["id_a", "id_b"])
        assert _comp_map(connected_components_star(pairs)) == want, name


def test_star_components_max_centered_star_not_accepted(spark):
    # ADVICE r9 (high): the star-forest probe accepted MAX-centered
    # stars — pairs (1,5),(2,5) have down-edges (5,1),(5,2) whose
    # targets are roots, so the old target-has-no-down-edge check broke
    # before any round ran, and the min-centered read-off returned
    # {1:1, 2:2, 5:1} (node 2 stranded). The strengthened probe also
    # requires every down-edge source to have out-degree 1.
    pairs = spark.createDataFrame([(1, 5), (2, 5)], ["id_a", "id_b"])
    star = _comp_map(connected_components_star(pairs))
    assert star == {1: 1, 2: 1, 5: 1}

    # shared-leaf path c1-u-c2 (c1<c2<u): both down-edges target roots,
    # same false-accept shape; out-degree(7) = 2 must reject it too
    pairs2 = spark.createDataFrame([(7, 1), (7, 4)], ["id_a", "id_b"])
    star2 = _comp_map(connected_components_star(pairs2))
    assert star2 == {1: 1, 4: 1, 7: 1}

    # keep-first on the max-centered star must drop BOTH dups, not
    # silently keep row 2
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    kept = sorted(
        r.doc_id for r in dedup_keep_first(docs, pairs, "doc_id").collect()
    )
    assert kept == [0, 1, 3, 4]

    # a genuinely min-centered star forest must still converge with ZERO
    # rounds (probe passes immediately) and read off correctly
    pairs3 = spark.createDataFrame(
        [(1, 5), (1, 6), (10, 12)], ["id_a", "id_b"]
    )
    star3 = _comp_map(connected_components_star(pairs3))
    assert star3 == {1: 1, 5: 1, 6: 1, 10: 10, 12: 10}


def test_star_components_chain_converges_in_log_rounds(spark):
    # 120-node chain: diameter 119, but log-round convergence must finish
    # well within 10 alternating rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 120)], ["id_a", "id_b"]
    )
    comp = _comp_map(connected_components_star(pairs, max_rounds=10))
    assert set(comp.values()) == {1} and len(comp) == 120


def test_funnel_requires_strict_order(spark):
    from etl_excel_csv_sql_spark.operators.events import funnel

    rows = [
        # user 1 completes in order
        ("2024-01-01 10:00:00", 1, "view"),
        ("2024-01-01 10:05:00", 1, "click"),
        ("2024-01-01 10:10:00", 1, "purchase"),
        # user 2: purchase BEFORE click → stops at click
        ("2024-01-01 10:00:00", 2, "view"),
        ("2024-01-01 10:01:00", 2, "purchase"),
        ("2024-01-01 10:02:00", 2, "click"),
        # user 3: never views → not in funnel at all
        ("2024-01-01 10:00:00", 3, "click"),
    ]
    ev = spark.createDataFrame(rows, ["ts_s", "user_id", "event_type"]).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type"
    )
    got = {
        r.step: (r.users_reached, r.conversion_from_prev)
        for r in funnel(ev, ["view", "click", "purchase"]).collect()
    }
    assert got == {
        "view": (2, 1.0),
        "click": (2, 1.0),
        "purchase": (1, 0.5),
    }


def test_bucketed_range_join_inner_and_left(spark):
    from etl_excel_csv_sql_spark.operators.relational import bucketed_range_join

    points = spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 25.0), (4, 99.0), (5, None)],
        ["pid", "v"],
    )
    intervals = spark.createDataFrame(
        [(10, 0.0, 10.0), (20, 10.0, 30.0), (21, 20.0, 30.0)],
        ["band", "lo", "hi"],
    )
    inner = bucketed_range_join(points, intervals, "v", "lo", "hi", 10.0)
    got = sorted((r.pid, r.band) for r in inner.collect())
    # 25.0 lands in two overlapping bands; 99.0 and the null match nothing
    assert got == [(1, 10), (2, 20), (3, 20), (3, 21)]

    left = bucketed_range_join(points, intervals, "v", "lo", "hi", 10.0, how="left")
    rows = left.collect()
    assert len(rows) == 6  # 4 matches + 2 null-extended (99.0 and null v)
    unmatched = sorted(r.pid for r in rows if r.band is None)
    assert unmatched == [4, 5]
    # boundary semantics: hi is exclusive, lo inclusive
    edge = spark.createDataFrame([(9, 10.0)], ["pid", "v"])
    got_edge = sorted(
        (r.pid, r.band)
        for r in bucketed_range_join(edge, intervals, "v", "lo", "hi", 10.0).collect()
    )
    assert got_edge == [(9, 20)]


def test_bucketed_range_join_plan_is_hash_join(spark):
    from etl_excel_csv_sql_spark.operators.relational import bucketed_range_join

    points = spark.range(0, 1000).selectExpr("id AS pid", "CAST(id AS DOUBLE) AS v")
    intervals = spark.range(0, 50).selectExpr(
        "id AS band", "id * 20.0 AS lo", "id * 20.0 + 30.0 AS hi"
    )
    plan = (
        bucketed_range_join(points, intervals, "v", "lo", "hi", 20.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan  # the degenerate inequality-join shape


def test_multi_resolution_rollup_reaggregation_exact(spark):
    from etl_excel_csv_sql_spark.operators.events import multi_resolution_rollup
    from etl_excel_csv_sql_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    hourly, daily = multi_resolution_rollup(ev)
    # daily-from-hourly must equal daily-from-raw exactly
    from pyspark.sql import functions as F

    raw_daily = {
        (str(r.day_start), r.event_type): (r.n, float(r.s))
        for r in ev.groupBy(
            F.date_trunc("day", "ts").alias("day_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("s"),
        )
        .collect()
    }
    got = {
        (str(r.day_start), r.event_type): (r.n_events, float(r.sum_value))
        for r in daily.collect()
    }
    assert got == raw_daily and len(got) > 0
    # and hourly partials sum to the same totals
    assert hourly.agg(F.sum("n_events")).first()[0] == ev.count()


def test_skew_report_known_distribution(spark):
    """Keys a×6, b×3, d×3, c×1 → n_rows 13, n_keys 4, mean 3.25;
    a leads at share 6/13 and skew 6/3.25; the b/d tie breaks by key."""
    from etl_excel_csv_sql_spark.operators.relational import skew_report

    rows = [("a",)] * 6 + [("b",)] * 3 + [("d",)] * 3 + [("c",)]
    df = spark.createDataFrame(rows, ["k"])
    got = {r.rank: r for r in skew_report(df, "k", k=3).collect()}
    assert [got[i].key for i in (1, 2, 3)] == ["a", "b", "d"]
    assert got[1].cnt == 6 and got[1].n_rows == 13 and got[1].n_keys == 4
    assert got[1].share == round(6 / 13, 6)
    assert got[1].avg_per_key == round(13 / 4, 6)
    assert got[1].skew_ratio == round(6 / 3.25, 6)


def test_skew_report_null_key_ranks_last_among_ties(spark):
    """A null key is one group; on a count tie it must rank AFTER every
    non-null key (SQL NULLS LAST), not first (Spark's raw struct-null
    ordering) — ADVICE r5 #3."""
    from etl_excel_csv_sql_spark.operators.relational import skew_report

    rows = [("a",)] * 3 + [(None,)] * 2 + [("b",)] * 2 + [("c",)]
    df = spark.createDataFrame(rows, "k: string")
    got = {r.rank: r.key for r in skew_report(df, "k", k=4).collect()}
    # counts: a=3, b=2, null=2, c=1 → the b/null tie breaks b first
    assert got == {1: "a", 2: "b", 3: None, 4: "c"}


def test_skew_report_plan_single_shuffle_no_window(spark):
    from etl_excel_csv_sql_spark.operators.relational import skew_report

    df = spark.createDataFrame([(i % 7,) for i in range(100)], ["k"])
    plan = (
        skew_report(df, "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ------------------------------------------------------- direction variants


def test_asof_directional_matches_pandas_merge_asof(spark):
    """backward / forward / nearest vs pandas merge_asof on a corpus
    with ties and out-of-tolerance gaps."""
    import pandas as pd

    from etl_excel_csv_sql_spark.operators.asof import asof_join_directional

    left = pd.DataFrame(
        {
            "k": [1, 1, 1, 2, 2],
            "lts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 12:00", "2024-01-05 00:00",
                 "2024-01-02 09:00", "2024-01-02 11:00"]
            ),
            "lid": [10, 11, 12, 13, 14],
        }
    )
    right = pd.DataFrame(
        {
            "k": [1, 1, 1, 2],
            "rts": pd.to_datetime(
                ["2024-01-01 09:00", "2024-01-01 11:00", "2024-01-01 13:00",
                 "2024-01-02 10:00"]
            ),
            "rid": [100, 101, 102, 103],
        }
    )
    sl = spark.createDataFrame(left)
    sr = spark.createDataFrame(right)
    for direction in ("backward", "forward", "nearest"):
        got = {
            r["lid"]: r["asof_rid"]
            for r in asof_join_directional(
                sl, sr, "k", "k", "lts", "rts",
                direction=direction,
                tolerance=F.expr("INTERVAL 1 DAY"),
                right_value_cols=["rid"],
                tiebreak_col="rid",
                how="left",
            ).collect()
        }
        want_df = pd.merge_asof(
            left.sort_values("lts"),
            right.sort_values("rts"),
            left_on="lts", right_on="rts", by="k",
            direction=direction, tolerance=pd.Timedelta("1 day"),
        )
        want = {
            int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
            for r in want_df.itertuples()
        }
        assert got == want, direction


def test_asof_directional_string_tiebreak(spark):
    """Regression (ADVICE r7): forward/nearest negated the tiebreak column
    (-tb), silently casting a non-numeric tiebreak to double → null →
    nondeterministic tie resolution. The timestamp/delta keys now carry
    the negation, so a string tiebreak resolves by its natural MAX
    ordering in every direction."""
    from etl_excel_csv_sql_spark.operators.asof import asof_join_directional

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 10)], ["k", "lts", "lid"]
    ).withColumn("lts", F.to_timestamp("lts"))
    # two right rows at the SAME timestamp on each side of lts; within a
    # timestamp tie the max *string* label must win deterministically
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", "alpha"),
            (1, "2024-01-01 09:00:00", "zulu"),
            (1, "2024-01-01 11:00:00", "bravo"),
            (1, "2024-01-01 11:00:00", "yankee"),
        ],
        ["k", "rts", "label"],
    ).withColumn("rts", F.to_timestamp("rts"))
    for direction, want in (
        ("backward", "zulu"),
        ("forward", "yankee"),
        ("nearest", "zulu"),  # equal |Δt| resolves backward, then max tb
    ):
        rows = asof_join_directional(
            left, right, "k", "k", "lts", "rts",
            direction=direction,
            right_value_cols=["label"],
            tiebreak_col="label",
            how="inner",
        ).collect()
        assert len(rows) == 1 and rows[0]["asof_label"] == want, direction


def test_asof_tiebreak_not_in_value_cols(spark):
    """The tiebreak column must resolve even when the caller doesn't
    surface it as a value column (used to raise AnalysisException)."""
    from etl_excel_csv_sql_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100)], "k int, ts int"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, 100, 1, "low"), (1, 100, 2, "high")], "k int, ts int, seq int, price string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "seq", "price")
    got = asof_join(
        left, right, "k", "k", "ts", "ts",
        right_value_cols=["price"], tiebreak_col="seq",
    ).collect()
    assert len(got) == 1 and got[0].asof_price == "high"  # max tiebreak wins


def test_asof_empty_value_cols_means_only_ts(spark):
    """right_value_cols=[] must surface ONLY asof_ts — the falsy-empty
    `or` default silently surfaced every right column."""
    from etl_excel_csv_sql_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100)], "k int, ts int").select(
        "k", F.col("ts").cast("timestamp").alias("ts")
    )
    right = spark.createDataFrame(
        [(1, 50, 9.0)], "k int, ts int, price double"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "price")
    got = asof_join(left, right, "k", "k", "ts", "ts", right_value_cols=[])
    assert got.columns == ["k", "ts", "asof_ts"]
    assert got.count() == 1


def test_asof_directional_numeric_ts(spark):
    """forward/nearest must accept the same orderable ts types backward
    does (unix_micros used to reject non-timestamp inputs)."""
    from etl_excel_csv_sql_spark.operators.asof import asof_join_directional

    left = spark.createDataFrame([(1, 100)], "k int, ts bigint")
    right = spark.createDataFrame(
        [(1, 90, "before"), (1, 120, "after")], "k int, ts bigint, tag string"
    )
    for direction, want in (("forward", "after"), ("nearest", "before")):
        got = asof_join_directional(
            left, right, "k", "k", "ts", "ts", direction=direction
        ).collect()
        assert got[0].asof_tag == want, direction


def test_star_components_non_nullable_ids_long_chain(spark):
    """r10: Catalyst's Union constraint rewrite crashes round 2 of the
    star solver ('key not found: u#N') when the pair columns are
    NON-NULLABLE — what parquet scans and spark.range produce; the
    nullable createDataFrame fixtures masked it. The solver's nullable
    when(isNotNull) projection sidesteps it without touching session
    conf. A 2000-node chain needs multiple alternating rounds, and ids
    from range() are non-nullable."""
    from pyspark.sql import functions as F

    pairs = spark.range(1, 2000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    assert not any(f.nullable for f in pairs.schema.fields)
    out = connected_components_star(pairs, max_rounds=25)
    assert out.where(F.col("component") != 1).count() == 0
    assert out.count() == 2000
    # no session-global conf was toggled to make that work
    assert (
        spark.conf.get("spark.sql.constraintPropagation.enabled") == "true"
    )
