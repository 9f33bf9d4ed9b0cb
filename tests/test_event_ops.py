"""Planted-data tests for the round-10 event/PII operators.

The cross-engine oracle (tests/test_oracle_parity.py + the driver gate)
checks these against DuckDB on the real tables; the tests here plant
the edge cases the synthetic tables cannot exhibit: out-of-order funnel
stages, malformed JSON, and actual PII-shaped spans.
"""

import hashlib
from datetime import datetime

import pytest

from cloud_volume_spark.operators.corpus import pii_redact
from cloud_volume_spark.operators.relational import (
    event_props_extract,
    events_funnel,
)


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet")
    return str(tmp_path)


def _ts(minute):
    return datetime(2024, 1, 1, 0, minute, 0)


def test_events_funnel_stage_order_is_enforced(spark, tmp_path):
    rows = [
        # user 1: clean view -> click -> purchase
        (1, _ts(10), 1, "view", 0.0, "{}"),
        (2, _ts(20), 1, "click", 0.0, "{}"),
        (3, _ts(30), 1, "purchase", 0.0, "{}"),
        # user 2: click BEFORE first view — funnel must not count it,
        # so the later purchase can't attach either
        (4, _ts(5), 2, "click", 0.0, "{}"),
        (5, _ts(10), 2, "view", 0.0, "{}"),
        (6, _ts(20), 2, "purchase", 0.0, "{}"),
        # user 3: purchase BEFORE first qualifying click
        (7, _ts(10), 3, "view", 0.0, "{}"),
        (8, _ts(15), 3, "purchase", 0.0, "{}"),
        (9, _ts(20), 3, "click", 0.0, "{}"),
        # user 4: never viewed — excluded from the funnel entirely
        (10, _ts(5), 4, "click", 0.0, "{}"),
        # user 5: second click qualifies even though the first doesn't
        (11, _ts(8), 5, "click", 0.0, "{}"),
        (12, _ts(10), 5, "view", 0.0, "{}"),
        (13, _ts(12), 5, "click", 0.0, "{}"),
        (14, _ts(14), 5, "purchase", 0.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {r["user_id"]: r for r in events_funnel(spark, sf).collect()}

    assert set(got) == {1, 2, 3, 5}
    assert got[1]["funnel_depth"] == 3
    assert got[2]["funnel_depth"] == 1
    assert got[2]["click_epoch"] is None
    assert got[2]["purchase_epoch"] is None
    assert got[3]["funnel_depth"] == 2
    assert got[3]["purchase_epoch"] is None
    assert got[5]["funnel_depth"] == 3
    # the qualifying click is the 00:12 one, not the pre-view 00:08 one
    assert got[5]["click_epoch"] == int(_ts(12).timestamp())


def test_event_props_extract_degrades_malformed_json_to_null(spark, tmp_path):
    rows = [
        (1, _ts(1), 1, "click", 0.0, '{"k": 7}'),
        (2, _ts(2), 1, "click", 0.0, "not json at all"),
        (3, _ts(3), 1, "click", 0.0, None),
        (4, _ts(4), 1, "click", 0.0, '{"j": 1}'),       # key missing
        (5, _ts(5), 1, "click", 0.0, '{"k": "abc"}'),   # non-numeric
        (6, _ts(6), 1, "click", 0.0, '{"k": 35}'),
    ]
    sf = _write_events(spark, tmp_path, rows)
    row = event_props_extract(spark, sf).collect()[0]
    assert row["n_events"] == 6
    assert row["n_with_k"] == 2
    assert row["k_min"] == 7 and row["k_max"] == 35 and row["k_sum"] == 42


def test_pii_redact_planted_spans(spark):
    docs = spark.createDataFrame(
        [
            (1, "contact user1234@example.com or call 555.1234 x99"),
            (2, "no pii here at all"),
            (3, "ids 0001 and 123456789 appear"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_redact(docs).collect()}

    # email swallowed whole (digits inside it must NOT double-count);
    # "555.1234" has no 4+ digit run on either side of the dot except
    # "1234"
    assert got[1]["n_redactions"] == 2
    expected1 = "contact <EMAIL> or call 555.<NUMBER> x99"
    assert got[1]["redacted_md5"] == hashlib.md5(
        expected1.encode()).hexdigest()

    assert got[2]["n_redactions"] == 0
    assert got[2]["redacted_md5"] == hashlib.md5(
        b"no pii here at all").hexdigest()

    assert got[3]["n_redactions"] == 2
    expected3 = "ids <NUMBER> and <NUMBER> appear"
    assert got[3]["redacted_md5"] == hashlib.md5(
        expected3.encode()).hexdigest()


def test_funnel_hot_key_bounded_state(spark, tmp_path):
    """r15 skew guard (guide §5): a single pathological user replaying
    the same later-stage events at scale (retries / refresh loops /
    at-least-once delivery — the realistic hot key) must not blow up
    the per-key aggregation buffer. The later-stage accumulator is a
    collect_SET: 200k click events over 40 distinct timestamps cost 40
    buffer entries, not 200k, and the funnel result is exactly what
    the 40 distinct instants imply. (A key with unboundedly many
    DISTINCT timestamps still grows the buffer — documented in
    funnel(); this test pins the dedup guard and the exactness of the
    chained minimum under heavy duplication.)"""
    from pyspark.sql import functions as F

    from cloud_volume_spark.operators.relational import funnel

    hot = spark.range(200_000).select(
        (F.col("id") + 100).alias("event_id"),
        # 40 distinct minutes, each repeated 5k times
        F.to_timestamp(F.concat(
            F.lit("2024-01-01 01:"),
            F.lpad(((F.col("id") % 40) + 10).cast("string"), 2, "0"),
            F.lit(":00"))).alias("ts"),
        F.lit(7).cast("long").alias("user_id"),
        F.lit("click").cast("string").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    head = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 1, 0, 0), 7, "view", 0.0, "{}"),
         (2, datetime(2024, 1, 1, 2, 0, 0), 7, "purchase", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string")
    events = head.unionByName(hot)
    got = {r["user_id"]: r for r in funnel(
        events, ("view", "click", "purchase")).collect()}
    # first click at-or-after the 01:00 view is 01:10; purchase after
    assert got[7]["funnel_depth"] == 3
    assert got[7]["click_epoch"] == int(
        datetime(2024, 1, 1, 1, 10, 0).timestamp())
    assert got[7]["purchase_epoch"] == int(
        datetime(2024, 1, 1, 2, 0, 0).timestamp())


def test_funnel_generalizes_to_n_stages(spark, tmp_path):
    """The N-stage core: a 4-stage funnel enforces the same
    at-or-after chain at every hop, with per-stage epochs and depth."""
    from cloud_volume_spark.operators.relational import funnel

    rows = [
        # user 1 completes all four stages in order
        (1, _ts(5), 1, "signup", 0.0, "{}"),
        (2, _ts(10), 1, "view", 0.0, "{}"),
        (3, _ts(20), 1, "click", 0.0, "{}"),
        (4, _ts(30), 1, "purchase", 0.0, "{}"),
        # user 2 skips click: purchase cannot attach
        (5, _ts(5), 2, "signup", 0.0, "{}"),
        (6, _ts(10), 2, "view", 0.0, "{}"),
        (7, _ts(30), 2, "purchase", 0.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    events = spark.read.parquet(f"{sf}/events.parquet")
    got = {r["user_id"]: r for r in funnel(
        events, ("signup", "view", "click", "purchase")).collect()}
    assert got[1]["funnel_depth"] == 4
    assert got[1]["purchase_epoch"] == int(_ts(30).timestamp())
    assert got[2]["funnel_depth"] == 2
    assert got[2]["click_epoch"] is None
    assert got[2]["purchase_epoch"] is None


def test_top_paths_tie_break_and_user_isolation(spark, tmp_path):
    """Path mining edge cases the synthetic table can't exhibit:
    equal timestamps order on event_id (the sessionizer's tie rule),
    paths never cross users, and a user with < n events contributes
    nothing."""
    from cloud_volume_spark.operators.relational import top_paths

    rows = [
        # user 1: a>b>c with b,c at the SAME ts — event_id decides
        (1, _ts(0), 1, "a", 0.0, "{}"),
        (2, _ts(5), 1, "b", 0.0, "{}"),
        (3, _ts(5), 1, "c", 0.0, "{}"),
        # user 2: only two events — no trigram
        (4, _ts(0), 2, "x", 0.0, "{}"),
        (5, _ts(5), 2, "y", 0.0, "{}"),
        # user 3: a>b>c again (so the top path has count 2)
        (6, _ts(0), 3, "a", 0.0, "{}"),
        (7, _ts(1), 3, "b", 0.0, "{}"),
        (8, _ts(2), 3, "c", 0.0, "{}"),
        # NULL rows are dropped (never a shortened concat_ws path or
        # an engine-divergent NULLS FIRST/LAST window position)
        (9, None, 3, "q", 0.0, "{}"),
        (10, _ts(3), 3, None, 0.0, "{}"),
        # NULL event_id on a TIED ts: the tie-breaker itself sorts
        # NULLS FIRST in Spark and NULLS LAST in DuckDB, so the row is
        # dropped at the edge (round-10 advice) — were it kept, user 1
        # would mine a>b>z or a>z>b depending on the engine
        (None, _ts(5), 1, "z", 0.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    events = spark.read.parquet(f"{sf}/events.parquet")
    got = [(r["path"], r["n_paths"]) for r in
           top_paths(events, n=3, k=10).collect()]
    # nothing like y>a>b (cross-user) or x>y>? (short user) appears
    assert got == [("a>b>c", 2)]
    # bigram form sees user 2 and both same-user transitions
    got2 = {r["path"]: r["n_paths"] for r in
            top_paths(events, n=2, k=10).collect()}
    assert got2 == {"a>b": 2, "b>c": 2, "x>y": 1}
    # k truncates on (count desc, path asc): deterministic boundary
    top1 = top_paths(events, n=2, k=1).collect()
    assert [(r["path"], r["n_paths"]) for r in top1] == [("a>b", 2)]


def test_snapshot_diff_planted_statuses(spark):
    """snapshot_diff core: each status class planted, unchanged rows
    dropped, digests reported from the side that has them."""
    import hashlib

    from cloud_volume_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will be removed"),
         (5, None), (6, None)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new"),
         (5, None), (6, "filled in")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in snapshot_diff(old, new).collect()}
    # 5 (NULL→NULL) is unchanged — a NULL payload hashes as the empty
    # doc, never as absence; 6 (NULL→text) is changed, not added
    assert set(got) == {2, 3, 4, 6}
    assert got[2]["status"] == "changed"
    assert got[2]["old_hash"] == hashlib.md5(b"will change").hexdigest()
    assert got[2]["new_hash"] == hashlib.md5(b"changed!").hexdigest()
    assert got[3]["status"] == "removed" and got[3]["new_hash"] is None
    assert got[4]["status"] == "added" and got[4]["old_hash"] is None
    assert got[6]["status"] == "changed"
    assert got[6]["old_hash"] == hashlib.md5(b"").hexdigest()


def test_top_paths_matches_python_model_randomized(spark, tmp_path):
    """Randomized cross-check against a 15-line pure-Python model:
    random event logs with NULL ts/type rows and heavy ts ties must
    produce identical full path counts (k large enough to disable the
    top-k truncation, so the whole distribution is compared)."""
    import numpy as np

    from cloud_volume_spark.operators.relational import top_paths

    rng = np.random.default_rng(42)
    n_ev, n_users, types = 3000, 40, list("abcde")
    rows = []
    for eid in range(n_ev):
        ts = (None if rng.random() < 0.02
              else _ts(int(rng.integers(0, 50))))  # few minutes → ties
        et = None if rng.random() < 0.02 else types[rng.integers(0, 5)]
        rows.append((eid, ts, int(rng.integers(0, n_users)), et, 0.0, "{}"))
    sf = _write_events(spark, tmp_path, rows)
    events = spark.read.parquet(f"{sf}/events.parquet")

    # pure-Python model: per user sort by (ts, event_id), drop NULLs,
    # count consecutive trigrams
    from collections import Counter, defaultdict
    per_user = defaultdict(list)
    for eid, ts, uid, et, _, _ in rows:
        if ts is not None and et is not None:
            per_user[uid].append((ts, eid, et))
    model = Counter()
    for seq in per_user.values():
        seq.sort()
        for i in range(len(seq) - 2):
            model[">".join(s[2] for s in seq[i:i + 3])] += 1

    got = {r["path"]: r["n_paths"]
           for r in top_paths(events, n=3, k=10 ** 9).collect()}
    assert got == dict(model)


def test_snapshot_diff_matches_python_model_randomized(spark):
    """Randomized diff vs a dict model: random membership and payloads
    (including NULLs and empty strings) classify identically."""
    import numpy as np

    from cloud_volume_spark.operators.corpus import snapshot_diff

    rng = np.random.default_rng(7)
    def snap():
        out = {}
        for i in range(300):
            if rng.random() < 0.7:
                r = rng.random()
                out[i] = (None if r < 0.1 else
                          "" if r < 0.2 else
                          f"doc {int(rng.integers(0, 8))}")
        return out
    a, b = snap(), snap()
    model = {}
    for i in set(a) | set(b):
        if i not in a:
            model[i] = "added"
        elif i not in b:
            model[i] = "removed"
        elif (a[i] or "") != (b[i] or ""):
            model[i] = "changed"
    old = spark.createDataFrame(list(a.items()) or [(0, "x")],
                                "doc_id long, text string")
    new = spark.createDataFrame(list(b.items()) or [(0, "x")],
                                "doc_id long, text string")
    got = {r["doc_id"]: r["status"]
           for r in snapshot_diff(old, new).collect()}
    assert got == model


def test_event_props_extract_integer_literal_gate(spark, tmp_path):
    """Fractional / exponent / whitespace / overflow k values must be
    excluded IDENTICALLY by both engines (duckdb TRY_CAST rounds '1.5'
    where Spark NULLs it — the shared regexp gate is the contract)."""
    import duckdb

    from cloud_volume_spark.operators.relational import EVENT_PROPS_SQL

    rows = [
        (1, _ts(1), 1, "click", 0.0, '{"k": 7}'),
        (2, _ts(2), 1, "click", 0.0, '{"k": 1.5}'),      # fractional
        (3, _ts(3), 1, "click", 0.0, '{"k": 1e3}'),      # exponent
        (4, _ts(4), 1, "click", 0.0, '{"k": " 8"}'),     # whitespace
        (5, _ts(5), 1, "click", 0.0, '{"k": "+9"}'),     # signed-plus
        (6, _ts(6), 1, "click", 0.0, '{"k": -3}'),       # negative ok
        (7, _ts(7), 1, "click", 0.0,
         '{"k": 99999999999999999999999}'),              # overflows
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = event_props_extract(spark, sf).collect()[0]
    assert got["n_with_k"] == 2
    assert got["k_min"] == -3 and got["k_max"] == 7 and got["k_sum"] == 4

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf}/events.parquet/*.parquet'")
    o = con.execute(EVENT_PROPS_SQL).fetchone()
    # (event_type, n_events, n_with_k, k_min, k_max, k_sum)
    assert o[2] == 2 and o[3] == -3 and o[4] == 7 and o[5] == 4


def test_top_paths_rejects_n_below_two(spark, tmp_path):
    from cloud_volume_spark.operators.relational import top_paths

    sf = _write_events(spark, tmp_path, [(1, _ts(0), 1, "a", 0.0, "{}")])
    events = spark.read.parquet(f"{sf}/events.parquet")
    with pytest.raises(ValueError, match="n >= 2"):
        top_paths(events, n=1)


def test_top_paths_unbounded_k_avoids_in_memory_top_k(spark, tmp_path):
    """An in-memory top-k preallocates 2k slots per task, so k=10**9
    (16 GB a task) must plan as a sort + limit; the registered k=20
    stays a TakeOrderedAndProject."""
    from cloud_volume_spark.operators.relational import top_paths

    sf = _write_events(spark, tmp_path, [(1, _ts(0), 1, "a", 0.0, "{}")])
    events = spark.read.parquet(f"{sf}/events.parquet")

    def plan(k):
        q = top_paths(events, n=2, k=k)
        return q._jdf.queryExecution().executedPlan().toString()

    assert "TakeOrderedAndProject" in plan(20)
    assert "TakeOrderedAndProject" not in plan(10 ** 9)


def test_funnel_rejects_duplicate_stages(spark, tmp_path):
    """A repeated stage would join two identically-named <stage>_ts
    frames (ambiguous reference at best); both funnel forms refuse."""
    from cloud_volume_spark.operators.relational import funnel
    from cloud_volume_spark.streaming import streaming_funnel

    sf = _write_events(spark, tmp_path, [(1, _ts(0), 1, "view", 0.0, "{}")])
    events = spark.read.parquet(f"{sf}/events.parquet")
    with pytest.raises(ValueError, match="duplicate stage"):
        funnel(events, ("view", "click", "view"))
    with pytest.raises(ValueError, match="duplicate stage"):
        streaming_funnel(events, ("view", "click", "view"))
