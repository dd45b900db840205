"""Property-based tests (hypothesis): semantic invariants under
randomized inputs that example-based oracles can't sweep —
replay folding, incremental-merge equivalence, positional old-image
pairing with duplicate rows (the reference's indexOf bug, reference
node-consumer/index.js:255), and SimHash band completeness.
"""

from __future__ import annotations

import json

from hypothesis import given, settings, strategies as st

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.dedup import (
    SIMHASH_BANDS,
    SIMHASH_BITS,
)
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators import parse as P
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators.replay import current_state
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import delta, merge

# one op = (key, operation, value); seq index supplies the total order
_op = st.tuples(
    st.integers(min_value=0, max_value=3),
    st.sampled_from(["insert", "update", "delete"]),
    st.integers(min_value=0, max_value=999),
)
_oplog = st.lists(_op, min_size=1, max_size=25)


def _events_df(spark, ops):
    rows = [
        (f"2024-01-01 00:00:{i:02d}", "t", op, key, float(val), i, 0)
        for i, (key, op, val) in enumerate(ops)
    ]
    return spark.createDataFrame(
        rows,
        "ts_s string, table_name string, operation string, user_id long, "
        "value double, offset long, rownum int",
    ).selectExpr(
        "cast(ts_s as timestamp) as ts",
        "table_name",
        "operation",
        "user_id",
        "cast(value as decimal(18,2)) as value",
        "offset",
        "rownum",
    )


def _fold(ops):
    """Reference fold: last writer wins, delete removes the key."""
    state = {}
    for i, (key, op, val) in enumerate(ops):
        if op == "delete":
            state.pop(key, None)
        else:
            state[key] = (val, i)
    return {k: v for k, (v, _) in state.items()}


@settings(max_examples=12, deadline=None)
@given(ops=_oplog)
def test_replay_equals_sequential_fold(spark, ops):
    got = {
        r["user_id"]: int(r["value"])
        for r in current_state(
            _events_df(spark, ops),
            keys=["table_name", "user_id"],
            order_by=["ts", "offset", "rownum"],
        ).collect()
    }
    assert got == _fold(ops)


@settings(max_examples=8, deadline=None)
@given(ops=_oplog, cut=st.integers(min_value=0, max_value=25))
def test_incremental_merge_equals_batch_replay(spark, ops, cut):
    """Merging the log in two chunks — LATER chunk first (out-of-order
    delivery) — converges to the batch replay: order keys carry global
    positions and deletes persist as tombstones."""
    cut = min(cut, len(ops))
    df_all = _events_df(spark, ops)
    state = None
    for pred in (f"offset >= {cut}", f"offset < {cut}"):
        chunk = df_all.filter(pred)
        if chunk.count() == 0:
            continue
        state = merge.merge_state(
            state, chunk, keys=["table_name", "user_id"],
            order_by=["ts", "offset", "rownum"],
        )
    got = {
        r["user_id"]: int(r["value"]) for r in merge.live_state(state).collect()
    }
    assert got == _fold(ops)


@settings(max_examples=5, deadline=None)
@given(
    ops=_oplog,
    cut=st.integers(min_value=0, max_value=25),
    nb=st.sampled_from([1, 3, 8]),
)
def test_bucketed_merge_on_disk_converges_to_fold(spark, ops, cut, nb):
    """The full bucketed state machinery (bucket assignment, per-bucket
    copy-on-write versions, partition-pruned rewrite, bucket-union read)
    converges to the reference fold for ANY oplog, ANY batch split
    delivered LATER-CHUNK-FIRST, and ANY bucket count — bucketing must
    be invisible to the merge semantics."""
    import tempfile
    from pathlib import Path

    cut = min(cut, len(ops))
    df_all = _events_df(spark, ops)
    state = str(Path(tempfile.mkdtemp()) / "state")
    epoch = 0
    for pred in (f"offset >= {cut}", f"offset < {cut}"):
        chunk = df_all.filter(pred)
        if chunk.count() == 0:
            continue
        delta.epoch_sink(state, merge.merge_state, merge.STATE_KEYS, nb)(chunk, epoch)
        epoch += 1
    got = {
        r["user_id"]: int(r["value"])
        for r in merge.live_state(merge.read_state(spark, state)).collect()
    }
    assert got == _fold(ops)


@settings(max_examples=8, deadline=None)
@given(ops=_oplog, cut=st.integers(min_value=1, max_value=24))
def test_tombstone_expiry_preserves_fold_for_in_horizon_streams(spark, ops, cut):
    """Replay-horizon tombstone GC never changes the answer for any
    stream that respects the horizon: merging in event-time order with
    a horizon SHORTER than the log (expiry actually fires) yields the
    same live state as the reference fold — an expired tombstone's key
    can only stay deleted, never resurrect, because every event that
    could have revived it is older than the horizon and thus cannot be
    delivered."""
    horizon_ms = 5_000  # log spans up to 25 s -> expiry fires
    cut = min(cut, len(ops))
    df_all = _events_df(spark, ops)
    state = None
    # in-order delivery: chunk watermarks are monotone, so no delivered
    # event is ever older than (watermark - horizon) of a prior merge
    for pred in (f"offset < {cut}", f"offset >= {cut}"):
        chunk = df_all.filter(pred)
        if chunk.count() == 0:
            continue
        wm = chunk.agg({"ts": "max"}).collect()[0][0]
        state = merge.merge_state(
            state, chunk, keys=["table_name", "user_id"],
            order_by=["ts", "offset", "rownum"],
            tombstone_horizon_ms=horizon_ms,
            watermark_ms=int(wm.timestamp() * 1000),
        )
    got = {
        r["user_id"]: int(r["value"]) for r in merge.live_state(state).collect()
    }
    assert got == _fold(ops)


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=5), min_size=1, max_size=4
    )
)
def test_old_image_pairs_by_position_even_with_duplicates(spark, vals):
    """UPDATE envelopes pair data[i] with old[i] strictly by position.
    With duplicate rows in data, the reference's indexOf picks the
    first match (reference node-consumer/index.js:255) — posexplode
    must not."""
    data = [{"id": str(v), "value": "1.0"} for v in vals]  # dups likely
    old = [{"value": str(float(i))} for i in range(len(vals))]
    env = {
        "id": 1, "database": "testdb", "table": "t", "type": "UPDATE",
        "es": 1700000000000, "ts": 1700000000100, "sql": None,
        "data": data, "old": old,
    }
    raw = spark.createDataFrame(
        [(json.dumps(env), 0, 0)], "value string, partition int, offset long"
    )
    out = P.normalized_events(raw).select("rownum", "old_data").collect()
    assert len(out) == len(vals)
    for r in out:
        assert r["old_data"]["value"] == str(float(r["rownum"]))


@settings(max_examples=300)
@given(
    base=st.integers(min_value=0, max_value=2**SIMHASH_BITS - 1),
    flips=st.sets(
        st.integers(min_value=0, max_value=SIMHASH_BITS - 1), max_size=3
    ),
)
def test_simhash_banding_catches_all_hamming3_pairs(base, flips):
    """Pigeonhole property the candidate join relies on: any pair
    within hamming distance 3 shares at least one of the 4 bands."""
    other = base
    for b in flips:
        other ^= 1 << b
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    shared = any(
        (base >> (i * width)) & mask == (other >> (i * width)) & mask
        for i in range(SIMHASH_BANDS)
    )
    assert shared


# --- as-of join and range join vs pure-Python references ----------------

_asof_left = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=15
)
_asof_right = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 99)),
    min_size=0,
    max_size=15,
    unique_by=lambda r: (r[0], r[1]),  # unique per (key, ts): operator contract
)


@given(_asof_left, _asof_right)
@settings(max_examples=10, deadline=None)
def test_asof_join_matches_reference(spark, left_rows, right_rows):
    """asof_join == argmax over {right | same key, right.ts <= left.ts}
    (inclusive), NULL when the set is empty."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)], "lid long, k long, t long"
    ).selectExpr("lid", "k", "timestamp_micros(t) as t")
    right = spark.createDataFrame(
        right_rows or [], "k long, rt long, payload long"
    ).selectExpr("k", "timestamp_micros(rt) as rt", "payload")

    out = {
        r["lid"]: (r["asof"]["payload"] if r["asof"] else None)
        for r in asof_join(
            left, right, on=["k"], left_ts="t", right_ts="rt",
            payload_cols=["payload"],
        ).collect()
    }
    for i, (k, t) in enumerate(left_rows):
        cands = [(rt, p) for (rk, rt, p) in right_rows if rk == k and rt <= t]
        expect = max(cands)[1] if cands else None
        assert out[i] == expect, (i, k, t, cands)


_points = st.lists(st.integers(0, 5000), min_size=1, max_size=15)
_ivals = st.lists(
    st.tuples(st.integers(0, 5000), st.integers(0, 3000)), min_size=0, max_size=10
)


@given(_points, _ivals, st.sampled_from([1, 7, 600]))
@settings(max_examples=10, deadline=None)
def test_range_join_matches_reference(spark, pts, ivals, bucket_s):
    """Bucketized point-in-interval join returns exactly the pairs with
    start <= p < end, for any bucket size (correctness never depends
    on the bucket)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators.range_join import (
        point_in_interval_join,
    )

    points = spark.createDataFrame(
        [(i, p * 1_000_000) for i, p in enumerate(pts)], "pid long, pt long"
    ).selectExpr("pid", "timestamp_micros(pt) as pt")
    intervals = spark.createDataFrame(
        [(j, s * 1_000_000, (s + d) * 1_000_000) for j, (s, d) in enumerate(ivals)],
        "iid long, st long, en long",
    ).selectExpr("iid", "timestamp_micros(st) as st", "timestamp_micros(en) as en")

    got = {
        (r["pid"], r["iid"])
        for r in point_in_interval_join(
            points, intervals, "pt", "st", "en", bucket_seconds=bucket_s
        ).collect()
    }
    expect = {
        (i, j)
        for i, p in enumerate(pts)
        for j, (s, d) in enumerate(ivals)
        if s <= p < s + d
    }
    assert got == expect


# --- round-3 additions: simhash fold, packed hamming, bigram counts -----


def _py_simhash(tokens: list[str]) -> str:
    """Pure-Python SimHash reference: dimension d (1-based) is hex digit
    d of sha256(token); high-bit digit (>= '8') votes +1, else -1."""
    import hashlib

    votes = [0] * SIMHASH_BITS
    for t in tokens:
        h = hashlib.sha256(t.encode()).hexdigest()
        for d in range(SIMHASH_BITS):
            votes[d] += 1 if h[d] >= "8" else -1
    return "".join("1" if v >= 0 else "0" for v in votes)


_token = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126, exclude_characters=" "),
    min_size=1,
    max_size=8,
)


@given(st.lists(_token, min_size=1, max_size=12))
@settings(max_examples=15, deadline=None)
def test_simhash_matches_python_reference(spark, tokens):
    """The single-fold signature (rewritten in round 3 to dodge the
    CollapseProject lambda-inlining trap) must still compute the
    documented per-token-hash vote semantics exactly."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.dedup import (
        with_simhash,
    )

    df = spark.createDataFrame([(" ".join(tokens),)], "text string")
    got = with_simhash(df).select("simhash").first()[0]
    assert got == _py_simhash(tokens)


@given(
    a=st.integers(min_value=0, max_value=2**SIMHASH_BITS - 1),
    b=st.integers(min_value=0, max_value=2**SIMHASH_BITS - 1),
)
@settings(max_examples=10, deadline=None)
def test_packed_hamming_equals_bitstring_hamming(spark, a, b):
    """bit_count(xor) over the conv-packed 2x32-bit halves must equal
    the naive bitstring hamming distance for arbitrary signatures."""
    sa = format(a, f"0{SIMHASH_BITS}b")
    sb = format(b, f"0{SIMHASH_BITS}b")
    df = spark.createDataFrame([(sa, sb)], "sim_a string, sim_b string")
    got = df.selectExpr(
        "bit_count(cast(conv(substring(sim_a, 1, 32), 2, 10) as bigint)"
        " ^ cast(conv(substring(sim_b, 1, 32), 2, 10) as bigint))"
        " + bit_count(cast(conv(substring(sim_a, 33, 32), 2, 10) as bigint)"
        " ^ cast(conv(substring(sim_b, 33, 32), 2, 10) as bigint)) as h"
    ).first()[0]
    assert got == bin(a ^ b).count("1")


@given(st.lists(st.lists(_token, min_size=1, max_size=6), min_size=1, max_size=5))
@settings(max_examples=10, deadline=None)
def test_bigram_counts_conserve_totals(spark, docs):
    """Sum of all bigram counts == sum over docs of (n_tokens - 1):
    the zip_with shifted-slice construction must not drop or duplicate
    pairs at array boundaries."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(" ".join(d),) for d in docs], "text string")
    big = df.select(
        F.explode(
            F.expr(
                "zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
                "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("bigram")
    )
    total = big.count()
    assert total == sum(len(d) - 1 for d in docs)


# --- funnel census: order-independence of the non-monotone stages --------

_funnel_event = st.tuples(
    st.sampled_from(["view", "click", "purchase"]),
    st.integers(min_value=0, max_value=50),
)


@given(
    st.lists(st.lists(_funnel_event, max_size=12), min_size=1, max_size=8),
    st.randoms(),
)
@settings(max_examples=30, deadline=None)
def test_funnel_stages_are_arrival_order_independent(spark, users, rng):
    """The funnel stage census (shared by q_funnel_stages and the
    stream's history fold) must count, for ANY arrival order of each
    user's events, exactly the users whose earliest-qualifying chain
    reaches each stage — the reason the stream keeps every user's full
    history instead of greedy scalars."""
    from pyspark.sql import functions as F

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.metrics import (
        funnel_stage_counts,
    )

    rows = [(u, e, t) for u, evs in enumerate(users) for e, t in evs]
    rng.shuffle(rows)
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, s long"
    ).select("user_id", "event_type", F.timestamp_seconds("s").alias("ts"))
    got = {r["stage"]: r["n_users"] for r in funnel_stage_counts(df).collect()}

    want = {"1_view": 0, "2_click": 0, "3_purchase": 0}
    for evs in users:
        v = min((t for e, t in evs if e == "view"), default=-1)
        c = min((t for e, t in evs if e == "click" and v != -1 and t > v), default=-1)
        p = min((t for e, t in evs if e == "purchase" and c != -1 and t > c), default=-1)
        want["1_view"] += v >= 0
        want["2_click"] += c >= 0
        want["3_purchase"] += p >= 0
    assert got == want


# --- delta-join identity: epoch split never double-counts a pair ----------

@given(
    st.lists(st.tuples(st.integers(0, 8), st.integers(0, 5)), max_size=20),
    st.lists(st.tuples(st.integers(0, 8), st.integers(0, 5)), max_size=20),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=100, deadline=None)
def test_delta_join_identity_counts_each_pair_once(left, right, n_epochs):
    """dJ_t = dL_t x R_<=t  UNION ALL  L_<t x dR_t over any epoch
    assignment must enumerate exactly the pairs of the direct join."""
    from collections import Counter

    direct = Counter()
    for i, (lk, le) in enumerate(left):
        for j, (rk, re_) in enumerate(right):
            if lk == rk:
                direct[(i, j)] += 1
    legs = Counter()
    for t in range(n_epochs):
        d_l = [(i, k) for i, (k, e) in enumerate(left) if e % n_epochs == t]
        r_upto = [(j, k) for j, (k, e) in enumerate(right) if e % n_epochs <= t]
        l_before = [(i, k) for i, (k, e) in enumerate(left) if e % n_epochs < t]
        d_r = [(j, k) for j, (k, e) in enumerate(right) if e % n_epochs == t]
        for i, lk in d_l:
            for j, rk in r_upto:
                if lk == rk:
                    legs[(i, j)] += 1
        for i, lk in l_before:
            for j, rk in d_r:
                if lk == rk:
                    legs[(i, j)] += 1
    assert legs == direct


# ---------------------------------------------------------------------------
# E27 KMV sketch: the bottom-K fold is a monoid (r6b)
# ---------------------------------------------------------------------------

_members = st.lists(
    st.tuples(st.sampled_from(["a", "b"]), st.integers(min_value=0, max_value=500)),
    min_size=1,
    max_size=80,
)


@settings(max_examples=6, deadline=None)
@given(_members, st.integers(min_value=1, max_value=4))
def test_kmv_bottom_k_fold_is_exact(spark, members, n_chunks):
    """bottom-K(S1 ∪ S2) == bottom-K(bottom-K(S1) ∪ bottom-K(S2)) for
    the repo's actual hash + tournament code — the identity every
    stream/partition fold of the sketch rests on, swept over random
    member multisets and arbitrary chunkings."""
    from pyspark.sql import functions as F

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import kmv as KMV

    def sketch_of(rows):
        df = spark.createDataFrame(rows, "member_set string, m long").select(
            "member_set", KMV.hash_key(F.col("m")).alias("hv")
        ).distinct()
        return KMV.bottom_k(df)

    direct = {
        (r["member_set"], r["hv"], r["rk"])
        for r in sketch_of(members).collect()
    }
    chunks = [members[i::n_chunks] for i in range(n_chunks)]
    partials = []
    for ch in chunks:
        if ch:
            partials.extend(
                (r["member_set"], r["hv"]) for r in sketch_of(ch).collect()
            )
    folded_df = spark.createDataFrame(
        list(set(partials)), "member_set string, hv long"
    )
    folded = {
        (r["member_set"], r["hv"], r["rk"])
        for r in KMV.bottom_k(folded_df).collect()
    }
    assert folded == direct


# ---------------------------------------------------------------------------
# X24 skyline: grid decomposition equals the O(n^2) dominance definition
# ---------------------------------------------------------------------------

_points = st.lists(
    st.tuples(st.integers(min_value=0, max_value=20), st.integers(min_value=0, max_value=20)),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(_points)
def test_pareto_frontier_matches_dominance_definition(spark, pts):
    """The grid + ordered-pass skyline must equal the brute-force NOT
    EXISTS dominance definition on random point sets (duplicates and
    price/size ties included — the edge cases the sort-filter
    decomposition must preserve)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.advanced_ops import (
        pareto_frontier,
    )

    rows = [(i, c, sz) for i, (c, sz) in enumerate(pts)]
    df = spark.createDataFrame(rows, "pid long, price_cents long, p_size int")
    got = {r["pid"] for r in pareto_frontier(df).collect()}
    want = {
        i
        for (i, c, sz) in rows
        if not any(
            (c2 <= c and s2 >= sz and (c2 < c or s2 > sz))
            for (_, c2, s2) in rows
        )
    }
    assert got == want


# ---------------------------------------------------------------------------
# X32 changepoint: argmax equals a brute-force reference
# ---------------------------------------------------------------------------

_series = st.lists(st.integers(min_value=0, max_value=10_000), min_size=2, max_size=25)


@settings(max_examples=8, deadline=None)
@given(_series)
def test_changepoint_matches_bruteforce(spark, ys):
    """The prefix-sum level-shift scan must pick the same split (and
    the same integer means) as a direct per-split recomputation,
    including ties (earliest split wins) and flat series."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.advanced_ops import (
        changepoint_from_daily,
    )

    rows = [(d, y) for d, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "day_num long, y long")
    got = changepoint_from_daily(df).collect()[0]

    n = len(ys)
    best = None
    for k in range(1, n):  # split after day k-1 (rk = k)
        ml = sum(ys[:k]) * 1000 // k
        mr = sum(ys[k:]) * 1000 // (n - k)
        cand = (abs(mr - ml), -(k - 1))  # tie -> earliest split day
        if best is None or cand > best[0]:
            best = (cand, (k - 1, ml, mr))
    (_, (day, ml, mr)) = best
    assert (
        got["split_day"],
        got["mean_left_mcents"],
        got["mean_right_mcents"],
        got["shift_mcents"],
    ) == (day, ml, mr, abs(mr - ml))


# ---------------------------------------------------------------------------
# E32 integer bit-surprise: length(bin(x)) - 1 IS floor(log2(x)) (r7b)
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=2**62), min_size=1, max_size=30))
def test_bit_surprise_is_floor_log2(spark, xs):
    """The perplexity filter's engine-portable surprise primitive —
    length(bin(x)) - 1 — must equal Python's exact int.bit_length - 1
    (= floor(log2 x)) for any positive int64, including powers of two
    and their neighbors, where a float log2 rounds the wrong way."""
    df = spark.createDataFrame([(x,) for x in xs], "x long").selectExpr(
        "x", "length(bin(x)) - 1 AS bits"
    )
    got = {r["x"]: r["bits"] for r in df.collect()}
    assert got == {x: x.bit_length() - 1 for x in xs}


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=200),     # n_tokens
            st.integers(min_value=0, max_value=1_000_000),  # stopword ppm
        ),
        min_size=1,
        max_size=40,
    )
)
def test_filter_sweep_retention_is_monotone_and_exact(spark, docs):
    """E33 invariants under random (n_tokens, ppm) corpora: the bucket
    rollup + grid cross-join sweep must equal the brute-force
    per-threshold filter at every cutoff, and retention must be
    nondecreasing in the threshold."""
    from pyspark.sql import functions as F

    m = spark.createDataFrame(docs, "n_tokens long, stopword_ppm long")
    buckets = (
        m.withColumn("bucket", F.expr("stopword_ppm div 100000"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("b_docs"),
            F.sum("n_tokens").alias("b_toks"),
        )
    )
    grid = spark.range(1, 11).select(
        (F.col("id") * 100000).alias("threshold_ppm"), F.col("id").alias("k")
    )
    kept = F.when(F.col("bucket") < F.col("k"), F.col("b_docs"))
    kept_t = F.when(F.col("bucket") < F.col("k"), F.col("b_toks"))
    swept = {
        r["threshold_ppm"]: (r["d"], r["t"])
        for r in grid.join(F.broadcast(buckets), how="cross")
        .groupBy("threshold_ppm")
        .agg(
            F.coalesce(F.sum(kept), F.lit(0)).alias("d"),
            F.coalesce(F.sum(kept_t), F.lit(0)).alias("t"),
        )
        .collect()
    }
    prev = (0, 0)
    for kk in range(1, 11):
        t = kk * 100000
        brute = (
            sum(1 for _, p in docs if p < t),
            sum(n for n, p in docs if p < t),
        )
        assert swept[t] == brute, (t, swept[t], brute)
        assert swept[t][0] >= prev[0] and swept[t][1] >= prev[1]
        prev = swept[t]


# --- X34/X35 recursive hierarchy vs direct Python recursion ----------------


def _tree_parent_py(k: int) -> int:
    """Pure-Python twin of advanced_ops._tree_parent / _TREE_PARENT_SQL."""
    import hashlib

    if k <= 0:
        return 0
    return int(hashlib.sha256(f"tree1_{k}".encode()).hexdigest()[:12], 16) % k


def _customer_forest():
    """(depths, bal_cents) for the sf0.001 customer sha forest, by
    direct per-node recursion — a third implementation independent of
    both the Spark pointer-doubling and the DuckDB WITH RECURSIVE."""
    import math

    import pyarrow.parquet as pq

    t = pq.read_table(
        "/root/testdata/sf0.001/customer.parquet",
        columns=["c_custkey", "c_acctbal"],
    ).to_pydict()
    keys = [int(k) for k in t["c_custkey"]]
    bal = {
        int(k): int(math.floor(b * 100 + 0.5))
        for k, b in zip(t["c_custkey"], t["c_acctbal"])
    }
    depth: dict[int, int] = {}

    def d(k: int) -> int:
        if k not in depth:
            depth[k] = 0 if k == 0 else 1 + d(_tree_parent_py(k))
        return depth[k]

    for k in keys:
        d(k)
    return keys, depth, bal


def test_hierarchy_depth_matches_python_recursion(spark):
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.advanced_ops import (
        q_hierarchy_depth,
    )

    keys, depth, bal = _customer_forest()
    want: dict[int, tuple[int, int]] = {}
    for k in keys:
        n, b = want.get(depth[k], (0, 0))
        want[depth[k]] = (n + 1, b + bal[k])
    got = {
        r["depth"]: (r["n_nodes"], r["bal_cents"])
        for r in q_hierarchy_depth(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want


def test_subtree_rollup_matches_python_recursion(spark):
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.advanced_ops import (
        q_subtree_rollup,
    )

    keys, _depth, bal = _customer_forest()
    roll = {k: [0, 0] for k in keys}
    for k in keys:
        cur = k
        while True:
            roll[cur][0] += 1
            roll[cur][1] += bal[k]
            if cur == 0:
                break
            cur = _tree_parent_py(cur)
    want = sorted(
        ((n, b, k) for k, (n, b) in roll.items()),
        key=lambda t: (-t[0], t[2]),
    )[:20]
    got = [
        (r["subtree_n"], r["subtree_bal_cents"], r["node"])
        for r in q_subtree_rollup(spark, "/root/testdata/sf0.001").collect()
    ]
    # result is top-20 by (subtree_n desc, node asc); compare as ordered sets
    assert sorted(got, key=lambda t: (-t[0], t[2])) == want


# --- quantized-cosine contract of the blocked all-pairs matmul ------------


def test_allpairs_cosine_quantization_contract(spark):
    """The neighbor-graph primitive behind E2e/E31 quantizes vector
    components to integer micro-units BEFORE any summation; every
    oracle over it must use the same formula (the r7b q_dbscan_roles
    sf0.1 mismatch was an oracle written with raw-double sums —
    threshold-boundary pairs landed at 2999 vs 3000). Pin the engine
    against an independent pure-python evaluation of the quantized
    formula over a seeded corpus, comparing the FULL pair set at a
    threshold low enough to include boundary-adjacent pairs."""
    import math
    import random

    import numpy as np

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.similarity import (
        allpairs_cosine_x10k,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]): r["cosine_x10k"]
        for r in allpairs_cosine_x10k(df, threshold_x10k=1000).collect()
    }

    units = {
        i: np.floor(np.asarray(v, dtype=np.float64) * 1_000_000 + 0.5).astype(
            np.int64
        )
        for i, v in rows
    }
    want = {}
    for i in range(60):
        for j in range(i + 1, 60):
            a, b = units[i], units[j]
            cos = float(int(a @ b)) / math.sqrt(
                float(int(a @ a)) * float(int(b @ b))
            )
            x10k = math.floor(cos * 10000 + 0.5)
            if x10k >= 1000:
                want[(i, j)] = x10k
    assert got == want


# --- E5: container codec round-trips under randomized geometry -----------


@given(
    w=st.integers(min_value=1, max_value=80),
    h=st.integers(min_value=1, max_value=80),
    seed=st.integers(min_value=0, max_value=2**31),
    topdown=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_any_geometry(w, h, seed, topdown):
    """decode(encode(raster)) == raster for EVERY width (every padding
    residue 0-3), both row orders — the invariant the fixed-example
    tests can't sweep."""
    import struct as _s

    import numpy as np

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import multimodal

    raster = ((seed + np.arange(3 * w * h)) % 256).astype(np.uint8).reshape(
        h, w * 3
    )
    stride = (w * 3 + 3) & ~3
    file_rows = raster if topdown else raster[::-1]
    body = b"".join(
        file_rows[y].tobytes() + b"\x00" * (stride - 3 * w) for y in range(h)
    )
    payload = (
        b"BM" + _s.pack("<I", 54 + len(body)) + b"\x00" * 4
        + _s.pack("<I", 54) + _s.pack("<I", 40)
        + _s.pack("<ii", w, -h if topdown else h) + _s.pack("<HH", 1, 24)
        + _s.pack("<II", 0, len(body)) + _s.pack("<iiII", 0, 0, 0, 0)
        + body
    )
    px = multimodal.decode_bmp_pixels(payload)
    assert px is not None and px.shape == (h, w, 3)
    assert (px.reshape(h, w * 3) == raster).all()


@given(
    n_chunks=st.lists(
        st.tuples(
            st.sampled_from([b"00db", b"00dc", b"01wb", b"junk", b"idx1"]),
            st.integers(min_value=0, max_value=33),
        ),
        min_size=0,
        max_size=20,
    ),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_avi_walker_returns_exactly_the_video_chunks(n_chunks, seed):
    """The movi walk must return precisely the 00db/00dc chunk bodies
    in order, for ANY interleaving of decoys and ANY odd/even size mix
    (every chunk boundary exercises the word-alignment rule)."""
    import struct as _s

    import numpy as np

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import multimodal

    movi = b"movi"
    want = []
    for i, (cid, size) in enumerate(n_chunks):
        data = ((seed + i + np.arange(size)) % 256).astype(np.uint8).tobytes()
        movi += cid + _s.pack("<I", size) + data
        if size & 1:
            movi += b"\x00"
        if cid in (b"00db", b"00dc"):
            want.append(data)
    body = b"AVI " + b"LIST" + _s.pack("<I", len(movi)) + movi
    payload = b"RIFF" + _s.pack("<I", len(body)) + body
    got = multimodal.decode_avi_frames(payload)
    assert got == want


@given(
    w=st.integers(min_value=1, max_value=21),
    h=st.integers(min_value=1, max_value=21),
    seed=st.integers(min_value=0, max_value=2**31),
    filters=st.lists(
        st.integers(min_value=0, max_value=4), min_size=1, max_size=21
    ),
    block=st.integers(min_value=1, max_value=600),
    n_idat=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=40, deadline=None)
def test_png_stored_roundtrip_any_geometry_filters_and_framing(
    w, h, seed, filters, block, n_idat
):
    """decode_png_pixels must invert the encode exactly for ANY
    geometry, ANY per-row filter choice (all five PNG filters), ANY
    stored-block split size, and ANY IDAT chunk split — the encode
    here is an independent reference implementation of the spec's
    filter definitions (operating on the raw/reconstructed domain),
    not the engine's synth."""
    import struct as _s
    import zlib

    import numpy as np

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import multimodal

    raster = ((seed + 7 * np.arange(3 * w * h)) % 256).astype(np.uint8).reshape(
        h, 3 * w
    )
    lines = bytearray()
    prev = np.zeros(3 * w, dtype=np.int32)
    for r in range(h):
        f = filters[r % len(filters)]
        raw = raster[r].astype(np.int32)
        filt = np.zeros(3 * w, dtype=np.int32)
        for x in range(3 * w):
            a = int(raw[x - 3]) if x >= 3 else 0
            b = int(prev[x])
            c = int(prev[x - 3]) if x >= 3 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            filt[x] = (raw[x] - pred) % 256
        lines.append(f)
        lines.extend(filt.astype(np.uint8).tobytes())
        prev = raw
    body = bytes(lines)
    stream = bytearray(b"\x78\x01")
    pos = 0
    while True:
        part = body[pos : pos + block]
        pos += len(part)
        final = 1 if pos >= len(body) else 0
        stream.append(final)
        stream.extend(_s.pack("<HH", len(part), len(part) ^ 0xFFFF))
        stream.extend(part)
        if final:
            break
    stream.extend(_s.pack(">I", zlib.adler32(body) & 0xFFFFFFFF))
    cuts = sorted(
        {min(len(stream), 1 + (i * len(stream)) // n_idat) for i in range(1, n_idat)}
    )
    pieces, last = [], 0
    for c in cuts + [len(stream)]:
        if c > last:
            pieces.append(bytes(stream[last:c]))
            last = c
    payload = b"\x89PNG\r\n\x1a\n" + multimodal._png_chunk(
        b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    )
    for piece in pieces:
        payload += multimodal._png_chunk(b"IDAT", piece)
    payload += multimodal._png_chunk(b"IEND", b"")
    px = multimodal.decode_png_pixels(payload)
    assert px is not None and px.shape == (h, w, 3)
    assert (px.reshape(h, 3 * w) == raster).all()


@given(
    body=st.one_of(
        st.binary(max_size=6000),
        st.builds(
            lambda chunk, reps: (chunk * reps)[:8000],
            st.binary(min_size=1, max_size=64),
            st.integers(min_value=1, max_value=400),
        ),
    ),
    level=st.integers(min_value=0, max_value=9),
    mem_level=st.integers(min_value=1, max_value=9),
    strategy=st.integers(min_value=0, max_value=4),
    corrupt_at=st.one_of(st.none(), st.integers(min_value=0)),
)
@settings(max_examples=120, deadline=None)
def test_inflate_differential_against_zlib(
    body, level, mem_level, strategy, corrupt_at
):
    """Raw-stream differential fuzz: `_inflate` must byte-exactly
    invert whatever the LIBRARY deflate emits for ANY body under ANY
    strategy (default/filtered/huffman-only/RLE/fixed — covering
    stored, fixed- and dynamic-Huffman block mixes), and a single-bit
    corruption anywhere in the stream must yield None or the intact
    original (adler collision-free here), never wrong bytes or an
    exception."""
    import zlib

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import multimodal

    strat = (
        zlib.Z_DEFAULT_STRATEGY,
        zlib.Z_FILTERED,
        zlib.Z_HUFFMAN_ONLY,
        zlib.Z_RLE,
        zlib.Z_FIXED,
    )[strategy]
    co = zlib.compressobj(level, zlib.DEFLATED, 15, mem_level, strat)
    stream = co.compress(body) + co.flush()
    assert multimodal._inflate(stream) == body
    if corrupt_at is not None:
        bad = bytearray(stream)
        i = corrupt_at % len(bad)
        bad[i] ^= 1 << (corrupt_at % 8)
        got = multimodal._inflate(bytes(bad))
        assert got is None or got == body


def _handcrafted_match_stream(dist_code: int, extra: int) -> bytes:
    """zlib stream: a 33000-byte stored block of zeros, then a final
    fixed-Huffman block with one length-3 match using ``dist_code``
    (+ 13 ``extra`` bits when the code carries them) — lets a test
    drive the decoder to the exact 32 KB window edge and onto the
    reserved distance codes with an output buffer big enough that
    buffer-length checks alone could not object."""
    import struct
    import zlib

    n = 33000
    out = bytearray(b"\x78\x01")  # zlib header, check bits valid
    out += b"\x00" + struct.pack("<HH", n, n ^ 0xFFFF) + b"\x00" * n
    bits: list[int] = []

    def put_lsb(value: int, width: int) -> None:
        for i in range(width):
            bits.append((value >> i) & 1)

    def put_code(code: int, width: int) -> None:  # MSB-first
        for i in range(width - 1, -1, -1):
            bits.append((code >> i) & 1)

    put_lsb(1, 1)  # BFINAL
    put_lsb(1, 2)  # BTYPE=01 fixed
    put_code(0b0000001, 7)  # lit/len 257 = length 3
    put_code(dist_code, 5)
    if dist_code >= 4:  # codes with extra bits (29 carries 13)
        put_lsb(extra, 13 if dist_code >= 28 else 0)
    put_code(0, 7)  # end of block
    while len(bits) % 8:
        bits.append(0)
    for i in range(0, len(bits), 8):
        out.append(sum(b << j for j, b in enumerate(bits[i : i + 8])))
    body = b"\x00" * (n + 3)
    out += struct.pack(">I", zlib.adler32(body))
    return bytes(out)


def test_inflate_is_as_strict_as_the_library():
    """r10 advice follow-up: the deflate format cannot even represent
    a distance beyond the 32 KB window (code 29 + 13 extra bits tops
    out at exactly 32768), so window strictness means (a) decoding
    the exact edge, (b) rejecting the reserved distance codes 30/31
    that a beyond-window encoder would need, and (c) rejecting whole
    garbage bytes between the final block and the adler32 trailer —
    each differentially confirmed against zlib."""
    import zlib

    import pytest

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import multimodal

    # (a) the exact window edge: dist 32768 = code 29 + extra 8191
    ok = _handcrafted_match_stream(29, 8191)
    assert multimodal._inflate(ok) == zlib.decompress(ok) == b"\x00" * 33003
    # (b) reserved distance codes: invalid per RFC 1951 §3.2.6
    for reserved in (30, 31):
        bad = _handcrafted_match_stream(reserved, 0)
        with pytest.raises(zlib.error):
            zlib.decompress(bad)
        assert multimodal._inflate(bad) is None
    # (c) trailing garbage between final block and adler32
    good = zlib.compress(b"spark-graft strictness probe" * 40, 6)
    assert multimodal._inflate(good) is not None
    padded = good[:-4] + b"\x00" + good[-4:]
    with pytest.raises(zlib.error):
        zlib.decompress(padded)
    assert multimodal._inflate(padded) is None
    # (d) preset dictionary (FDICT): the PNG/zlib contract carries no
    # dictionary, so such a stream is undecodable, never guessed
    co = zlib.compressobj(6, zlib.DEFLATED, 15, zdict=b"strictness probe")
    with_dict = co.compress(b"strictness probe" * 8) + co.flush()
    assert with_dict[1] & 0x20
    with pytest.raises(zlib.error):
        zlib.decompress(with_dict)
    assert multimodal._inflate(with_dict) is None
    # (e) one byte after the adler32 trailer: the stream must end there
    assert multimodal._inflate(good + b"\x00") is None


@given(
    w=st.integers(min_value=1, max_value=21),
    h=st.integers(min_value=1, max_value=21),
    seed=st.integers(min_value=0, max_value=2**31),
    filters=st.lists(
        st.integers(min_value=0, max_value=4), min_size=1, max_size=21
    ),
    level=st.integers(min_value=1, max_value=9),
    mem_level=st.integers(min_value=1, max_value=9),
    n_idat=st.integers(min_value=1, max_value=4),
    strategy=st.integers(min_value=0, max_value=2),
)
@settings(max_examples=60, deadline=None)
def test_png_compressed_roundtrip_any_geometry_and_framing(
    w, h, seed, filters, level, mem_level, n_idat, strategy
):
    """The PNG decode path must invert ANY zlib stream the library
    encoder can emit — Z_FIXED (fixed-Huffman blocks), default and
    Z_RLE strategies (dynamic-Huffman and stored blocks wherever the
    encoder prefers them), every compression level and memLevel
    (different block splits and match choices), every filter, every
    IDAT split. The decoder under test is the whole PNG path: chunk
    walk, IDAT concatenation, inflate and filter reconstruction."""
    import struct as _s
    import zlib

    import numpy as np

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import multimodal

    raster = ((seed + 7 * np.arange(3 * w * h)) % 256).astype(np.uint8).reshape(
        h, 3 * w
    )
    lines = bytearray()
    prev = np.zeros(3 * w, dtype=np.int32)
    for r in range(h):
        f = filters[r % len(filters)]
        raw = raster[r].astype(np.int32)
        filt = np.zeros(3 * w, dtype=np.int32)
        for x in range(3 * w):
            a = int(raw[x - 3]) if x >= 3 else 0
            b = int(prev[x])
            c = int(prev[x - 3]) if x >= 3 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            filt[x] = (raw[x] - pred) % 256
        lines.append(f)
        lines.extend(filt.astype(np.uint8).tobytes())
        prev = raw
    body = bytes(lines)
    strat = (zlib.Z_FIXED, zlib.Z_DEFAULT_STRATEGY, zlib.Z_RLE)[strategy]
    co = zlib.compressobj(level, zlib.DEFLATED, 15, mem_level, strat)
    stream = co.compress(body) + co.flush()
    cuts = sorted(
        {min(len(stream), 1 + (i * len(stream)) // n_idat) for i in range(1, n_idat)}
    )
    pieces, last = [], 0
    for c in cuts + [len(stream)]:
        if c > last:
            pieces.append(stream[last:c])
            last = c
    payload = b"\x89PNG\r\n\x1a\n" + multimodal._png_chunk(
        b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    )
    for piece in pieces:
        payload += multimodal._png_chunk(b"IDAT", piece)
    payload += multimodal._png_chunk(b"IEND", b"")
    px = multimodal.decode_png_pixels(payload)
    assert px is not None and px.shape == (h, w, 3)
    assert (px.reshape(h, 3 * w) == raster).all()


@given(
    ch=st.integers(min_value=1, max_value=6),
    rate=st.integers(min_value=1, max_value=192000),
    n_frames=st.integers(min_value=0, max_value=300),
    seed=st.integers(min_value=0, max_value=2**31),
    decoys=st.lists(
        st.tuples(
            st.sampled_from([b"LIST", b"junk", b"fact", b"cue "]),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=0,
        max_size=4,
    ),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_any_geometry_and_decoys(ch, rate, n_frames, seed, decoys):
    """decode_wav_samples must recover the exact interleaved int16
    stream for ANY channel count / rate / frame count and ANY decoy
    chunk interleaving (odd decoy sizes exercise the word-alignment
    skip). The data chunk is always whole frames — the r9 block-align
    invariant — and the decoder must preserve that: len % ch == 0."""
    import struct as _s

    import numpy as np

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import multimodal

    n = n_frames * ch
    samples = ((seed + 11 * np.arange(n)) % 65536 - 32768).astype("<i2")
    data = samples.tobytes()
    fmt = b"fmt " + _s.pack("<I", 16) + _s.pack(
        "<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16
    )
    body = b"WAVE" + fmt
    for cid, size in decoys:
        body += cid + _s.pack("<I", size) + bytes(range(size % 256))[:size]
        if size & 1:
            body += b"\x00"  # word-aligned chunk padding
    body += b"data" + _s.pack("<I", len(data)) + data
    payload = b"RIFF" + _s.pack("<I", len(body)) + body
    got = multimodal.decode_wav_samples(payload)
    assert got is not None
    gch, grate, gsamples = got
    assert (gch, grate) == (ch, rate)
    assert (gsamples == samples).all()
    assert len(gsamples) % ch == 0
