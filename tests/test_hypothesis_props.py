"""Property-based invariants (hypothesis) — beyond the reference's
example-based suite (SURVEY §5: no property testing anywhere).

Each property runs a bounded number of examples (Spark jobs are the
cost); sizes are small but shapes are adversarial: duplicate keys,
unsorted input, scrambled partitions, degenerate vectors.
"""

from __future__ import annotations

from types import SimpleNamespace

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dl_datalake_spark.operators.resample import resample_ohlcv
from dl_datalake_spark.operators.windows import keep_last

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ts_values = st.integers(min_value=0, max_value=50)
rows = st.lists(
    st.tuples(ts_values, st.integers(min_value=0, max_value=1_000)),
    min_size=1,
    max_size=40,
)


@given(batch_a=rows, batch_b=rows)
@SETTINGS
def test_keep_last_is_idempotent_and_last_wins(spark, batch_a, batch_b):
    """Union of two batches with a batch-sequence column → keep_last
    keeps exactly one row per ts, and for ts present in both batches
    the second batch's value wins (the writer's merge semantics,
    reference writer.py:83-92 with explicit ordering)."""
    a = spark.createDataFrame(
        [(ts, v, 0) for ts, v in batch_a], "ts long, v long, _seq int"
    )
    b = spark.createDataFrame(
        [(ts, v, 1) for ts, v in batch_b], "ts long, v long, _seq int"
    )
    merged = keep_last(
        a.unionAll(b).repartition(4), keys=["ts"], ts_col="_seq", tiebreak="v"
    )
    got = {r["ts"]: r["v"] for r in merged.collect()}

    expect: dict[int, int] = {}
    for ts, v in batch_a:
        expect[ts] = max(v, expect[ts]) if ts in expect else v
    b_best: dict[int, int] = {}  # batch b strictly newer: overwrites a
    for ts, v in batch_b:
        b_best[ts] = max(v, b_best[ts]) if ts in b_best else v
    expect.update(b_best)

    assert got == expect
    # idempotent: merging the result with itself changes nothing
    again = keep_last(
        merged.withColumn("_seq", F.lit(0))
        .unionAll(merged.withColumn("_seq", F.lit(1)))
        .repartition(3),
        keys=["ts"],
        ts_col="_seq",
        tiebreak="v",
    )
    assert {r["ts"]: r["v"] for r in again.collect()} == expect


ohlc_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=100),  # minute index
        st.floats(min_value=1, max_value=100, allow_nan=False, width=32),
        st.floats(min_value=0, max_value=10, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[0],
)


@given(candles=ohlc_rows)
@SETTINGS
def test_resample_conserves_volume_and_bounds(spark, candles):
    """Resampling conserves total volume exactly (it's a sum) and every
    bucket's high/low bound its open/close — regardless of input order
    or partitioning."""
    data = [
        (i * 60_000, float(p), float(p) + 1.0, float(p) - 1.0, float(p) + 0.5, float(v))
        for i, p, v in candles
    ]
    df = spark.createDataFrame(
        data, "ts long, open double, high double, low double, close double, volume double"
    ).repartition(5)
    out = resample_ohlcv(df, "15m").collect()
    assert abs(sum(r["volume"] for r in out) - sum(d[5] for d in data)) < 1e-6
    for r in out:
        assert r["high"] >= max(r["open"], r["close"]) - 1e-9
        assert r["low"] <= min(r["open"], r["close"]) + 1e-9
    # bucket count == distinct 15m buckets in input
    assert len(out) == len({(i * 60_000) // 900_000 for i, _, _ in candles})


vectors = st.lists(
    st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        min_size=4,
        max_size=8,
    ),
    min_size=1,
    max_size=10,
)


@given(vecs=vectors)
@SETTINGS
def test_quantize_int8_error_bound_holds(spark, vecs):
    """For ANY vector, per-element reconstruction error of symmetric
    int8 quantization is ≤ scale/(2·127) — so the mean is too."""
    from dl_datalake_spark.operators.similarity import dequantize_error, quantize_int8

    # pad rows to a fixed dim per example for createDataFrame simplicity
    dim = max(len(v) for v in vecs)
    data = [(i, [float(x) for x in v] + [0.0] * (dim - len(v))) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    for r in dequantize_error(quantize_int8(df)).collect():
        assert all(abs(c) <= 127 for c in r["q_codes"])
        assert r["q_abs_err"] <= r["q_scale"] / 254 + 1e-9


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # user
        st.integers(min_value=0, max_value=100),   # ts
        st.booleans(),                             # is_purchase
    ),
    min_size=1,
    max_size=40,
)


@given(evs=events_strategy)
@SETTINGS
def test_asof_join_matches_reference_model(spark, evs):
    """Backward as-of join == brute-force 'latest purchase at or before
    the click, per user' on arbitrary event soups (duplicate ts between
    clicks allowed; purchase ts made unique per user by construction)."""
    from dl_datalake_spark.operators.joins import asof_join

    purchases = {}
    clicks = []
    for i, (u, ts, is_p) in enumerate(evs):
        if is_p:
            purchases[(u, ts)] = float(ts)  # value = ts, dedup per (u, ts)
        else:
            clicks.append((i, u, ts))
    if not clicks:
        return
    p_rows = [(u, ts, v) for (u, ts), v in purchases.items()]
    c_df = spark.createDataFrame(clicks, "event_id long, user_id long, tsu long")
    p_df = spark.createDataFrame(
        p_rows or [(999, -1, 0.0)], "user_id long, tsu long, purchase_value double"
    )
    out = asof_join(
        c_df.repartition(3),
        p_df.repartition(2),
        on="tsu",
        by=["user_id"],
        value_cols=["purchase_value"],
        right_on_alias="purchase_tsu",
    )
    got = {r["event_id"]: r["purchase_tsu"] for r in out.collect()}
    for event_id, u, ts in clicks:
        prior = [pts for (pu, pts) in purchases if pu == u and pts <= ts]
        expect = max(prior) if prior else None
        assert got.get(event_id) == expect, (event_id, got.get(event_id), expect)


@given(evs=events_strategy)
@SETTINGS
def test_range_count_join_matches_reference_model(spark, evs):
    """Banded range-count join == brute-force 'errors in [click,
    click+10) per user' on arbitrary event soups."""
    from dl_datalake_spark.operators.joins import range_count_join

    BAND = 10
    errors = []
    clicks = []
    for i, (u, ts, is_err) in enumerate(evs):
        (errors if is_err else clicks).append((i, u, ts))
    if not clicks:
        return
    c_df = spark.createDataFrame(clicks, "event_id long, user_id long, tsu long")
    e_df = spark.createDataFrame(
        [(u, ts) for _, u, ts in errors] or [(999, -1)], "user_id long, tsu long"
    )
    out = range_count_join(
        c_df.repartition(3),
        e_df.repartition(2),
        on="tsu",
        by=["user_id"],
        lower=0,
        upper=BAND,
        count_alias="n_err",
    )
    got = {r["event_id"]: r["n_err"] for r in out.collect()}
    for event_id, u, ts in clicks:
        expect = sum(1 for _, eu, ets in errors if eu == u and ts <= ets < ts + BAND)
        assert got.get(event_id) == expect, (event_id, got.get(event_id), expect)


words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
    min_size=1,
    max_size=25,
)


@given(docs=st.lists(words, min_size=1, max_size=8))
@SETTINGS
def test_shingle_counts_and_set_semantics(spark, docs):
    """word_shingles emits exactly max(0, n_tokens - n + 1) shingles per
    doc in multiset mode, and its distinct mode equals the Python set
    of n-grams — for arbitrary token sequences with repetition."""
    from dl_datalake_spark.operators.dedup import word_shingles

    n = 3
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    multi = word_shingles(df, n=n, distinct=False)
    counts = {r["doc_id"]: r["c"] for r in multi.groupBy("doc_id").agg(F.count("*").alias("c")).collect()}
    dist = word_shingles(df, n=n, distinct=True).collect()
    got_sets: dict[int, set] = {}
    for r in dist:
        got_sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    for i, ws in enumerate(docs):
        expect_n = max(0, len(ws) - n + 1)
        assert counts.get(i, 0) == expect_n
        expect_set = {" ".join(ws[j : j + n]) for j in range(expect_n)}
        assert got_sets.get(i, set()) == expect_set


@given(
    evs=events_strategy,
    lower=st.integers(min_value=-15, max_value=15),
    width=st.integers(min_value=1, max_value=25),
)
@SETTINGS
def test_range_count_join_arbitrary_bands(spark, evs, lower, width):
    """range_count_join == brute force for ARBITRARY [lower, upper)
    bands, including negative lower bounds (look-behind windows) and
    widths that span multiple coarse buckets."""
    from dl_datalake_spark.operators.joins import range_count_join

    upper = lower + width
    errors = []
    clicks = []
    for i, (u, ts, is_err) in enumerate(evs):
        (errors if is_err else clicks).append((i, u, ts))
    if not clicks:
        return
    c_df = spark.createDataFrame(clicks, "event_id long, user_id long, tsu long")
    e_df = spark.createDataFrame(
        [(u, ts) for _, u, ts in errors] or [(999, -1)], "user_id long, tsu long"
    )
    out = range_count_join(
        c_df.repartition(3),
        e_df.repartition(2),
        on="tsu",
        by=["user_id"],
        lower=lower,
        upper=upper,
        count_alias="n_err",
    )
    got = {r["event_id"]: r["n_err"] for r in out.collect()}
    for event_id, u, ts in clicks:
        expect = sum(
            1 for _, eu, ets in errors if eu == u and ts + lower <= ets < ts + upper
        )
        assert got.get(event_id) == expect, (event_id, got.get(event_id), expect)


scd_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # key
        st.integers(min_value=0, max_value=60),  # ts
        st.sampled_from(["a", "b", "c"]),        # attr
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: (r[0], r[1]),  # one state per (key, ts)
)


@given(evs=scd_rows)
@SETTINGS
def test_scd2_intervals_partition_each_keys_timeline(spark, evs):
    """SCD-2 build invariants, per key: intervals are contiguous
    (valid_to == next valid_from), start at the key's first ts, exactly
    one open interval (the last), and no two consecutive intervals
    carry the same attribute (change capture really captured changes)."""
    from dl_datalake_spark.operators.windows import scd2_intervals

    df = spark.createDataFrame(evs, "k long, ts long, attr string").repartition(4)
    out = scd2_intervals(df, key="k", ts_col="ts", attr_col="attr").collect()

    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    first_ts: dict[int, int] = {}
    for k, ts, _ in evs:
        first_ts[k] = min(ts, first_ts.get(k, ts))

    assert set(by_key) == set(first_ts)
    for k, ivs in by_key.items():
        ivs.sort(key=lambda r: r["valid_from"])
        assert ivs[0]["valid_from"] == first_ts[k]
        opens = [r for r in ivs if r["valid_to"] is None]
        assert opens == [ivs[-1]]  # exactly one open interval: the last
        for cur, nxt in zip(ivs, ivs[1:]):
            assert cur["valid_to"] == nxt["valid_from"]  # contiguous
            assert cur["attr"] != nxt["attr"]  # a real change
    # replaying the interval starts through the operator is a no-op
    # (idempotent on an already-deduplicated change stream)
    starts = [(r["k"], r["valid_from"], r["attr"]) for r in out]
    again = scd2_intervals(
        spark.createDataFrame(starts, "k long, ts long, attr string"),
        key="k", ts_col="ts", attr_col="attr",
    ).count()
    assert again == len(starts)


@given(
    vals=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=40),
    shards=st.integers(min_value=1, max_value=9),
)
@SETTINGS
def test_partial_agg_merge_equals_direct(spark, vals, shards):
    """Mergeable-state invariant behind agg_partial_merge: splitting the
    input into ANY number of shards, aggregating each, and merging the
    partial states reproduces the direct aggregate exactly."""
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(3)
    direct = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"), F.max("v").alias("m")
    ).collect()[0]
    merged = (
        df.groupBy((F.col("id") % shards).alias("shard"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"), F.max("v").alias("m"))
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"), F.max("m").alias("m"))
        .collect()[0]
    )
    assert (direct["n"], direct["s"], direct["m"]) == (merged["n"], merged["s"], merged["m"])


@given(
    vals=st.lists(
        st.tuples(st.integers(min_value=0, max_value=50),
                  st.integers(min_value=0, max_value=100)),
        min_size=1, max_size=60, unique_by=lambda r: r[0],
    ),
    buckets=st.integers(min_value=1, max_value=8),
)
@SETTINGS
def test_bucketed_cumsum_matches_global_window(spark, vals, buckets):
    """The distributed prefix sum must reproduce the single-partition
    ORDER BY window exactly — any bucket count, ties included."""
    from pyspark.sql import Window

    from dl_datalake_spark.operators.windows import bucketed_cumsum

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in vals], "id long, v double"
    ).repartition(4)
    got = {
        r["id"]: (r["cum_sum"], r["rnk"], r["tot_sum"])
        for r in bucketed_cumsum(df, "v", "id", num_buckets=buckets).collect()
    }
    w = Window.orderBy(F.desc("v"), F.asc("id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ref = {
        r["id"]: (r["c"], r["r"], r["t"])
        for r in df.select(
            "id",
            F.sum("v").over(w).alias("c"),
            F.row_number().over(w).cast("long").alias("r"),
            F.sum("v").over(wt).alias("t"),
        ).collect()
    }
    assert got == ref


@given(
    pairs=st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**12),
                  st.integers(min_value=1, max_value=10**12)),
        min_size=1, max_size=20,
    ),
    digits=st.sampled_from([4, 6]),
)
@SETTINGS
def test_ratio_round_matches_decimal_half_up(spark, pairs, digits):
    """functions/exact must agree with Python Decimal ROUND_HALF_UP on
    BOTH engines for arbitrary a/b — including exact half boundaries
    (odd a over powers of two), the case float ROUND gets wrong."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from dl_datalake_spark.functions.exact import (
        ratio_round,
        ratio_round_sql,
        ratio_units,
        ratio_units_sql,
    )

    # force some guaranteed half-boundary cases into every run
    # guaranteed half boundaries + numerators far beyond double's 2^53
    pairs = pairs + [
        (3, 2 * 10**digits),
        (7, 4 * 10**digits),
        (1, 2 * 10**digits),
        (74916692793, 375843962006),  # the live 1-micro flip case
        (10**12 - 1, 3),
        (576460752305, 1),  # units past 2^53: double candidate drifts 64
    ]
    quantum = Decimal(1).scaleb(-digits)

    def expect(a, b):
        return int(
            ((Decimal(a) / Decimal(b)).quantize(quantum, ROUND_HALF_UP) * 10**digits)
        )

    # the EXACT contract is the integer-units form — assert it for the
    # full long envelope on both engines
    sql = " UNION ALL ".join(
        f"SELECT {i} AS i, CAST({ratio_units_sql(str(a), str(b), digits)} AS BIGINT) AS u"
        for i, (a, b) in enumerate(pairs)
    )
    duck = {r[0]: r[1] for r in duckdb.sql(sql).fetchall()}
    for i, (a, b) in enumerate(pairs):
        assert duck[i] == expect(a, b), (a, b, duck[i])

    df = spark.createDataFrame(list(pairs), "a long, b long")
    got_units = sorted(
        r["u"]
        for r in df.select(
            ratio_units(F.col("a"), F.col("b"), digits).alias("u")
        ).collect()
    )
    assert got_units == sorted(expect(a, b) for a, b in pairs)

    # the float interface (units / 10^digits) is only representable
    # while the units fit a double with room for the round-trip; past
    # ~2^51 a double physically cannot carry 10^digits resolution, so
    # registry queries at that magnitude must emit units, not floats
    small = [(a, b) for a, b in pairs if abs(expect(a, b)) < 2**51]
    if small:
        sqlf = " UNION ALL ".join(
            f"SELECT {i} AS i, CAST(ROUND(({ratio_round_sql(str(a), str(b), digits)}) * {10**digits}) AS BIGINT) AS r"
            for i, (a, b) in enumerate(small)
        )
        duckf = {r[0]: r[1] for r in duckdb.sql(sqlf).fetchall()}
        for i, (a, b) in enumerate(small):
            assert duckf[i] == expect(a, b), (a, b, duckf[i])
        dfs = spark.createDataFrame(list(small), "a long, b long")
        got_f = sorted(
            int(round(r["r"] * 10**digits))
            for r in dfs.select(
                ratio_round(F.col("a"), F.col("b"), digits).alias("r")
            ).collect()
        )
        assert got_f == sorted(expect(a, b) for a, b in small)


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-5, max_value=15)),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_expectations_partition_and_tally(spark, rows):
    """Quarantine must PARTITION the input (good + bad == all, no row in
    both), and the report's violation counts must equal a Python
    recomputation of each predicate."""
    from dl_datalake_spark.lake.expectations import (
        accepted_range,
        check,
        not_null,
        unique,
    )

    df = spark.createDataFrame(
        [(i, v, k) for i, (v, k) in enumerate(rows)], "id long, v long, k long"
    ).repartition(3)
    exps = [not_null("v"), accepted_range("v", 0, 9), unique("k")]

    good, bad, rep = check(df, exps, enforce="quarantine")
    g = {r["id"] for r in good.collect()}
    b = {r["id"] for r in bad.collect()}
    assert g | b == set(range(len(rows))) and not (g & b)

    tallies = {r["name"]: r["violations"] for r in rep.collect()}
    assert tallies["not_null_v"] == sum(1 for v, _ in rows if v is None)
    assert tallies["range_v"] == sum(
        1 for v, _ in rows if v is not None and not (0 <= v <= 9)
    )
    from collections import Counter

    kc = Counter(k for _, k in rows)
    assert tallies["unique_k"] == sum(c - 1 for c in kc.values() if c > 1)
    # row-level failures define the bad side
    assert b == {
        i for i, (v, _) in enumerate(rows) if v is None or not (0 <= v <= 9)
    }


@given(
    vals=st.lists(
        st.tuples(st.integers(min_value=0, max_value=50),
                  st.integers(min_value=0, max_value=10**12)),
        min_size=1, max_size=40, unique_by=lambda r: r[0],
    ),
    buckets=st.integers(min_value=1, max_value=6),
)
@SETTINGS
def test_bucketed_cumsum_preserves_long_exactness(spark, vals, buckets):
    """A LONG value column must come back as exact LONG prefix sums —
    the drift-free money path (orders_pareto_share, orders_decile_lift
    run over integer cents). A float literal in the offset coalesce
    would silently widen cum_sum/tot_sum to double."""
    from dl_datalake_spark.operators.windows import bucketed_cumsum

    df = spark.createDataFrame(list(vals), "id long, v long").repartition(3)
    out = bucketed_cumsum(df, "v", "id", num_buckets=buckets)
    types = dict(out.dtypes)
    assert types["cum_sum"] == "bigint" and types["tot_sum"] == "bigint"
    rows = sorted(out.collect(), key=lambda r: r["rnk"])
    # exact sequential check against python ints (no float involved)
    ordered = sorted(vals, key=lambda t: (-t[1], t[0]))
    run = 0
    tot = sum(v for _, v in vals)
    for r, (i, v) in zip(rows, ordered):
        run += v
        assert (r["id"], r["cum_sum"], r["tot_sum"]) == (i, run, tot)


@given(
    vals=st.lists(st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=25)
)
@SETTINGS
def test_shifted_ratio_handles_negative_means(spark, vals):
    """The exact-ratio helpers contract nonnegative numerators (DuckDB's
    // truncates toward zero on negatives while Spark floors — caught
    live in emb_silhouette_by_label). This pins the documented
    workaround: shift the summed quantity by C into nonnegative range,
    take the exact half-up ratio, shift back — and the result equals
    Python Decimal ROUND_HALF_UP on BOTH engines for signed means."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from dl_datalake_spark.functions.exact import ratio_units

    C, m = 2 * 10**9, 10**6
    S, n = sum(vals), len(vals)
    expect = int(
        (Decimal(S) / Decimal(n)).quantize(Decimal(1).scaleb(-6), ROUND_HALF_UP)
        * m
    )

    duck = duckdb.sql(
        f"SELECT (2 * CAST({S + C * n} AS BIGINT) * {m} + {n}) // (2 * {n})"
        f" - CAST({C} AS BIGINT) * {m}"
    ).fetchone()[0]
    assert duck == expect

    got = (
        spark.range(1)
        .select(
            (
                ratio_units(F.lit(S + C * n).cast("long"), F.lit(n).cast("long"), 6)
                - F.lit(C).cast("long") * m
            ).alias("r")
        )
        .collect()[0]["r"]
    )
    assert got == expect


# ---------------------------------------------------------------------------
# delta-encoded pinned listings: fold == reference model under any history
# ---------------------------------------------------------------------------
@given(
    ops=st.lists(
        st.tuples(
            st.lists(st.integers(0, 30), max_size=4),  # file ids added
            st.lists(st.integers(0, 30), max_size=4),  # file ids removed
        ),
        min_size=1,
        max_size=25,
    ),
    prune_at=st.one_of(st.none(), st.integers(1, 20)),
    keep_last=st.integers(1, 8),
)
@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_delta_listing_fold_matches_reference_model(tmp_path_factory, ops, prune_at, keep_last):
    """Any sequence of full-list commits (the writer always hands in the
    complete list; CommitLog delta-encodes opportunistically) must
    resolve — at head and at every retained historical cut — to exactly
    the list the writer handed in, including across a prune that must
    respect the fold anchor."""
    from dl_datalake_spark.lake.commitlog import CommitLog

    base = tmp_path_factory.mktemp("dlog")
    log = CommitLog(str(base / "ds"))
    live: set[int] = set()
    expected: list[list[str]] = []  # per-version full listing
    pruned_versions: set[int] = set()
    for i, (add, rem) in enumerate(ops):
        live = (live - set(rem)) | set(add)
        files = sorted(f"year=2023/month=1/f{x}.parquet" for x in live)
        with log.transaction(payload={"mode": "t"}) as meta:
            meta.update(files=files, partitions=[[2023, 1]])
        expected.append(files)
        if prune_at is not None and i == prune_at:
            before = set(log._entries())
            log.prune(keep_last=keep_last)
            pruned_versions = before - set(log._entries())

    assert log.latest_files() == expected[-1]
    horizon = max(pruned_versions, default=-1)  # prune drops a version prefix
    for v, files in enumerate(expected):
        got = log.files_at(v)
        # NEVER a wrong list — unknowable (None) is allowed only for
        # cuts at/below the pruned horizon
        assert got == files or (got is None and v <= horizon), (v, got, files)


# -- round-11 pure-function properties ----------------------------------------

_TYPE_NAMES = st.sampled_from(
    ["tinyint", "smallint", "int", "bigint", "float", "double", "string",
     "boolean", "binary", "decimal(38,9)", "decimal(10,2)",
     "array<double>", "array<struct<x:int,y:int>>", "map<string,int>"]
)
_COL_NAMES = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_0123456789", min_size=1, max_size=12
).filter(lambda s: not s[0].isdigit())


@given(st.dictionaries(_COL_NAMES, _TYPE_NAMES, min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_ddl_fields_roundtrip(schema):
    """_ddl_fields inverts DDL construction for every name/type combo —
    including parameterized and nested types a naive split(',') shears
    (the round-11 streaming-source parser)."""
    from dl_datalake_spark.sources.cdf_source import _ddl_fields

    ddl = ", ".join(f"{n} {t}" for n, t in schema.items())
    assert _ddl_fields(ddl) == list(schema.items())
    # backquoted form round-trips too
    ddl_q = ", ".join(f"`{n}` {t}" for n, t in schema.items())
    assert _ddl_fields(ddl_q) == list(schema.items())


@given(
    st.lists(
        st.tuples(st.integers(2015, 2030), st.integers(1, 12)),
        min_size=0, max_size=6, unique=True,
    ),
    st.lists(
        st.tuples(st.integers(2015, 2030), st.integers(1, 12)),
        min_size=1, max_size=6, unique=True,
    ),
    st.sampled_from(
        ["append", "upsert", "overwrite", "delete", "delete-dv", "update",
         "update-dv", "merge", "restore", "compact", "rename-column",
         "alter-type"]
    ),
)
@settings(max_examples=300, deadline=None)
def test_optimistic_validation_commute_rules(theirs, ours, mode):
    """_validate_concurrent's algebra: appends always commute;
    partition-scoped rewrites commute iff disjoint; tree-rewriting /
    contract-moving modes never commute; a contract change always
    conflicts regardless of partitions."""
    from dl_datalake_spark.lake.commitlog import ConcurrentWriteConflict
    from dl_datalake_spark.lake.writer import LakeWriter

    entry = {"mode": mode, "partitions": [list(p) for p in theirs]}
    base = ({"ts": "bigint"}, {}, [], {}, ("year", "month"))
    ours_set = set(ours)
    disjoint = not (set(theirs) & ours_set)
    want_ok = (
        mode == "append"
        or (
            mode in LakeWriter._OPTIMISTIC_DISJOINT_OK
            and (disjoint if theirs else True)
        )
    )
    def window(e):
        # a snapshot at version 6 and a claim at 8: commit 7 is `e`
        return SimpleNamespace(committed_entry=lambda v: e), 6, 8

    try:
        LakeWriter._validate_concurrent(
            object.__new__(LakeWriter), *window(entry), base, ours_set, "/ds"
        )
        ok = True
    except ConcurrentWriteConflict:
        ok = False
    assert ok == want_ok
    # a contract move conflicts no matter the partitions or mode
    moved = {**entry, "schema": {"ts": "bigint", "extra": "int"}}
    try:
        LakeWriter._validate_concurrent(
            object.__new__(LakeWriter), *window(moved), base, ours_set, "/ds"
        )
        moved_ok = True
    except ConcurrentWriteConflict:
        moved_ok = False
    assert not moved_ok


@given(
    st.dictionaries(
        _COL_NAMES, st.sampled_from(["int", "bigint", "float", "double"]),
        min_size=1, max_size=6,
    ),
    st.data(),
)
@settings(max_examples=200, deadline=None)
def test_epoch_source_names_physical_identity(head_schema, data):
    """_epoch_source_names (CDF stream rename mapping) is a permutation
    of per-epoch names driven purely by PHYSICAL identity: with no
    column map it is the identity; with a rename chain it maps each
    head logical to the name its epoch's delta file carries; extras
    pass through untouched."""
    from dl_datalake_spark.sources.cdf_source import _epoch_source_names

    cols = list(head_schema) + ["_change_type"]
    # identity when no mapping anywhere
    assert _epoch_source_names(cols, head_schema, {}, {}) == cols
    # build a consistent rename epoch: pick a subset of columns that
    # were called something else at the old epoch, same physical
    renamed = data.draw(
        st.dictionaries(
            st.sampled_from(sorted(head_schema)),
            st.text(alphabet="qrstuv", min_size=3, max_size=6),
            max_size=len(head_schema),
        )
    )
    # head cmap: logical -> physical (physical = the OLD name)
    head_cmap = {lg: old for lg, old in renamed.items()}
    entry = {"column_map": {}}  # old epoch: logical == physical
    src = _epoch_source_names(cols, head_schema, head_cmap, entry)
    for c, s_ in zip(cols, src):
        if c in renamed:
            assert s_ == renamed[c]  # epoch file says the old name
        else:
            assert s_ == c
