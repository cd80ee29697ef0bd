"""Property-based tests (hypothesis) — the reference's randomized-testing
style (MergeByIndexSpec.scala:105-128) upgraded to real property testing:
operators vs pure-Python reference models on arbitrary inputs."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from akka_stream_contrib_spark.operators import (
    accumulate_while_unchanged,
    token_throttle,
)

SETTINGS = dict(max_examples=8, deadline=None)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from akka_stream_contrib_spark import get_spark
        _spark = get_spark("pytest", shuffle_partitions=8)
    return _spark


def islands_model(props: list[str]) -> list[tuple[str, int]]:
    """Pure-python reference: runs of equal consecutive property."""
    runs = []
    for p in props:
        if runs and runs[-1][0] == p:
            runs[-1] = (p, runs[-1][1] + 1)
        else:
            runs.append((p, 1))
    return runs


@given(st.lists(st.sampled_from("abc"), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_islands_matches_model(props):
    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(props)], "seq int, prop string")
    out = df.transform(accumulate_while_unchanged(
        "prop", [F.count(F.lit(1)).alias("cnt")], seq="seq"))
    got = [(r.prop, r.cnt) for r in sorted(out.collect(), key=lambda r: r.grp)]
    assert got == islands_model(props)


def throttle_model(costs: list[int], budget: int) -> list[int]:
    """Emit prefix while cumulative cost fits the budget."""
    out, acc = [], 0
    for i, c in enumerate(costs):
        acc += c
        if acc > budget:
            break
        out.append(i)
    return out


@given(st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=30),
       st.integers(min_value=0, max_value=100))
@settings(**SETTINGS)
def test_token_throttle_matches_model(costs, budget):
    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(costs)], "seq int, c int")
    out = df.transform(token_throttle(
        F.col("c").cast("bigint"), total_tokens=budget, seq="seq"))
    got = sorted(r.seq for r in out.collect())
    assert got == throttle_model(costs, budget)


def asof_model(left, right):
    out = {}
    for lid, lts in left:
        best = None
        for rts, rv in right:
            if rts <= lts and (best is None or rts >= best[0]):
                best = (rts, rv)
        out[lid] = best[1] if best else None
    return out


@given(st.lists(st.integers(min_value=0, max_value=1000), min_size=1,
                max_size=15, unique=True),
       st.lists(st.tuples(st.integers(min_value=0, max_value=1000),
                          st.integers(min_value=0, max_value=99)),
                min_size=0, max_size=15, unique_by=lambda t: t[0]))
@settings(**SETTINGS)
def test_as_of_join_matches_model(left_ts, right_rows):
    from akka_stream_contrib_spark.operators import as_of_join
    spark = _get_spark()
    left = [(i, ts) for i, ts in enumerate(left_ts)]
    ldf = spark.createDataFrame(
        [(i, 1, ts) for i, ts in left], "event_id int, k int, ts long")
    rdf = spark.createDataFrame(
        [(1, ts, v) for ts, v in right_rows] or [(None, None, None)],
        "k int, ts long, v int").filter(F.col("ts").isNotNull())
    out = as_of_join(ldf, rdf, on=["k"], ts="ts", right_cols=["v"])
    got = {r.event_id: r.v_asof for r in out.collect()}
    assert got == asof_model(left, right_rows)


def chunks_model(n_tokens: int, size: int, overlap: int) -> list[tuple[int, int]]:
    """Pure-python reference: (start0, length) of each chunk over n tokens."""
    stride = size - overlap
    n_chunks = max(-(-(n_tokens - overlap) // stride), 1)
    return [(i * stride, min(size, n_tokens - i * stride))
            for i in range(n_chunks)]


@given(st.integers(min_value=1, max_value=400),
       st.sampled_from([(16, 0), (16, 4), (64, 8), (5, 4)]))
@settings(**SETTINGS)
def test_chunk_documents_matches_model(n_tokens, size_overlap):
    size, overlap = size_overlap
    from akka_stream_contrib_spark.functions import chunk_documents

    spark = _get_spark()
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    got = sorted((r.chunk_id, r.chunk_text.split(" "), r.n_chunk_tokens)
                 for r in df.transform(
                     chunk_documents(chunk_size=size, overlap=overlap)).collect())
    expect = chunks_model(n_tokens, size, overlap)
    assert len(got) == len(expect)
    for (cid, toks, n), (start, length) in zip(got, expect):
        assert n == length and len(toks) == length
        assert toks == [f"t{j}" for j in range(start, start + length)]
    # invariant: every token appears in at least one chunk (no gaps)
    covered = {start + j for start, length in expect for j in range(length)}
    assert covered == set(range(n_tokens))


@given(st.lists(st.integers(min_value=1, max_value=120), min_size=1,
                max_size=25),
       st.sampled_from([64, 256]))
@settings(**SETTINGS)
def test_pack_sequences_conserves_and_bounds(token_counts, budget):
    from akka_stream_contrib_spark.functions import pack_sequences

    spark = _get_spark()
    rows = [(i, " ".join(["x"] * n), "s") for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    bins = sorted((r.bin_id, r.n_docs, r.total_tokens)
                  for r in df.transform(pack_sequences(budget=budget)).collect())
    # conservation: every token lands in exactly one bin
    assert sum(b[2] for b in bins) == sum(token_counts)
    assert sum(b[1] for b in bins) == len(token_counts)
    # bin ids are the exclusive-prefix-sum buckets of the python model
    prefix, expect = 0, {}
    for n in token_counts:
        b = prefix // budget
        d, t = expect.get(b, (0, 0))
        expect[b] = (d + 1, t + n)
        prefix += n
    assert bins == sorted((b, d, t) for b, (d, t) in expect.items())


def union_find_model(edges):
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    # path-compress fully, then label = min of component
    comp = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


@given(st.lists(st.tuples(st.integers(min_value=0, max_value=15),
                          st.integers(min_value=0, max_value=15)),
                min_size=1, max_size=25))
@settings(**SETTINGS)
def test_dup_clusters_matches_union_find(edges):
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    from akka_stream_contrib_spark.functions import dup_clusters

    spark = _get_spark()
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r.id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == union_find_model(edges)


def sessionize_model(gaps_s: list[int], gap_limit: int) -> list[tuple[int, int]]:
    """Pure-python reference: (session_id, session_pos) per event given the
    inter-event gaps (gaps_s[i] = seconds between event i-1 and event i)."""
    out, sid, pos = [], 0, 0
    for i, g in enumerate(gaps_s):
        if i == 0 or g > gap_limit:
            sid, pos = sid + 1, 1
        else:
            pos += 1
        out.append((sid, pos))
    return out


@given(st.lists(st.integers(min_value=0, max_value=120), min_size=1, max_size=40),
       st.integers(min_value=1, max_value=90))
@settings(**SETTINGS)
def test_sessionize_matches_model(gaps, gap_limit):
    from datetime import datetime, timedelta

    from akka_stream_contrib_spark.operators import sessionize
    spark = _get_spark()
    t, ts_list = datetime(2024, 1, 1), []
    for i, g in enumerate(gaps):
        t = t if i == 0 else t + timedelta(seconds=g)
        ts_list.append(t)
    rows = [(i, ts_list[i], 1) for i in range(len(gaps))]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, user_id bigint")
    got = sorted(
        ((r.event_id, r.session_id, r.session_pos) for r in
         df.transform(sessionize("user_id", "ts", "event_id", gap_s=gap_limit))
         .collect()))
    expect = [(i, sid, pos) for i, (sid, pos)
              in enumerate(sessionize_model(gaps, gap_limit))]
    assert got == expect


def scd2_model(states: list[str]) -> list[tuple[str, int, int | None]]:
    """Pure-python reference: (state, from_idx, to_idx_or_None) runs."""
    runs = []
    for i, s in enumerate(states):
        if not runs or runs[-1][0] != s:
            runs.append((s, i, None))
    out = []
    for k, (s, fr, _) in enumerate(runs):
        to = runs[k + 1][1] if k + 1 < len(runs) else None
        out.append((s, fr, to))
    return out


@given(st.lists(st.sampled_from("xyz"), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_scd2_matches_model(states):
    from datetime import datetime, timedelta

    from akka_stream_contrib_spark.operators import scd2_intervals
    spark = _get_spark()
    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(minutes=i), 1, s) for i, s in enumerate(states)]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string")
    got = sorted(
        ((r.valid_from_seq, r.state,
          None if r.valid_to is None else int((r.valid_to - t0).total_seconds() // 60),
          r.is_current) for r in
         df.transform(scd2_intervals("user_id", "event_type", "ts", "event_id"))
         .collect()))
    expect = sorted((fr, s, to, to is None) for s, fr, to in scd2_model(states))
    assert got == expect


def global_order_model(rows):
    """Sequential reference for rows (seq, key, v) in seq order: per-key
    1-based rank, running sum (NULLs skipped, NULL until the first value)
    and lags 1..3 (NULL before the key's head)."""
    state, out = {}, {}
    for seq, k, v in rows:
        rank, run, hist = state.get(k, (0, None, []))
        if v is not None:
            run = v if run is None else run + v
        lags = tuple(hist[-lag] if len(hist) >= lag else None
                     for lag in (1, 2, 3))
        state[k] = (rank + 1, run, hist + [v])
        out[seq] = (rank + 1, run, lags)
    return out


@given(st.lists(st.tuples(st.sampled_from(["p", "q", None]),
                          st.one_of(st.none(),
                                    st.integers(min_value=-1000,
                                                max_value=1000))),
                min_size=1, max_size=60),
       st.integers(min_value=1, max_value=6),
       st.sampled_from([1, 7, 64]))
@settings(max_examples=15, deadline=None)
def test_global_order_matches_model(shuffle_layout, rows, n_parts,
                                    shuffle_parts):
    """global_rank / multi-lag, unkeyed and keyed by a 3-value key (one of
    them NULL), and the unkeyed running sum equal the sequential model for
    ANY input partitioning, shuffle-partition count (AQE off, so tiny and
    empty ranges survive) and NULL pattern in the values."""
    spark = _get_spark()
    from akka_stream_contrib_spark.operators import (
        global_lag, global_rank, global_running_agg)
    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)],
        "seq int, k string, v long").repartition(n_parts)
    for keys in ([], ["k"]):
        order = [*keys, "seq"]
        expect = global_order_model(
            [(i, k if keys else None, v) for i, (k, v) in enumerate(rows)])
        with shuffle_layout(spark, shuffle_parts):
            ranks = {r.seq: r.rnk for r in global_rank(
                df, order, "rnk", partition_by=keys).collect()}
            lags = {r.seq: (r.l1, r.l2, r.l3) for r in global_lag(
                df, order, F.col("v"), ["l1", "l2", "l3"], lags=(1, 2, 3),
                partition_by=keys).collect()}
            if not keys:
                sums = {r.seq: r.cum for r in global_running_agg(
                    df, order, "v", "cum", fn="sum").collect()}
                assert sums == {s: run for s, (_, run, _) in expect.items()}
        got = {s: (ranks[s], lags[s]) for s in ranks}
        assert got == {s: (rk, lg) for s, (rk, _, lg) in expect.items()}, keys


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(st.lists(st.text(alphabet="abc", min_size=1, max_size=6),
                min_size=2, max_size=15, unique=True))
@settings(**SETTINGS)
def test_edit1_pairs_matches_bruteforce(strings):
    """Deletion-neighborhood join == brute-force all-pairs distance ≤ 1 on
    arbitrary strings (insertions, deletions, substitutions, duplicates)."""
    from akka_stream_contrib_spark.functions import edit1_pairs
    spark = _get_spark()
    df = spark.createDataFrame(list(enumerate(strings)), "id int, s string")
    got = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)): r.edit_distance
           for r in edit1_pairs(df, "id", "s").collect()}
    expect = {}
    for i in range(len(strings)):
        for j in range(i + 1, len(strings)):
            d = _lev(strings[i], strings[j])
            if d <= 1:
                expect[(i, j)] = d
    assert got == expect


@given(st.lists(st.integers(min_value=0, max_value=5000),
                min_size=1, max_size=60, unique=True),
       st.lists(st.integers(min_value=0, max_value=5000),
                min_size=1, max_size=40, unique=True))
@settings(**SETTINGS)
def test_bloom_membership_matches_set_semantics(inserted, probes):
    """Probe(bloom(inserted)) must be TRUE for every inserted key (no false
    negatives) regardless of overlap; non-members may only err toward
    membership (false positives)."""
    from akka_stream_contrib_spark.functions import bloom_build, bloom_probe
    spark = _get_spark()
    ins = spark.createDataFrame([(k,) for k in inserted], "k long")
    prb = spark.createDataFrame([(k,) for k in probes], "k long")
    bloom = bloom_build(ins, "k")
    got = {r.key: r.member for r in bloom_probe(bloom, prb, "k").collect()}
    ins_set = set(inserted)
    for k in probes:
        if k in ins_set:
            assert got[k] is True


@given(st.lists(st.integers(min_value=0, max_value=3_600_000),
                min_size=1, max_size=40),
       st.integers(min_value=1, max_value=600))
@settings(**SETTINGS)
def test_dedup_within_matches_sequential_model(offsets_ms, within_s):
    """Grouped Arrow debounce == the sequential anchor recurrence."""
    from datetime import datetime, timedelta
    from akka_stream_contrib_spark.operators.resample import dedup_within
    spark = _get_spark()
    base = datetime(2024, 1, 1)
    rows = [(i, base + timedelta(milliseconds=ms), 1, "t")
            for i, ms in enumerate(sorted(offsets_ms))]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string")
    got = {r.event_id: r.kept
           for r in df.transform(dedup_within(["user_id", "event_type"],
                                              within_s=within_s)).collect()}
    # model: events sorted by (t, id); anchor resets on kept
    us = within_s * 1_000_000
    anchor = None
    expect = {}
    for i, ms in enumerate(sorted(offsets_ms)):
        t = ms * 1000
        if anchor is None or t - anchor >= us:
            anchor = t
            expect[i] = True
        else:
            expect[i] = False
    # ties on ts broken by event_id ascending — enumeration order matches
    assert got == expect


@given(st.lists(st.integers(min_value=0, max_value=(1 << 32) - 1),
                min_size=2, max_size=25, unique=True))
@settings(**SETTINGS)
def test_simhash_band_candidates_cover_radius(hashes):
    """Pigeonhole property the pair detector relies on: any two 32-bit
    values within hamming distance 3 share at least one of four 8-bit
    bands. (Pure model check of the bucketing invariant.)"""
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            a, b = hashes[i], hashes[j]
            if bin(a ^ b).count("1") <= 3:
                assert any(((a >> (k * 8)) & 255) == ((b >> (k * 8)) & 255)
                           for k in range(4))


def hist_quantile_model(values, lo, hi, n_bins, q):
    """Pure-python reference of histogram_quantiles' estimator."""
    import math
    w = (hi - lo) / n_bins
    bins = [0] * n_bins
    for v in values:
        b = min(max(int(math.floor((v - lo) / w)), 0), n_bins - 1)
        bins[b] += 1
    n = len(values)
    rank = math.ceil(q * n)
    cum = 0
    for b, cnt in enumerate(bins):
        if cnt and cum + cnt >= rank:
            return lo + w * (b + (rank - cum) / cnt)
        cum += cnt
    raise AssertionError("rank not reached")


@given(st.lists(st.floats(min_value=0.0, max_value=99.5, allow_nan=False),
                min_size=1, max_size=60),
       st.sampled_from([0.25, 0.5, 0.9]))
@settings(**SETTINGS)
def test_histogram_quantile_matches_model_and_error_bound(values, q):
    from akka_stream_contrib_spark.functions.sketches import (
        histogram_quantiles)
    spark = _get_spark()
    values = [float(v) for v in values]
    df = spark.createDataFrame([(i, "k", v) for i, v in enumerate(values)],
                               "i long, k string, value double")
    out = histogram_quantiles(df, key="k", value="value", lo=0.0, hi=100.0,
                              n_bins=20, qs=(q,)).collect()
    assert len(out) == 1
    est = out[0].est
    want = hist_quantile_model(values, 0.0, 100.0, 20, q)
    assert abs(est - round(want, 6)) < 1e-9
    # sketch error bound: estimate within one bin width of a true quantile
    import math
    rank = math.ceil(q * len(values))
    true_v = sorted(values)[rank - 1]
    assert abs(est - true_v) <= 100.0 / 20 + 1e-9


@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=40),
    st.integers(min_value=1, max_value=9),
)
@settings(**SETTINGS)
def test_token_budget_fill_is_greedy_prefix(ntoks, num):
    """For ANY corpus and budget fraction: the selection is exactly the
    maximal prefix of the (quality desc, id) order whose token sum fits."""
    from akka_stream_contrib_spark.functions.corpus import token_budget_fill
    spark = _get_spark()
    # doc i: i distinct tokens then padding repeats of the first token
    rows = []
    for i, n in enumerate(ntoks):
        base = [f"w{i}_{j}" for j in range(max(1, n // 2))]
        toks = (base * ((n // len(base)) + 1))[:n]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           token_budget_fill(budget_num=num, budget_den=10)(df).collect()}
    budget = (num * sum(ntoks)) // 10
    qual = []
    for i, n in enumerate(ntoks):
        distinct = len(set(rows[i][1].split(" ")))
        qual.append((-round(distinct / n, 6), i, n))
    qual.sort()
    acc, expect = 0, {}
    for _negq, i, n in qual:
        if acc + n > budget:
            break
        acc += n
        expect[i] = acc
    assert {i: r.cum_tok for i, r in out.items()} == expect


@given(
    st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=50),
    st.integers(min_value=2, max_value=7),
)
@settings(**SETTINGS)
def test_balanced_shards_round_robin_model(ntoks, shards):
    from akka_stream_contrib_spark.functions.corpus import balanced_shards
    spark = _get_spark()
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(ntoks)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.shard for r in
           balanced_shards(n_shards=shards)(df).collect()}
    order = sorted(range(len(ntoks)), key=lambda i: (-ntoks[i], i))
    assert out == {i: pos % shards for pos, i in enumerate(order)}


def _merge_pair_model(syms: list[str], a: str, b: str) -> list[str]:
    """Python twin of functions/bpe.py::_merge_pair's left-to-right
    non-overlapping greedy fold."""
    out: list[str] = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def _flat_replace_model(syms: list[str], a: str, b: str) -> list[str]:
    """Python twin of the per-symbol-wrapped flat-string rewrite shared by
    _encode_expr and _bpe_learn_oracle (str.replace has the same
    scan-forward non-overlapping semantics as Spark/DuckDB replace)."""
    sep = "\x1f"
    s = "".join(sep + x + sep for x in syms)
    s = s.replace(sep + a + sep + sep + b + sep, sep + a + b + sep)
    return [t for t in s.split(sep) if t != ""]


@given(st.lists(st.text(alphabet="ab\n", min_size=1, max_size=3),
                min_size=0, max_size=12),
       st.lists(st.tuples(st.text(alphabet="ab\n", min_size=1, max_size=2),
                          st.text(alphabet="ab\n", min_size=1, max_size=2)),
                min_size=1, max_size=4))
@settings(max_examples=300, deadline=None)
def test_flat_replace_equals_greedy_merge_fold(syms, merges):
    """The r6 BPE fix's core claim, adversarially: applying a CASCADE of
    merges through the wrapped flat string equals applying them through
    the greedy array fold — over a tiny alphabet rich in prefix-symbol
    and chained-merge collisions (the two failure modes of the previous
    representations)."""
    flat, fold = list(syms), list(syms)
    for a, b in merges:
        flat = _flat_replace_model(flat, a, b)
        fold = _merge_pair_model(fold, a, b)
        assert flat == fold


@given(
    st.lists(st.tuples(st.one_of(st.none(), st.integers(0, 3)),
                       st.integers(0, 100)), min_size=0, max_size=15),
    st.lists(st.tuples(st.one_of(st.none(), st.integers(0, 3)),
                       st.integers(0, 100)), min_size=0, max_size=15),
    st.integers(0, 5), st.integers(0, 20),
)
@settings(**SETTINGS)
def test_stream_interval_join_batch_matches_model(lrows, rrows, lo, span):
    """Batch form of the watermarked stream-stream join vs a brute model:
    inclusive bounds, NULL keys never match, left_outer pads exactly the
    partnerless left rows."""
    from akka_stream_contrib_spark.streaming import stream_interval_join
    spark = _get_spark()
    hi = lo + span
    base = "2024-01-01 00:00:00"
    left = spark.createDataFrame(
        [(k, i, f"2024-01-01 00:00:{s:02d}" if s < 60
          else f"2024-01-01 00:01:{s-60:02d}")
         for i, (k, s) in enumerate(lrows)] or None,
        "k long, lid long, lts string"
    ).selectExpr("k", "lid", "cast(lts as timestamp) lts") \
        if lrows else spark.createDataFrame([], "k long, lid long, lts timestamp")
    right = spark.createDataFrame(
        [(k, i, f"2024-01-01 00:00:{s:02d}" if s < 60
          else f"2024-01-01 00:01:{s-60:02d}")
         for i, (k, s) in enumerate(rrows)] or None,
        "k long, rid long, rts string"
    ).selectExpr("k", "rid", "cast(rts as timestamp) rts") \
        if rrows else spark.createDataFrame([], "k long, rid long, rts timestamp")
    inner = stream_interval_join(left, right, "k", "lts", "rts",
                                 lower_s=lo, upper_s=hi)
    got = {(r.lid, r.rid) for r in inner.collect()}
    model = {(i, j)
             for i, (lk, ls) in enumerate(lrows) if lk is not None
             for j, (rk, rs) in enumerate(rrows)
             if rk == lk and ls + lo <= rs <= ls + hi}
    assert got == model
    outer = stream_interval_join(left, right, "k", "lts", "rts",
                                 lower_s=lo, upper_s=hi, how="left_outer")
    orows = outer.collect()
    assert {(r.lid, r.rid) for r in orows if r.rid is not None} == model
    matched_left = {i for i, _ in model}
    assert {r.lid for r in orows if r.rid is None} \
        == set(range(len(lrows))) - matched_left


# ---------------------------------------------------------------------------
# round-7 session-2 invariants
# ---------------------------------------------------------------------------

@given(st.lists(st.tuples(st.sampled_from("xy"), st.sampled_from("xy")),
                min_size=2, max_size=60))
@settings(**SETTINGS)
def test_cohen_kappa_symmetric_and_bounded(pairs):
    from akka_stream_contrib_spark.functions.ml import cohen_kappa
    spark = _get_spark()
    df = spark.createDataFrame(pairs, "a string, b string")
    r = df.transform(cohen_kappa("a", "b")).head()
    s = df.transform(cohen_kappa("b", "a")).head()
    # kappa is symmetric in the raters, and bounded by [-1, 1]
    assert r.kappa == s.kappa and r.p_e == s.p_e
    if r.kappa is not None:
        assert -1.0 <= r.kappa <= 1.0
    assert r.p_o is not None and 0.0 <= r.p_o <= 1.0


@given(st.lists(st.tuples(st.integers(0, 3), st.booleans()),
                min_size=1, max_size=60))
@settings(**SETTINGS)
def test_wilson_bound_below_rate_and_in_unit_interval(rows):
    from akka_stream_contrib_spark.functions.ml import wilson_rank
    spark = _get_spark()
    df = spark.createDataFrame(rows, "g int, ok boolean")
    out = df.transform(wilson_rank(F.col("ok"), "g", min_trials=1,
                                   top_k=100)).collect()
    assert out  # every group has >= 1 trial
    for r in out:
        assert 0.0 <= r.wilson_lb <= r.rate <= 1.0
    # ranked by the bound, descending (group asc inside ties)
    lbs = [r.wilson_lb for r in out]
    assert lbs == sorted(lbs, reverse=True)


@given(st.lists(st.tuples(st.integers(0, 1), st.integers(0, 9)),
                min_size=2, max_size=60))
@settings(**SETTINGS)
def test_f1_sweep_is_the_argmax(rows):
    from akka_stream_contrib_spark.functions.ml import f1_threshold_sweep
    spark = _get_spark()
    df = spark.createDataFrame(rows, "label int, score int")
    r = df.transform(f1_threshold_sweep()).head()
    pos = sum(1 for y, _ in rows if y == 1)
    for t in sorted({s for _, s in rows}):
        tp = sum(1 for y, s in rows if s >= t and y == 1)
        fp = sum(1 for y, s in rows if s >= t and y == 0)
        f1 = round(2 * tp / (tp + fp + pos), 6) if (tp + fp + pos) else None
        if f1 is not None and r.f1 is not None:
            assert r.f1 >= f1  # the swept optimum dominates every cut


@given(st.lists(st.tuples(st.integers(1, 6), st.integers(1, 6)),
                min_size=1, max_size=40))
@settings(**SETTINGS)
def test_k_core_nested_in_lower_core(edges):
    from akka_stream_contrib_spark.functions.graph import k_core
    spark = _get_spark()
    edges = [e for e in edges if e[0] != e[1]]
    if not edges:
        return
    df = spark.createDataFrame(edges, "src int, dst int")
    core3 = {r.id for r in k_core(df, k=3, rounds=10).collect()}
    core2 = {r.id for r in k_core(df, k=2, rounds=10).collect()}
    assert core3 <= core2  # the 3-core nests inside the 2-core


@given(st.lists(st.tuples(st.integers(1, 8), st.integers(1, 8)),
                min_size=1, max_size=40))
@settings(**SETTINGS)
def test_bfs_triangle_inequality_on_edges(edges):
    from akka_stream_contrib_spark.functions.graph import bfs_hops
    spark = _get_spark()
    edges = [e for e in edges if e[0] != e[1]]
    if not edges:
        return
    df = spark.createDataFrame(edges, "src int, dst int")
    seed = min(min(e) for e in edges)
    dist = {r.id: r.dist for r in bfs_hops(df, seed, max_hops=10).collect()}
    assert dist[seed] == 0
    for u, v in edges:
        if u in dist and v in dist:
            assert abs(dist[u] - dist[v]) <= 1  # adjacent nodes differ by <=1
        # a settled node's neighbor inside the bound must be settled
        if u in dist and dist[u] < 10:
            assert v in dist


@given(st.lists(st.text(alphabet="ab ", min_size=1, max_size=20),
                min_size=1, max_size=8))
@settings(**SETTINGS)
def test_bleu_identity_and_unit_interval(texts):
    from akka_stream_contrib_spark.functions.text import bleu2_corpus
    spark = _get_spark()
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    # candidate == reference -> every precision 1, bp 1, bleu 1 (when a
    # bigram exists somewhere; all-single-token corpora have p2 NULL)
    r = df.transform(bleu2_corpus(df)).head()
    assert r.p1 == 1.0 and r.bp == 1.0
    if r.d2 and r.d2 > 0:
        assert r.bleu2 == 1.0
    # shuffled pairing stays within [0, 1]
    shifted = spark.createDataFrame(
        [((i + 1) % len(rows), t) for i, t in rows],
        "doc_id int, text string")
    s = df.transform(bleu2_corpus(shifted)).head()
    if s.bleu2 is not None:
        assert 0.0 <= s.bleu2 <= 1.0


@given(st.lists(st.tuples(st.integers(0, 50), st.booleans(),
                          st.integers(0, 999)),
                min_size=4, max_size=60, unique_by=lambda r: r[2]))
@settings(**SETTINGS)
def test_split_conformal_quantile_is_kth_smallest(rows):
    from akka_stream_contrib_spark.functions.ml import split_conformal
    if not any(c for _, c, _ in rows) or all(c for _, c, _ in rows):
        return  # need both slices
    spark = _get_spark()
    df = spark.createDataFrame([(float(s), c, i) for s, c, i in rows],
                               "s double, c boolean, doc_id int")
    r = df.transform(split_conformal("s", "c")).head()
    cal = sorted(float(s) for s, c, _ in rows if c)
    n = len(cal)
    k = min(max(-(-((n + 1) * 9) // 10), 1), n)
    assert (r.n_calib, r.k) == (n, k)
    assert r.q_hat == round(cal[k - 1], 6)
    test = [float(s) for s, c, _ in rows if not c]
    assert r.n_covered == sum(1 for s in test if s <= cal[k - 1])


@given(st.lists(st.tuples(st.integers(1, 3), st.integers(0, 27)),
                min_size=1, max_size=60))
@settings(**SETTINGS)
def test_active_users_windows_nest(rows):
    from datetime import datetime, timedelta
    from akka_stream_contrib_spark.functions.ml import rolling_active_users
    spark = _get_spark()
    base = datetime(2024, 5, 1)
    df = spark.createDataFrame(
        [(u, base + timedelta(days=d)) for u, d in rows],
        "user_id long, ts timestamp")
    out = rolling_active_users(df).collect()
    assert out  # at least one active day
    for r in out:
        # daily actives are inside the weekly window, weekly inside the
        # monthly; stickiness stays in [0, 1]
        assert 0 <= r.dau <= r.wau <= r.mau
        assert 0.0 <= r.stickiness <= 1.0


# ------------------------------------------------------- round-8 additions


def theil_sen_model(pts: list[tuple[int, float]]) -> float | None:
    """Pure-python reference: exact lower median of pairwise slopes under
    the (slope, xi, xj) total order."""
    slopes = []
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            (xi, vi), (xj, vj) = pts[i], pts[j]
            if xi != xj:
                lo, hi = (pts[i], pts[j]) if xi < xj else (pts[j], pts[i])
                slopes.append(((hi[1] - lo[1]) / float(hi[0] - lo[0]),
                               lo[0], hi[0]))
    if not slopes:
        return None
    slopes.sort()
    return round(slopes[(len(slopes) + 1) // 2 - 1][0], 6)


@given(st.lists(
    st.tuples(st.integers(0, 30),
              st.floats(-100, 100, allow_nan=False, width=32)),
    min_size=2, max_size=12, unique_by=lambda t: t[0]))
@settings(**SETTINGS)
def test_theil_sen_hof_rewrite_matches_bruteforce(pts):
    from akka_stream_contrib_spark.operators.timeseries import theil_sen_trend
    spark = _get_spark()
    df = spark.createDataFrame([(1, x, float(v)) for x, v in pts],
                               "user_id int, event_id int, value double")
    rows = df.transform(theil_sen_trend()).collect()
    want = theil_sen_model([(x, float(v)) for x, v in pts])
    if want is None:
        assert rows == []
    else:
        assert len(rows) == 1
        assert rows[0].theil_slope == want + 0.0
        assert rows[0].n_pairs == len(pts) * (len(pts) - 1) // 2


def adamic_adar_model(edges: set[tuple[int, int]], cap: int):
    import math
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbr: dict[int, set[int]] = {}
    for a, b in und:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    out = {}
    centers = {v for v, ns in nbr.items() if 2 <= len(ns) <= cap}
    for z in centers:
        ns = sorted(nbr[z])
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                pair = (ns[i], ns[j])
                if pair not in und:
                    t = round(1.0 / math.log(len(nbr[z])), 9)
                    c, s_ = out.get(pair, (0, 0.0))
                    out[pair] = (c + 1, round(s_ + t, 9))
    return {p: (c, round(s_, 6)) for p, (c, s_) in out.items()}


@given(st.sets(st.tuples(st.integers(0, 8), st.integers(0, 8)),
               min_size=1, max_size=16))
@settings(**SETTINGS)
def test_adamic_adar_matches_python_model(edges):
    from akka_stream_contrib_spark.functions.graph import adamic_adar
    spark = _get_spark()
    df = spark.createDataFrame([(a, b) for a, b in edges],
                               "src long, dst long")
    got = {(r.x, r.y): (r.n_common, r.adamic_adar)
           for r in adamic_adar(df, top_k=1000, max_degree=5).collect()}
    want = adamic_adar_model(edges, cap=5)
    assert got == {p: (c, s_ + 0.0) for p, (c, s_) in want.items()}


@given(st.lists(st.integers(0, 1_000_000), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_grouped_split_is_a_pure_function_of_the_group(uids):
    from akka_stream_contrib_spark.functions import grouped_split
    spark = _get_spark()
    # two rows per uid in different "tables" must land in the same split
    df = spark.createDataFrame([(i, u) for i, u in enumerate(uids * 2)],
                               "row_id int, user_id long")
    out = df.transform(grouped_split("user_id"))
    per = (out.groupBy("user_id")
           .agg(F.countDistinct("split").alias("n")).collect())
    assert all(r.n == 1 for r in per)


@given(st.lists(st.integers(0, 10_000), min_size=2, max_size=25,
                unique=True))
@settings(**SETTINGS)
def test_purged_time_split_is_ordered_and_exhaustive(offsets):
    from akka_stream_contrib_spark.functions import purged_time_split
    import datetime
    spark = _get_spark()
    base = datetime.datetime(2026, 1, 1)
    rows = [(i, base + datetime.timedelta(seconds=o))
            for i, o in enumerate(offsets)]
    df = (spark.createDataFrame(rows, "event_id int, ts timestamp")
          .withColumn("ts", F.col("ts").cast("timestamp_ntz")))
    out = df.transform(purged_time_split("ts")).collect()
    assert len(out) == len(rows)
    order = {"train": 0, "embargo": 1, "test": 2}
    got = sorted((r.ts, order[r.split]) for r in out)
    # split labels are monotone in time: train <= embargo <= test
    labels = [g[1] for g in got]
    assert labels == sorted(labels)
    # min is always train, max is always test (span endpoints)
    assert labels[0] == 0 and labels[-1] == 2
