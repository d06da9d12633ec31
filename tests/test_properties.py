"""Property-based tests (hypothesis): operators vs naive Python models
on randomized inputs. Few examples, small inputs — each example pays a
Spark job; the value is the adversarial shapes hypothesis finds
(duplicate timestamps, single-row keys, all-same-key, empty sides),
not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from change_data_capture_poc_spark.operators import asof_join, sessionize

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (key, ts_seconds, payload) rows; keys/timestamps deliberately collide.
_left_rows = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.integers(0, 50),
        st.integers(0, 10_000),
    ),
    min_size=0,
    max_size=25,
)
_right_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)),
    min_size=0,
    max_size=25,
)


@given(left=_left_rows, right=_right_rows)
@settings(**_SETTINGS)
def test_asof_join_matches_model(spark, left, right):
    # Dedupe the right side per (key, ts) — the operator's documented
    # determinism precondition (value = max per slot, like the query).
    rmap: dict[tuple[int, int], float] = {}
    for k, t in right:
        rmap[(k, t)] = float(max(rmap.get((k, t), float("-inf")), t * 10))
    # Unique left ids for comparison.
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t, _) in enumerate(left)],
        "lid int, k int, t long",
    ).select("lid", "k", F.timestamp_seconds("t").alias("t"))
    rdf = spark.createDataFrame(
        [(k, t, v) for (k, t), v in rmap.items()] or [(None, None, None)],
        "k int, rt long, v double",
    ).where(F.col("k").isNotNull()).select(
        "k", F.timestamp_seconds("rt").alias("rt"), "v"
    )

    got = {
        r.lid: r.v
        for r in asof_join(
            ldf, rdf, on="k", left_ts="t", right_ts="rt", right_values=["v"]
        ).collect()
    }

    want = {}
    for i, (k, t, _) in enumerate(left):
        cands = [(rt, v) for (rk, rt), v in rmap.items() if rk == k and rt <= t]
        want[i] = max(cands)[1] if cands else None
    assert got == want


@given(rows=_left_rows, gap=st.integers(1, 20))
@settings(**_SETTINGS)
def test_sessionize_matches_model(spark, rows, gap):
    df = spark.createDataFrame(
        [(i, k, t) for i, (k, t, _) in enumerate(rows)],
        "eid int, k int, ts_s long",
    ).select("eid", "k", F.timestamp_seconds("ts_s").alias("ts"))
    got = {
        r.eid: r.session_id
        for r in sessionize(
            df, key="k", ts="ts", gap_seconds=gap, order_tiebreak="eid"
        ).collect()
    }

    want = {}
    by_key: dict[int, list[tuple[int, int]]] = {}
    for i, (k, t, _) in enumerate(rows):
        by_key.setdefault(k, []).append((t, i))
    for k, evs in by_key.items():
        evs.sort()
        sid, prev = 0, None
        for t, i in evs:
            if prev is None or t - prev > gap:  # strict: exactly-gap merges
                sid += 1
            want[i] = sid
            prev = t
    assert got == want


@given(left=_left_rows, right=_right_rows, tol=st.integers(1, 30))
@settings(**_SETTINGS)
def test_asof_forward_tolerance_matches_model(spark, left, right, tol):
    rmap: dict[tuple[int, int], float] = {}
    for k, t in right:
        rmap[(k, t)] = float(max(rmap.get((k, t), float("-inf")), t * 10))
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t, _) in enumerate(left)],
        "lid int, k int, t long",
    ).select("lid", "k", F.timestamp_seconds("t").alias("t"))
    rdf = spark.createDataFrame(
        [(k, t, v) for (k, t), v in rmap.items()] or [(None, None, None)],
        "k int, rt long, v double",
    ).where(F.col("k").isNotNull()).select(
        "k", F.timestamp_seconds("rt").alias("rt"), "v"
    )

    got = {
        r.lid: r.v
        for r in asof_join(
            ldf, rdf, on="k", left_ts="t", right_ts="rt",
            right_values=["v"], direction="forward",
            tolerance_seconds=tol,
        ).collect()
    }

    want = {}
    for i, (k, t, _) in enumerate(left):
        cands = [
            (rt, v)
            for (rk, rt), v in rmap.items()
            if rk == k and t <= rt <= t + tol
        ]
        want[i] = min(cands)[1] if cands else None
    assert got == want


_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=30,
)


@given(edges=_edges)
@settings(**_SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    from change_data_capture_poc_spark.operators.components import (
        connected_components,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    # Reference model: classic union-find.
    parent: dict[int, int] = {}

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
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == want


@given(
    points=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=0, max_size=20,
    ),
    intervals=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 40)),
        min_size=0, max_size=15,
    ),
    bucket_s=st.sampled_from([7, 24, 60]),
)
@settings(**_SETTINGS)
def test_range_join_matches_model(spark, points, intervals, bucket_s):
    from change_data_capture_poc_spark.operators.rangejoin import (
        range_join_by_bucket,
    )

    pdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(points)] or [(None,) * 3],
        "pid int, pk int, t long",
    ).where(F.col("pid").isNotNull()).select(
        "pid", "pk", F.timestamp_seconds("t").alias("t")
    )
    idf = spark.createDataFrame(
        [(j, k, lo, lo + span) for j, (k, lo, span) in enumerate(intervals)]
        or [(None,) * 4],
        "iid int, ik int, lo long, hi long",
    ).where(F.col("iid").isNotNull()).select(
        "iid", "ik",
        F.timestamp_seconds("lo").alias("lo"),
        F.timestamp_seconds("hi").alias("hi"),
    )
    got = {
        (r.pid, r.iid)
        for r in range_join_by_bucket(
            pdf, idf, "pk", "ik", "t", "lo", "hi",
            bucket_ms=bucket_s * 1000,
        ).collect()
    }
    want = {
        (i, j)
        for i, (pk, t) in enumerate(points)
        for j, (ik, lo, span) in enumerate(intervals)
        if pk == ik and lo <= t <= lo + span
    }
    assert got == want


_doc_texts = st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=120).filter(
        lambda s: s.strip()
    ),
    min_size=1,
    max_size=8,
)


_SLOW_OK = dict(
    _SETTINGS,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)


@given(texts=_doc_texts)
@settings(**_SLOW_OK)
def test_chunk_overlap_covers_every_token(spark, texts):
    """Every token lands in >= 1 chunk; chunk starts advance by the
    stride; rebuilding the doc from stride-aligned chunk prefixes
    reproduces the token sequence exactly."""
    import change_data_capture_poc_spark.queries.datapipe as dp

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig = dp.load_table

    def fake_load(spark_, sf_dir_, name):
        assert name == "documents"
        return df

    dp.load_table = fake_load
    try:
        out = dp.text_chunk_overlap(spark, "ignored").collect()
    finally:
        dp.load_table = orig

    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in rows:
        toks = t.split(" ")
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        # chunk_idx is dense from 0; each covers tokens
        # [idx*stride, idx*stride + len) — prefixes of stride tokens
        # concatenate back to the document.
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        rebuilt = []
        for c in chunks:
            ctoks = c.chunk_text.split(" ") if c.chunk_text else [""]
            assert c.n_tokens == len(ctoks)
            rebuilt.extend(ctoks[: dp._CHUNK_STRIDE])
        # Tail tokens beyond the last stride boundary come from the
        # final chunk's overflow.
        last = chunks[-1]
        ltoks = last.chunk_text.split(" ") if last.chunk_text else [""]
        rebuilt.extend(ltoks[dp._CHUNK_STRIDE:])
        assert rebuilt == toks


@given(
    vecs=st.lists(
        st.lists(
            st.one_of(
                st.floats(min_value=0.0010000000474974513, max_value=8,
                          allow_nan=False, width=32),
                st.floats(min_value=-8, max_value=-0.0010000000474974513,
                          allow_nan=False, width=32),
            ),
            min_size=2,
            max_size=6,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**_SLOW_OK)
def test_quantize_error_bounded_by_half_step(spark, vecs):
    """Symmetric int8 quantization: every element's error <= s/2, so
    per-label MSE (ppm) <= (s_max/2)^2 * 1e6 for the label's largest
    scale."""
    import change_data_capture_poc_spark.queries.datapipe as dp

    rows = [(i, v, i % 2) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    orig = dp.load_table

    def fake_load(spark_, sf_dir_, name):
        assert name == "embeddings"
        return df

    dp.load_table = fake_load
    try:
        out = {r.label: r for r in dp.embedding_quantize_error(
            spark, "ignored").collect()}
    finally:
        dp.load_table = orig

    import numpy as np

    for label in {r[2] for r in rows}:
        s_max = max(
            max(abs(np.float32(x)) for x in v) / 127.0
            for i, v, lb in rows
            if lb == label
        )
        bound_ppm = (s_max / 2) ** 2 * 1e6 + 1e-3
        assert out[label].mse_ppm <= bound_ppm


_cdc_ops = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user_id
        st.sampled_from(["signup", "click", "view", "purchase", "error"]),
        st.integers(min_value=-50, max_value=50),  # value (int-valued)
    ),
    min_size=1,
    max_size=40,
)


@given(ops=_cdc_ops)
@settings(**_SLOW_OK)
def test_net_effect_equals_replay(spark, ops):
    """Net-effect compaction contract: applying the single net change
    per key to any prior state yields the same final state as
    replaying the whole batch — checked against an independent
    in-Python state-machine replay."""
    import change_data_capture_poc_spark.queries.cdc_ops_q as co

    rows = [
        (i, None, uid, et, float(v), None)
        for i, (uid, et, v) in enumerate(ops)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = co.load_table

    def fake_load(spark_, sf_dir_, name):
        assert name == "events"
        return df

    co.load_table = fake_load
    try:
        out = {
            r.user_id: r
            for r in co.cdc_net_effect_compaction(spark, "ignored").collect()
        }
    finally:
        co.load_table = orig

    op_map = {"signup": "c", "error": "d"}
    expected = {}
    for i, (uid, et, v) in enumerate(ops):
        op = op_map.get(et, "u")
        first, _, _, _, n = expected.get(uid, (op, None, None, None, 0))
        expected[uid] = (first, op, float(v), i, n + 1)

    for uid, (first, last, v, last_id, n) in expected.items():
        if first == "c" and last == "d":
            assert uid not in out  # transient key vanishes
            continue
        r = out[uid]
        net = "d" if last == "d" else ("c" if first == "c" else "u")
        assert r.net_op == net
        assert r.last_event_id == last_id
        assert r.n_ops == n
        if net == "d":
            assert r.net_value is None
        else:
            assert r.net_value == v
    assert len(out) == sum(
        1 for f, l, *_ in expected.values() if not (f == "c" and l == "d")
    )


_lsn_ids = st.lists(
    st.integers(0, 2000), min_size=5, max_size=60, unique=True
)


@given(ids=_lsn_ids)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lsn_gap_transactions_match_model(spark, ids):
    """The banded-prefix-sum transaction inference must equal the naive
    global model (sort ids, split where the gap exceeds _TX_GAP) for
    ANY id pattern — including the adversarial tiny/sparse ranges where
    whole bands go empty (the round-4 stitch regression)."""
    import datetime as dt
    import tempfile

    from change_data_capture_poc_spark.queries.cdc_ops_q import _TX_GAP
    from change_data_capture_poc_spark.registry import all_queries

    sids = sorted(ids)
    groups, cur = [], [sids[0]]
    for a, b in zip(sids, sids[1:]):
        if b - a > _TX_GAP:
            groups.append(cur)
            cur = [b]
        else:
            cur.append(b)
    groups.append(cur)
    expected = {
        (g[0], g[-1], len(g), len({i % 5 for i in g})) for g in groups
    }

    ts = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, ts, i % 5, "purchase", 1.0, "{}") for i in sids],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    d = tempfile.mkdtemp(prefix="lsn_prop_")
    try:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = all_queries()["cdc_lsn_gap_transactions"].fn(spark, d).collect()
        got = {
            (r.first_lsn, r.last_lsn, r.n_changes, r.n_keys) for r in out
        }
        assert got == expected
    finally:
        # hypothesis re-runs this body per example — an unremoved
        # mkdtemp accumulates parquet dirs in /tmp across CI runs.
        import shutil

        shutil.rmtree(d, ignore_errors=True)


# (id, group-or-None, score) rows: duplicate scores, NULL keys, and
# groups of wildly different sizes are exactly the shapes that break a
# partial top-k.
_topk_rows = st.lists(
    st.tuples(
        st.integers(0, 10_000),
        st.one_of(st.none(), st.integers(0, 3)),
        st.integers(-5, 5),
    ),
    min_size=0,
    max_size=40,
)


@given(rows=_topk_rows, k=st.integers(1, 6))
@settings(**_SETTINGS)
def test_grouped_topk_matches_model(spark, rows, k):
    """grouped_topk == a naive Python model (sort desc-score /
    asc-id, take k per group, NULL key = its own group) on adversarial
    inputs. The id is deduplicated first so the ordering is total —
    the operator's documented precondition."""
    from change_data_capture_poc_spark.operators.topk import grouped_topk

    dedup = {r[0]: r for r in rows}.values()
    expected = {}
    for rid, grp, score in sorted(
        dedup, key=lambda r: (-r[2], r[0])
    ):
        expected.setdefault(grp, [])
        if len(expected[grp]) < k:
            expected[grp].append((rid, grp, float(score)))
    want = sorted(
        (t for ts in expected.values() for t in ts), key=str
    )

    df = spark.createDataFrame(
        [(rid, grp, float(s)) for rid, grp, s in dedup],
        "id long, grp int, score double",
    ).repartition(3)
    got = sorted(
        (
            tuple(r)
            for r in grouped_topk(
                df, ["grp"], [("score", False), ("id", True)], k
            ).collect()
        ),
        key=str,
    )
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "cc", "d0"]), min_size=0,
                 max_size=90),
        min_size=1, max_size=6,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunk_sliding_window_matches_model(spark, docs):
    """Chunking invariants on random token lists: chunk i is EXACTLY
    tokens[i*S : i*S+W]; chunk count is 1+ceil((n-W)/S); every token
    position is covered; n_tokens matches the emitted text."""
    from change_data_capture_poc_spark.operators.chunking import (
        CHUNK_S,
        CHUNK_W,
        chunk_sliding_window,
    )

    W, S = CHUNK_W, CHUNK_S
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    collected = chunk_sliding_window(df).collect()
    got: dict[tuple[int, int], tuple[int, str]] = {}
    for r in collected:
        got[(r.doc_id, r.chunk_idx)] = (r.n_tokens, r.chunk_text)
    # duplicate (doc_id, chunk_idx) emissions must not silently
    # collapse into the dict and pass the per-index checks below
    assert len(collected) == len(got)

    for i, toks in enumerate(docs):
        w = " ".join(toks).split(" ")  # split('') -> [''], as the op sees
        n = len(w)
        nc = 1 + max(0, -(-(n - W) // S)) if n > W else 1
        idxs = sorted(ci for (d, ci) in got if d == i)
        assert idxs == list(range(nc)), (i, n, nc, idxs)
        covered = set()
        for ci in idxs:
            want = w[ci * S: ci * S + W]
            n_tok, text = got[(i, ci)]
            assert n_tok == len(want)
            assert text == " ".join(want)
            covered.update(range(ci * S, min(ci * S + W, n)))
        assert covered == set(range(n))  # no token falls between chunks


# Tiny-vocabulary random documents: a 3-letter alphabet over short
# docs makes repeated 4-grams (and repeated RUNS of them) common, so
# the gaps-and-islands merge sees adjacent, overlapping, and disjoint
# duplicated regions — the shapes that break naive run logic.
_run_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=0, max_size=24
    ),
    min_size=1,
    max_size=6,
)


@given(docs=_run_docs)
@settings(**_SETTINGS)
def test_substring_runs_match_model(spark, docs):
    """dedup_substring_suffix_runs vs a naive Python model: duplicated
    K-gram start positions -> merged maximal runs -> per-doc
    (n_runs, dup_tokens, max_run) — with K shrunk to 4 so tiny random
    docs actually collide."""
    import collections

    from change_data_capture_poc_spark.operators import sketch
    from change_data_capture_poc_spark.queries import pipeline6_q

    K = 4
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]

    # Model: gram -> occurrence count over all (doc, pos).
    occ = collections.Counter()
    for i, toks in enumerate(docs):
        for p in range(len(toks) - K + 1):
            occ[tuple(toks[p:p + K])] += 1
    expected = {}
    for i, toks in enumerate(docs):
        dup_pos = [
            p
            for p in range(len(toks) - K + 1)
            if occ[tuple(toks[p:p + K])] > 1
        ]
        if not dup_pos:
            continue
        runs = []
        start = prev = dup_pos[0]
        for p in dup_pos[1:]:
            if p == prev + 1:
                prev = p
                continue
            runs.append((start, prev))
            start = prev = p
        runs.append((start, prev))
        expected[i] = (
            len(runs),
            sum(p1 - p0 + K for p0, p1 in runs),
            max(p1 - p0 + K for p0, p1 in runs),
        )

    import tempfile

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    orig_k = sketch.SPAN_K
    sketch.SPAN_K = K
    try:
        with tempfile.TemporaryDirectory() as td:
            df.write.parquet(f"{td}/documents.parquet")
            got = {
                r.doc_id: (r.n_dup_runs, r.dup_tokens, r.max_run_tokens)
                for r in pipeline6_q.dedup_substring_suffix_runs(
                    spark, td
                ).collect()
            }
    finally:
        sketch.SPAN_K = orig_k
    assert got == expected


@given(hvs=st.lists(st.integers(0, 2**32 - 1), min_size=1, max_size=40))
@settings(**_SETTINGS)
def test_hll_rho_matches_python_model(spark, hvs):
    """The portable HLL's first-1-bit rank trick (lpad(bin(w)) string
    search) vs a direct Python bit scan, over adversarial 32-bit
    hashes (0, powers of two, all-ones)."""
    from change_data_capture_poc_spark.operators.sketch import (
        HLL_M,
        HLL_WBITS,
        hll_rho,
    )

    def model_rho(hv: int) -> int:
        w = hv // HLL_M
        for i in range(HLL_WBITS):
            if w & (1 << (HLL_WBITS - 1 - i)):
                return i + 1
        return HLL_WBITS + 1

    df = spark.createDataFrame([(h,) for h in hvs], "hv bigint")
    got = {
        r.hv: r.rho
        for r in df.select("hv", hll_rho().alias("rho")).collect()
    }
    for h in hvs:
        assert got[h] == model_rho(h), h


_token_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "the", "of"]),
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=8,
)


@given(docs=_token_docs)
@settings(**_SETTINGS)
def test_minhash_bands_match_python_model(spark, docs):
    """Word-4-gram shingles, MinHash signatures and LSH bands vs a
    hashlib model: base hash int(md5(gram)[:8], 16) % P, one minimum
    of (a*x + b) % P per (a, b), then each band's 3 rows joined by
    '|'. Documents shorter than 4 tokens have no grams and no rows.
    The bands spell out all 12 signature components, so one collect
    checks shingles, signatures and banding together."""
    import hashlib

    from change_data_capture_poc_spark.operators.minhash import (
        BANDS,
        MH_AB,
        MH_P,
        NGRAM_N,
        spark_bands,
        spark_grams,
    )

    bands = set()
    for i, toks in enumerate(docs):
        if len(toks) < NGRAM_N:
            continue
        grams = {
            " ".join(toks[j:j + NGRAM_N])
            for j in range(len(toks) - NGRAM_N + 1)
        }
        xs = [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % MH_P
            for g in grams
        ]
        sig = [min((a * x + b) % MH_P for x in xs) for a, b in MH_AB]
        for band in range(BANDS):
            key = "|".join(str(v) for v in sig[3 * band:3 * band + 3])
            bands.add((i, band, key))

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id bigint, text string",
    )
    got = {
        (r.doc_id, r.band_id, r.band_key)
        for r in spark_bands(spark_grams(df)).collect()
    }
    assert got == bands


_rank_rows = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 5)),  # (n, tok-ish)
    min_size=0,
    max_size=40,
)


@given(rows=_rank_rows, p=st.integers(1, 9))
@settings(**_SETTINGS)
def test_global_row_number_matches_model(spark, rows, p):
    """with_global_row_number == enumerate(sorted(...)) under a total
    ordering, for any partition count (including partitions >> rows
    and duplicate order-prefix values broken by the id tiebreak)."""
    from change_data_capture_poc_spark.operators.rank import (
        with_global_row_number,
    )

    df = spark.createDataFrame(
        [(i, n, t) for i, (n, t) in enumerate(rows)] or [(None,) * 3],
        "id int, n int, t int",
    ).where(F.col("id").isNotNull())
    got = {
        (r.id, r.rnk)
        for r in with_global_row_number(
            df, [("n", False), ("t", True), ("id", True)],
            num_partitions=p,
        ).collect()
    }
    order = sorted(
        ((n, t, i) for i, (n, t) in enumerate(rows)),
        key=lambda x: (-x[0], x[1], x[2]),
    )
    want = {(i, rk + 1) for rk, (_n, _t, i) in enumerate(order)}
    assert got == want


_ivl = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 40), st.integers(0, 15)),
    min_size=0,
    max_size=15,
)


@given(left=_ivl, right=_ivl, bucket_s=st.sampled_from([1, 5, 30]))
@settings(**_SETTINGS)
def test_interval_overlap_join_matches_model(spark, left, right, bucket_s):
    """Bucketed interval-overlap join == the naive quadratic model for
    any bucket width: every overlapping pair exactly once (the
    claim-at-overlap-start rule), touching endpoints included."""
    from change_data_capture_poc_spark.operators.rangejoin import (
        interval_overlap_join_by_bucket,
    )

    ldf = spark.createDataFrame(
        [(i, k, lo, lo + span) for i, (k, lo, span) in enumerate(left)]
        or [(None,) * 4],
        "lid int, lk int, llo long, lhi long",
    ).where(F.col("lid").isNotNull()).select(
        "lid", "lk",
        F.timestamp_seconds("llo").alias("llo"),
        F.timestamp_seconds("lhi").alias("lhi"),
    )
    rdf = spark.createDataFrame(
        [(j, k, lo, lo + span) for j, (k, lo, span) in enumerate(right)]
        or [(None,) * 4],
        "rid int, rk int, rlo long, rhi long",
    ).where(F.col("rid").isNotNull()).select(
        "rid", "rk",
        F.timestamp_seconds("rlo").alias("rlo"),
        F.timestamp_seconds("rhi").alias("rhi"),
    )
    out = interval_overlap_join_by_bucket(
        ldf, rdf, "lk", "rk", "llo", "lhi", "rlo", "rhi",
        bucket_ms=bucket_s * 1000,
    ).collect()
    got = sorted((r.lid, r.rid) for r in out)
    assert len(got) == len(set(got))  # exactly-once, bucket-width-proof
    want = sorted(
        (i, j)
        for i, (lk, llo, lspan) in enumerate(left)
        for j, (rk, rlo, rspan) in enumerate(right)
        if lk == rk and llo <= rlo + rspan and rlo <= llo + lspan
    )
    assert got == want


# 64-bit fingerprints include NEGATIVE longs (xxhash64), so the band
# extraction's arithmetic shiftright sign-extends into the masked
# bits for the top band — the model pins two's-complement agreement.
_fp_pairs = st.lists(
    st.tuples(
        st.integers(-(2**63), 2**63 - 1),
        st.integers(-(2**63), 2**63 - 1),
        # per-band "keep equal" flags: b copies a's band when kept, so
        # most examples exercise real collisions, not just the
        # otherwise-branch
        st.tuples(*[st.booleans()] * 4),
    ),
    min_size=1,
    max_size=25,
)


@given(pairs=_fp_pairs)
@settings(**_SETTINGS)
def test_first_matching_band_matches_model(spark, pairs):
    from change_data_capture_poc_spark.operators.simhash import (
        first_matching_band,
    )

    def to_i64(x: int) -> int:
        x &= (1 << 64) - 1
        return x - (1 << 64) if x >= 1 << 63 else x

    rows = []
    for a, b, keep in pairs:
        bb = b
        for j, k in enumerate(keep):
            if k:  # copy a's band j into b -> band j matches
                mask = 0xFFFF << (16 * j)
                bb = (bb & ~mask) | (a & mask)
        rows.append((a, to_i64(bb)))

    df = spark.createDataFrame(rows, "a long, b long")
    got = [
        r.fb
        for r in df.select(
            first_matching_band(F.col("a"), F.col("b"), 16, 4).alias("fb")
        ).collect()
    ]

    def model(a: int, b: int) -> int:
        x = a ^ b  # Python ints: arithmetic shift + mask == two's compl.
        for j in range(3):
            if (x >> (16 * j)) & 0xFFFF == 0:
                return j
        return 3

    assert got == [model(a, b) for a, b in rows]
