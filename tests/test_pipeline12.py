"""URL-canonicalization dedup (pipeline12_q) pins."""

from __future__ import annotations

from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.url import (
    URL_CANON_CTES,
    canonical_url_col,
    raw_url_col,
)
from change_data_capture_poc_spark.registry import all_queries


def _canon_for(spark, doc_ids):
    df = spark.createDataFrame(
        [(int(i),) for i in doc_ids], "doc_id bigint"
    )
    raw = raw_url_col()
    return {
        r.doc_id: (r.raw, r.canon)
        for r in df.select(
            "doc_id",
            raw.alias("raw"),
            canonical_url_col(raw).alias("canon"),
        ).collect()
    }


def test_canonicalization_rules_pinned(spark):
    """Each mess dimension normalizes exactly as documented."""
    got = _canon_for(spark, range(0, 73))

    # doc_id=0: HTTPS scheme, WWW., upper host, :443, trailing /,
    # utm_source & utm_campaign, ref after id, #sec0 — everything at
    # once; all of it must strip down to host/path?sorted-params.
    raw0, canon0 = got[0]
    assert raw0 == (
        "HTTPS://WWW.SITE0.EXAMPLE:443/page0/"
        "?utm_source=feed0&id=0&ref=r0&utm_campaign=c0#sec0"
    )
    assert canon0 == "site0.example/page0?id=0&ref=r0"

    # doc_id=47: http, no www, no port, no trailing slash, bare id.
    raw47, canon47 = got[47]
    assert raw47 == "http://site7.example/page2?id=1"
    assert canon47 == "site7.example/page2?id=1"

    # Param-order insensitivity: %9==1 puts ref BEFORE id, %9==0
    # after; same residues otherwise → same canonical key.
    # 28 % 9 == 1 (ref first), 36 % 9 == 0 (ref after): different
    # raws, and each canonical has sorted params.
    for i in (28, 36):
        assert got[i][1].endswith("?id=" + str(i % 2) + "&ref=r" + str(i % 2))

    # Scheme/case/port/utm/fragment variants of the same logical page
    # must collapse: find at least one canonical key with >= 2
    # distinct raws among 73 consecutive ids.
    by_canon: dict[str, set] = {}
    for raw, canon in got.values():
        by_canon.setdefault(canon, set()).add(raw)
    assert any(len(raws) >= 2 for raws in by_canon.values())


def test_dedup_url_canonical_census_shape(spark, sf_dir):
    q = all_queries()["dedup_url_canonical"]
    rows = q.fn(spark, sf_dir).collect()
    assert len(rows) > 0
    n_docs_total = sum(r.n_docs for r in rows)
    n_input = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    )
    assert n_docs_total == n_input  # census covers every doc exactly once
    assert all(r.n_raw_variants <= r.n_docs for r in rows)
    assert any(r.n_raw_variants > 1 for r in rows)  # mess does collapse
    # keeper is the minimum doc in its group: monotone check vs a
    # recomputed min through the raw pairs
    df = q.fn(spark, sf_dir)
    recomputed = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .withColumn("canonical_url", canonical_url_col(raw_url_col()))
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("k2"))
    )
    j = df.join(recomputed, "canonical_url")
    assert j.where(F.col("keeper_doc_id") != F.col("k2")).count() == 0


def test_bloom_paragraph_equals_sequential_stream(spark, sf_dir):
    """The relational per-bit first-set-time reformulation must equal
    a literal sequential replay of Dolma's check-then-add stream:
    paragraphs processed in global (doc_id, pos) order against one
    mutable bit set; drop iff all bits present at arrival; add after.
    This is the claim the query's determinism rests on."""
    import hashlib

    from change_data_capture_poc_spark.queries.pipeline12_q import (
        _PARA_N,
    )
    from change_data_capture_poc_spark.operators.sketch import (
        BLOOM_H,
        BLOOM_M,
    )
    from change_data_capture_poc_spark.registry import all_queries

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    def bits_of(gh: str):
        return {
            int(hashlib.md5(f"{h}:{gh}".encode()).hexdigest()[:8], 16)
            % BLOOM_M
            for h in range(BLOOM_H)
        }

    spans = []
    for r in docs:
        w = r.text.split(" ")
        for pos in range((len(w) + _PARA_N - 1) // _PARA_N):
            chunk = " ".join(w[pos * _PARA_N: (pos + 1) * _PARA_N])
            gh = hashlib.md5(chunk.encode()).hexdigest()
            spans.append((r.doc_id * 1000000 + pos, r.doc_id, gh))
    spans.sort()

    bitset: set[int] = set()
    seen: set[str] = set()
    want: dict[int, list[int]] = {}
    for _k, doc_id, gh in spans:
        st = want.setdefault(doc_id, [0, 0, 0, 0])  # n, exact, fp, kept
        st[0] += 1
        gb = bits_of(gh)
        if gh in seen:
            st[1] += 1
        elif gb <= bitset:
            st[2] += 1
        else:
            st[3] += 1
        seen.add(gh)
        bitset |= gb
    got = {
        r.doc_id: [
            r.n_paragraphs, r.n_exact_dropped, r.n_fp_dropped, r.n_kept
        ]
        for r in all_queries()["dedup_bloom_paragraph"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == want
    assert sum(v[2] for v in want.values()) > 0  # FP path exercised


def test_port_strip_twin_semantics_on_adversarial_urls(spark):
    """Round-13 ADVICE close: the default-port strip is anchored to
    the host position on BOTH engines (^([^/:?#]*):(443|80)/), so the
    Spark replace-ALL vs DuckDB replace-FIRST difference can no longer
    diverge on a URL carrying a second ':443/'-looking substring (e.g.
    in a query-param value). The synthesis can't produce such URLs, so
    this pins the rule on crafted ones directly, running the engine
    column and the oracle's canonicalisation chain side by side."""
    import duckdb

    crafted = [
        # second ':443/' inside a param value — the divergence case
        "https://site1.example:443/page1?x=:443/&id=1",
        # ':80/' in the PATH, no real port — must NOT be stripped
        "http://site2.example/redirect?to=host:80/deep",
        # port on host AND port-lookalike later
        "HTTP://WWW.site3.example:80/a/?u=b:443/c#frag",
        # no port at all, colon-ish userinfo-free host
        "https://site4.example/p?id=0",
    ]
    df = spark.createDataFrame([(u,) for u in crafted], "raw string")
    spark_out = {
        r.raw: r.canon
        for r in df.select(
            "raw", canonical_url_col(F.col("raw")).alias("canon")
        ).collect()
    }

    con = duckdb.connect()
    # The oracle's own canonicalisation chain, reading the crafted URLs
    # as its u(doc_id, raw_url) relation.
    values = ", ".join("(?, ?)" for _ in crafted)
    duck = con.execute(
        f"""
        WITH u(doc_id, raw_url) AS (VALUES {values}),{URL_CANON_CTES}
        SELECT raw_url, canonical_url FROM canon
        """,
        [x for i, u in enumerate(crafted) for x in (i, u)],
    ).fetchall()
    duck_out = {raw: canon for raw, canon in duck}

    assert spark_out == duck_out
    # And the anchored rule did what it should: host port stripped,
    # lookalikes preserved.
    assert spark_out[crafted[0]] == "site1.example/page1?id=1&x=:443/"
    assert ":80/deep" in spark_out[crafted[1]]
    assert spark_out[crafted[2]].startswith("site3.example/a")
