"""Every registered query must build an analyzable plan with a stable,
lower-case-unique schema — the cheap whole-surface regression gate
(plan analysis only; the DuckDB oracle run is the correctness gate).
"""

from __future__ import annotations

import pytest

from change_data_capture_poc_spark.registry import all_queries


@pytest.fixture(scope="module")
def built_schemas(spark, sf_dir):
    """Build every registered query once and keep its output schema;
    both schema tests below read from this one build. Schema analysis
    only; costs no execution."""
    qs = all_queries()
    return {name: q.fn(spark, sf_dir).schema for name, q in sorted(qs.items())}


def test_all_queries_build_and_have_stable_schemas(built_schemas):
    assert len(built_schemas) >= 71
    for name, schema in built_schemas.items():
        cols = [c.lower() for c in schema.names]
        assert cols, name
        assert len(cols) == len(set(cols)), f"{name}: duplicate column names"
        # Schema must be resolvable (forces full analysis, not execution).
        assert schema.fields, name


def test_no_harness_hostile_output_types(built_schemas):
    """The round-1 failure class, pinned forever: result columns must
    never be array/map/struct typed (the harness's pandas row hash dies
    on unhashable cells) and never TIMESTAMP columns that can carry the
    year-9999 SCD2 sentinels (datetime64[ns] overflow in the bridge) —
    sentinel-bearing queries must emit epoch-millis BIGINT instead."""
    from pyspark.sql import types as T

    sentinel_emitters = {
        # Queries whose validity columns COULD hold 9999 sentinels; the
        # assertion below proves they emit them as integers.
        "scd2_user_state": {"row_valid_start_ms", "row_valid_expiration_ms"},
        "scd2_merge_changed_versions": {"valid_from_ms", "valid_to_ms"},
        "cdc_envelope_scd2_e2e": {
            "row_valid_start_ms",
            "row_valid_expiration_ms",
        },
    }
    for name, schema in built_schemas.items():
        for f in schema.fields:
            assert not isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)
            ), f"{name}.{f.name}: complex type {f.dataType.simpleString()}"
        if name in sentinel_emitters:
            got = {f.name for f in schema.fields}
            missing = sentinel_emitters[name] - got
            assert not missing, f"{name}: sentinel columns not ms-bridged: {missing}"
            for f in schema.fields:
                if f.name in sentinel_emitters[name]:
                    assert isinstance(f.dataType, T.LongType), (
                        f"{name}.{f.name} must be epoch-ms BIGINT"
                    )


def test_oracle_queries_are_well_formed():
    qs = all_queries()
    for name, q in qs.items():
        if q.oracle is not None:
            assert "SELECT" in q.oracle.upper(), name
        assert q.doc, f"{name}: every query needs its design note"


def test_q17_semijoin_rewrite_matches_textbook_form(spark, sf_dir):
    """Round-11 Q17 rewrite pin, Spark-vs-Spark (independent of the
    DuckDB oracle): the engine plan pre-reduces lineitem to the one
    brand's partkeys before the per-partkey AVG; running the TEXTBOOK
    correlated form through Spark itself must give the identical
    single-row answer, because the final brand join already restricted
    the average's consumers to those partkeys."""
    from change_data_capture_poc_spark.queries.sql_q import (
        _Q17_SQL,
        sql_small_qty_revenue,
    )

    got = sql_small_qty_revenue(spark, sf_dir).collect()
    want = spark.sql(_Q17_SQL).collect()
    assert len(got) == len(want) == 1
    g, w = got[0][0], want[0][0]
    assert (g is None) == (w is None)
    if g is not None:
        assert abs(float(g) - float(w)) < 1e-6, (g, w)


def test_representative_queries_deterministic(spark, sf_dir):
    """Two executions of the same query must produce identical rows —
    guards against nondeterministic expressions (rand, monotonically_
    increasing_id, unstable tie-breaks) sneaking into the surface."""
    from change_data_capture_poc_spark.registry import all_queries

    qs = all_queries()
    for name in (
        "scd2_user_state",
        "dedup_minhash_lsh",
        "ann_cosine_lsh_hyperplane",
        "text_tfidf_top_terms",
        "dedup_cluster_label_propagation",
    ):
        # Sorted LISTS, not sets: a set comparison collapses duplicate
        # rows and would pass a run that emits a boundary row twice —
        # exactly the unstable-tie-break class this guards against.
        a = sorted(map(tuple, qs[name].fn(spark, sf_dir).collect()), key=str)
        b = sorted(map(tuple, qs[name].fn(spark, sf_dir).collect()), key=str)
        assert a == b, f"{name} not deterministic across runs"
        assert a, f"{name} returned no rows at smoke SF"
        spark.catalog.clearCache()


def test_no_new_cross_query_private_imports():
    """No module in queries/ imports a ``_``-prefixed name from another
    query module. A rule two queries share (a batch query and its
    stream twin, say) lives in operators/, functions/ or cdc/ under a
    public name, as the chunkers live in operators/chunking.py and the
    quarantine log in cdc/quarantine.py."""
    import ast
    import pathlib

    import change_data_capture_poc_spark.queries as pkg

    prefix = "change_data_capture_poc_spark.queries."
    found = set()
    for path in pathlib.Path(pkg.__file__).parent.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.ImportFrom):
                continue
            mod = node.module or ""
            if node.level == 0 and mod.startswith(prefix):
                mod = mod[len(prefix):]
            elif node.level == 0:
                continue
            found |= {
                (path.stem, mod, a.name)
                for a in node.names
                if a.name.startswith("_")
            }
    assert not found, (
        f"cross-query private imports {sorted(found)}: move the shared "
        f"helper to operators/, functions/ or cdc/ instead"
    )
