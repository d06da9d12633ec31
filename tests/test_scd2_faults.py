"""Fault-injection equivalence harness for the incremental SCD2 stream
(streaming/scd2_stream.py).

Hypothesis generates creates, updates and deletes over a few keys (LSNs
strictly increasing, source timestamps that may tie), cuts them into
1-4 micro-batches and feeds them to ``IncrementalScd2.process_batch``
with these faults injected:

- late data: the events are permuted before the cut, so a batch can
  carry an event older than its key's current row, or one that lands
  in an earlier batch than its predecessor;
- foreachBatch replay: one batch is processed twice under the same
  ``batch_id``, either after it completed or after a crash between its
  log write and its table write (the backend raises once);
- an empty micro-batch between two others.

Invariant: ``result()`` equals ``scd2_recompute(decode_envelope(all
events))`` as a multiset, both after the batches and after
``reconcile()``. This also checks that the recompute's dynamic
overwrite leaves no stale ``h`` partition behind the upsert.

Left out on purpose: redelivery of an event under a *new* ``batch_id``
(a source re-sending after a restart) and LSN ties. ``scd2_recompute``
itself gives such an event a version of its own, so the invariant has
no exact reference for it until keyed deduplication lands (ROADMAP
direction 1).
"""

from __future__ import annotations

import json
import tempfile
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from change_data_capture_poc_spark.cdc.envelope import (
    PRODUCT_FIELDS,
    decode_envelope,
    envelope_schema,
)
from change_data_capture_poc_spark.cdc.scd2 import scd2_recompute
from change_data_capture_poc_spark.streaming import IncrementalScd2

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_SCHEMA = envelope_schema(PRODUCT_FIELDS)

# (key, delete instead of update, attribute value, timestamp tie).
_changes = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.booleans(),
        st.integers(0, 2),
        st.booleans(),
    ),
    min_size=1,
    max_size=14,
)


def _envelopes(changes):
    """Debezium envelopes: a key's first event (and its first after a
    delete) is a create, later ones update or delete it."""
    image: dict[int, dict | None] = {}
    ts = 1_700_000_000_000
    out = []
    for i, (key, delete, v, tie) in enumerate(changes):
        ts += 0 if tie else 500
        before = image.get(key)
        if before is None:
            op = "c"
        elif delete:
            op = "d"
        else:
            op = "u"
        after = None if op == "d" else {
            "id": key, "name": f"n{v}", "description": "d", "price": float(v)}
        image[key] = after
        out.append({"payload": {"before": before, "after": after, "op": op,
                                "ts_ms": ts, "source": {"lsn": (i + 1) * 10}}})
    return out


def _frame(spark, path, envelopes):
    """Land ``envelopes`` as one NDJSON file and read it back with the
    envelope schema, the way the file-source stream hands a batch over."""
    with open(path, "w") as f:
        f.write("".join(json.dumps(e) + "\n" for e in envelopes))
    return spark.read.schema(_SCHEMA).json(path)


class _Crash(Exception):
    pass


class _CrashOnce:
    """Merge-backend wrapper that raises on its next ``apply`` once
    armed: a crash after the log write, before the table write."""

    def __init__(self, inner):
        self.inner = inner
        self.name = inner.name
        self.armed = False

    def apply(self, spark, path, rows, partition_col="bucket"):
        if self.armed:
            self.armed = False
            raise _Crash
        self.inner.apply(spark, path, rows, partition_col)


@st.composite
def _schedules(draw):
    """(changes, arrival order, batch cut points, fault, fault batch)."""
    changes = draw(_changes)
    n = len(changes)
    order = list(range(n))
    if draw(st.booleans()):
        order = draw(st.permutations(order))
    n_batches = draw(st.integers(1, 4))
    cuts = sorted(draw(st.lists(
        st.integers(0, n), min_size=n_batches - 1, max_size=n_batches - 1)))
    fault = draw(st.sampled_from(["none", "replay", "crash", "empty"]))
    return changes, order, cuts, fault, draw(st.integers(0, n_batches - 1))


# Always run: key 0's update lands in batch 0 and its create, one LSN
# older, in batch 1. Without the late-data fallback the create is lost;
# if the upsert placed the create itself, it would leave it in h1, a
# partition the recompute never writes.
@example(schedule=([(0, False, 0, False), (0, False, 1, False),
                    (1, False, 2, True)], [1, 2, 0], [2], "none", 0))
@given(schedule=_schedules())
@settings(**_SETTINGS)
def test_incremental_scd2_equals_recompute_under_faults(
    spark, tmp_path, schedule
):
    changes, order, cuts, fault, at = schedule
    rows = _envelopes(changes)
    bounds = [0, *cuts, len(rows)]
    batches = [[rows[i] for i in order[a:b]]
               for a, b in zip(bounds, bounds[1:])]

    root = tempfile.mkdtemp(dir=tmp_path)
    inc = IncrementalScd2(spark, f"{root}/log", f"{root}/scd2", n_buckets=2)
    inc.backend = crash = _CrashOnce(inc.backend)
    batch_id = 0
    for j, batch in enumerate(batches):
        if fault == "empty" and j == at:
            inc.process_batch(_frame(spark, f"{root}/empty.json", []),
                              batch_id)
            batch_id += 1
        df = _frame(spark, f"{root}/b{batch_id}.json", batch)
        crash.armed = fault == "crash" and j == at and bool(batch)
        if crash.armed:
            try:
                inc.process_batch(df, batch_id)
            except _Crash:
                pass
            assert not crash.armed, "the armed crash never fired"
        inc.process_batch(df, batch_id)
        if fault == "replay" and j == at:
            inc.process_batch(df, batch_id)
        batch_id += 1

    want = Counter(map(tuple, scd2_recompute(decode_envelope(
        _frame(spark, f"{root}/all.json", rows))).collect()))
    assert Counter(map(tuple, inc.result().collect())) == want
    inc.reconcile()
    assert Counter(map(tuple, inc.result().collect())) == want
