"""Regression tests for the round-6 self-review findings:

1. with_ring_stats / with_ring_sample must NOT crash on a valid
   zero-ring WKB (POLYGON EMPTY) — NULL outputs, like NULL wkb.
2. assign_holes_distributed surfaces zero-ring rows as orphans
   (row accounting holds for every input row).
3. Streaming near-dup keeper resolution survives a state store with
   MIXED schemas (keeper-less legacy partitions + keeper-full ones):
   mergeSchema + coalesce(keeper, id) — no dangling keeper pointers.
4. check_oracle's rotation slice does not persist its cursor at pick
   time (a crashed rotation re-runs its slice).
"""

import importlib.util
import os

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pyshp_spark.kernels.rings import ring_bbox
from pyshp_spark.kernels.wkb import wkb_polygon
from pyshp_spark.operators.geometry import with_ring_sample, with_ring_stats
from pyshp_spark.operators.spatial import assign_holes_distributed

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ring(cx, cy, r=1.0, cw=True):
    pts = [(cx, cy + r), (cx + r, cy), (cx, cy - r), (cx - r, cy),
           (cx, cy + r)]
    return pts if cw else pts[::-1]


class TestZeroRingWkb:
    def test_ring_stats_null_outputs(self, spark):
        rows = [
            Row(pid=1, wkb=bytearray(wkb_polygon([_ring(2.0, 2.0)]))),
            Row(pid=2, wkb=bytearray(wkb_polygon([]))),  # POLYGON EMPTY
            Row(pid=3, wkb=None),
        ]
        out = {
            r["pid"]: (r["is_cw"], r["area2"], r["sx"], r["sy"])
            for r in with_ring_stats(spark.createDataFrame(rows)).collect()
        }
        assert len(out) == 3
        assert out[2] == (None, None, None, None)
        assert out[3] == (None, None, None, None)
        assert out[1][0] is True and out[1][2] is not None

    def test_ring_sample_null_coords(self, spark):
        rows = [
            Row(pid=1, wkb=bytearray(wkb_polygon([_ring(2.0, 2.0)]))),
            Row(pid=2, wkb=bytearray(wkb_polygon([]))),
        ]
        out = {
            r["pid"]: (r["sx"], r["sy"])
            for r in with_ring_sample(spark.createDataFrame(rows)).collect()
        }
        assert out[2] == (None, None)
        assert out[1][0] is not None
        # delegation must not leak the winding/area scratch columns
        cols = with_ring_sample(spark.createDataFrame(rows)).columns
        assert cols == ["pid", "wkb", "sx", "sy"]

    def test_assign_holes_zero_ring_is_orphan(self, spark):
        def row(i, ring):
            if ring is None:
                return Row(shape_id="s", ring_idx=i, wkb=bytearray(
                    wkb_polygon([])), xmin=None, ymin=None, xmax=None,
                    ymax=None)
            xmin, ymin, xmax, ymax = ring_bbox(np.asarray(ring, dtype=float))
            return Row(shape_id="s", ring_idx=i,
                       wkb=bytearray(wkb_polygon([ring])),
                       xmin=xmin, ymin=ymin, xmax=xmax, ymax=ymax)

        rings = spark.createDataFrame([
            row(0, _ring(0.0, 0.0, 5.0, cw=True)),     # exterior
            row(1, _ring(0.0, 0.0, 1.0, cw=False)),    # hole inside it
            row(2, None),                               # POLYGON EMPTY
        ])
        got = {r["ring_idx"]: (r["role"], r["parent_idx"])
               for r in assign_holes_distributed(rings).collect()}
        assert len(got) == 3  # every input row appears exactly once
        assert got[0] == ("exterior", 0)
        assert got[1] == ("hole", 0)
        assert got[2] == ("orphan", None)


class TestMixedSchemaKeeperResolution:
    """Legacy keeper-less partitions mixed with keeper-full ones must
    still resolve corpus hits to an ACCEPTED representative."""

    @staticmethod
    def _texts():
        toks = [f"t{i}" for i in range(30)]
        a = " ".join(toks)
        # B: A with the first 6 tokens replaced -> J(B,A) ~ 0.65
        b = " ".join([f"x{i}" for i in range(6)] + toks[6:])
        # C: A with the last 6 tokens replaced -> J(C,A) ~ 0.65 but
        # J(C,B) ~ 0.38 (< threshold): C's only corpus hit is A, a row
        # in the keeper-LESS legacy partition
        c = " ".join(toks[:24] + [f"z{i}" for i in range(6)])
        return a, b, c

    def test_hit_on_legacy_partition_resolves(self, spark, tmp_path):
        import pandas as pd

        from pyshp_spark.streaming.neardup_stream import neardup_filter_batch

        a, b, c = self._texts()
        state = str(tmp_path / "mixed_keeper")
        # batch 0 written WITHOUT keeper tracking: texts partition has
        # no keeper column (the pre-round-6 store layout)
        first = neardup_filter_batch(
            spark.createDataFrame(pd.DataFrame(
                {"doc_id": [1], "text": [a]})),
            state, batch_id=0, track_dropped=False,
        )
        assert [r.doc_id for r in first.collect()] == [1]
        # batch 1 WITH tracking: its partition adds the keeper column
        second = neardup_filter_batch(
            spark.createDataFrame(pd.DataFrame(
                {"doc_id": [2], "text": [b]})),
            state, batch_id=1,
        )
        assert second.count() == 0  # B near-dups A -> rejected
        # batch 2: C's only corpus match is A, whose row lives in the
        # keeper-less partition (keeper reads NULL under mergeSchema)
        third = neardup_filter_batch(
            spark.createDataFrame(pd.DataFrame(
                {"doc_id": [3], "text": [c]})),
            state, batch_id=2,
        )
        assert third.count() == 0
        texts = spark.read.option("mergeSchema", "true").parquet(
            f"{state}/texts"
        )
        keeper = {r.id: r.keeper
                  for r in texts.select("id", "keeper").collect()}
        # legacy row 1 has no keeper (NULL); 2 and 3 both resolve to
        # the ACCEPTED representative 1 — never to themselves / NULL
        assert keeper[2] == 1 and keeper[3] == 1

    def test_compaction_preserves_keeper_on_mixed_store(
        self, spark, tmp_path
    ):
        """Compaction rewrites the store from a full read: on a store
        mixing keeper-less legacy partitions with keeper-full ones it
        must consolidate WITH the merged schema, or every keeper
        pointer is silently erased."""
        import pandas as pd

        from pyshp_spark.streaming.neardup_stream import (
            neardup_filter_batch,
        )

        a, b, c = self._texts()
        state = str(tmp_path / "compact_keeper")
        neardup_filter_batch(
            spark.createDataFrame(pd.DataFrame(
                {"doc_id": [1], "text": [a]})),
            state, batch_id=0, track_dropped=False, compact_every=0,
        )
        neardup_filter_batch(
            spark.createDataFrame(pd.DataFrame(
                {"doc_id": [2], "text": [b]})),
            state, batch_id=1, compact_every=0,
        )
        # batch 2 forces compaction of the mixed store FIRST (empty
        # batch content; compact_every=1 compacts every batch)
        neardup_filter_batch(
            spark.createDataFrame(pd.DataFrame(
                {"doc_id": [99], "text": ["totally unrelated words"]})),
            state, batch_id=2, compact_every=1,
        )
        texts = spark.read.option("mergeSchema", "true").parquet(
            f"{state}/texts"
        )
        assert "keeper" in texts.columns  # survived the rewrite
        keeper = {r.id: r.keeper
                  for r in texts.select("id", "keeper").collect()}
        assert keeper[2] == 1  # B still points at accepted A
        # and a post-compaction arrival chaining through A still maps
        third = neardup_filter_batch(
            spark.createDataFrame(pd.DataFrame(
                {"doc_id": [3], "text": [c]})),
            state, batch_id=3, compact_every=0,
        )
        assert third.count() == 0


class TestPinnedTextsSchema:
    def test_key_type_drift_across_runs(self, spark, tmp_path):
        """The texts reader schema is pinned to the STORE: a later run
        whose batch frame carries a drifted key type (int32 vs the
        store's int64) must still read the store and reject dups —
        a batch-derived schema would throw a parquet type mismatch."""
        import pandas as pd

        from pyshp_spark.streaming.neardup_stream import (
            _TEXTS_SCHEMA_FILE, neardup_filter_batch,
        )

        toks = [f"t{i}" for i in range(30)]
        a = " ".join(toks)
        b = " ".join([f"x{i}" for i in range(6)] + toks[6:])
        state = str(tmp_path / "pinned_schema")
        first = neardup_filter_batch(
            spark.createDataFrame(pd.DataFrame(
                {"doc_id": [1], "text": [a]})),  # int64 key
            state, batch_id=0,
        )
        assert first.count() == 1
        assert os.path.exists(os.path.join(state, _TEXTS_SCHEMA_FILE))
        drifted = spark.createDataFrame(
            pd.DataFrame({"doc_id": [2], "text": [b]})
        ).withColumn("doc_id", F.col("doc_id").cast("int"))
        second = neardup_filter_batch(drifted, state, batch_id=1)
        assert second.count() == 0  # B near-dups A across the drift

    def test_missing_pin_rederives_from_store_not_batch(
        self, spark, tmp_path
    ):
        """A pre-pin (or pin-deleted) store with data re-derives the
        pin from the store's own footers: pinning from the current
        batch would let one drifted batch poison the store's types."""
        import pandas as pd

        from pyshp_spark.streaming.neardup_stream import (
            _TEXTS_SCHEMA_FILE, neardup_filter_batch,
        )

        toks = [f"t{i}" for i in range(30)]
        a = " ".join(toks)
        b = " ".join([f"x{i}" for i in range(6)] + toks[6:])
        state = str(tmp_path / "rederive_pin")
        neardup_filter_batch(
            spark.createDataFrame(pd.DataFrame(
                {"doc_id": [1], "text": [a]})),  # store pins int64
            state, batch_id=0,
        )
        os.remove(os.path.join(state, _TEXTS_SCHEMA_FILE))
        drifted = spark.createDataFrame(
            pd.DataFrame({"doc_id": [2], "text": [b]})
        ).withColumn("doc_id", F.col("doc_id").cast("int"))
        second = neardup_filter_batch(drifted, state, batch_id=1)
        assert second.count() == 0
        import json as _json
        pin = _json.load(open(os.path.join(state, _TEXTS_SCHEMA_FILE)))
        id_type = next(f["type"] for f in pin["fields"]
                       if f["name"] == "id")
        assert id_type == "long"  # the STORE's type, not the batch's

    def test_incompatible_drift_fails_loudly(self, spark, tmp_path):
        """A drift no lossless cast can absorb (string vs long) must
        raise, not silently NULL-cast every key and vanish the batch."""
        import pandas as pd
        import pytest as _pytest

        from pyshp_spark.streaming.neardup_stream import (
            neardup_filter_batch,
        )

        state = str(tmp_path / "bad_drift")
        neardup_filter_batch(
            spark.createDataFrame(pd.DataFrame(
                {"doc_id": [1], "text": ["alpha beta gamma delta"]})),
            state, batch_id=0,
        )
        bad = spark.createDataFrame(pd.DataFrame(
            {"doc_id": ["doc-2"], "text": ["epsilon zeta eta theta"]}))
        with _pytest.raises(TypeError, match="pinned to"):
            neardup_filter_batch(bad, state, batch_id=1)


def test_with_cell_nan_coords_yield_null_cell(spark):
    from pyshp_spark.functions.cells import GRID
    from pyshp_spark.plans.layout import with_cell

    rows = [Row(rid=1, x=1.0, y=1.0), Row(rid=2, x=float("nan"), y=2.0),
            Row(rid=3, x=None, y=2.0)]
    df = spark.createDataFrame(rows)
    out = {r["rid"]: r["cell"] for r in with_cell(df, GRID).collect()}
    assert out[2] is None and out[3] is None and out[1] is not None


class TestRingSampleEdges:
    def test_scratch_names_avoid_collision(self, spark):
        df = spark.createDataFrame([
            Row(pid=1, wkb=bytearray(wkb_polygon([_ring(2.0, 2.0)])),
                __rs_cw="user-owned"),
        ])
        out = with_ring_sample(df)
        assert set(out.columns) == {"pid", "wkb", "__rs_cw", "sx", "sy"}
        r = out.collect()[0]
        assert r["__rs_cw"] == "user-owned" and r["sx"] is not None


def test_rotate_slice_does_not_persist_cursor(tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(REPO, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    state = str(tmp_path / ".rotate_state")
    monkeypatch.setattr(mod, "ROTATE_STATE", state)
    names = [f"q{i}" for i in range(5)]
    picked, nxt = mod._rotate_slice(names, 2)
    assert picked == ["q0", "q1"] and nxt == 2
    # the cursor is returned, not written: a crash before the slice
    # completes must re-run it
    assert not os.path.exists(state)
    # and picking again still starts from the uncommitted cursor
    picked2, _ = mod._rotate_slice(names, 2)
    assert picked2 == ["q0", "q1"]
