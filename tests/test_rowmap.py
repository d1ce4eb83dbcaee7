"""util.map_rows — the engine's one per-row Python boundary: batching,
schema-ordered frames, lineage columns and the permissive quarantine, plus
a tooling pin that no module grows its own hand-rolled mapInPandas loop."""

from __future__ import annotations

import re
from pathlib import Path

import pandas as pd
import pytest

from dsm2dtm_spark.util import map_rows

OUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, "
    "phash long, wall_ms double, partition_id int, error string"
)
BIG = 2**62 + 1  # not representable in float64: catches a float round trip


@pytest.fixture(scope="module")
def rows(spark):
    pdf = pd.DataFrame(
        {
            "image_id": ["a", "b", "c"],
            "bytes": [b"\x01", b"poison", b"\x03"],
            "w": [4, 5, 6],
            "h": [7, 8, 9],
            "fmt": ["raw_f32"] * 3,
            "caption": ["ca", "cb", "cc"],
        }
    )
    return spark.createDataFrame(pdf).coalesce(1)


def _make_fn():
    # built inside a function so the workers get it by value (this test
    # module is not importable on the Python workers)
    def fn(row) -> dict:
        if row.bytes == b"poison":
            raise ValueError("bad payload " + "x" * 600)
        return {"image_id": row.image_id, "bytes": row.bytes * 2, "w": row.w, "h": row.h,
                "fmt": row.fmt, "caption": row.caption, "phash": BIG}

    return fn


def test_all_none_batch_keeps_schema_columns(rows):
    out = map_rows(rows, lambda row: None, OUT_SCHEMA).toPandas()
    assert len(out) == 0
    assert list(out.columns) == [f.split()[0] for f in OUT_SCHEMA.split(", ")]


def test_permissive_quarantine_row_shape(rows):
    got = {r.image_id: r for r in map_rows(rows, _make_fn(), OUT_SCHEMA, permissive=True).collect()}
    assert len(got) == 3
    bad = got["b"]
    assert (bad.w, bad.h, bad.fmt, bad.caption) == (5, 8, "raw_f32", "cb")
    assert bad.bytes is None and bad.phash is None
    assert bad.error.startswith("ValueError: bad payload x") and len(bad.error) == 500
    # lineage still says which task saw the poison row and for how long
    assert bad.partition_id == 0 and bad.wall_ms >= 0.0
    for k in ("a", "c"):
        assert got[k].error is None
        # a null elsewhere in the column must not push int64 through float64
        assert got[k].phash == BIG


def test_strict_mode_raises(rows):
    with pytest.raises(Exception, match="bad payload"):
        map_rows(rows, _make_fn(), OUT_SCHEMA).collect()


def test_permissive_needs_error_field(rows):
    with pytest.raises(ValueError, match="error"):
        map_rows(rows, lambda row: None, "image_id string", permissive=True)


def test_lineage_filled_only_when_schema_has_it(rows):
    timed = map_rows(rows.filter("image_id != 'b'"), _make_fn(), OUT_SCHEMA).collect()
    assert all(r.wall_ms is not None and r.wall_ms >= 0.0 for r in timed)
    assert {r.partition_id for r in timed} == {0}
    bare = map_rows(rows, lambda row: {"image_id": row.image_id}, "image_id string")
    assert bare.columns == ["image_id"] and bare.count() == 3


def test_record_lists_and_frame_chunks(rows):
    fanout = map_rows(
        rows, lambda row: [{"image_id": row.image_id, "k": k} for k in range(row.w)], "image_id string, k int"
    )
    assert fanout.count() == 4 + 5 + 6
    chunks = map_rows(
        rows, lambda row: pd.DataFrame({"image_id": row.image_id, "k": range(row.h)}), "image_id string, k long"
    )
    assert sorted(r.k for r in chunks.filter("image_id = 'c'").collect()) == list(range(9))


def test_single_per_row_boundary():
    """Every per-row Python map goes through util.map_rows. The only other
    ``.mapInPandas(`` is the rasterio adapter, which cannot run without its
    optional dependency."""
    pkg = Path(__file__).resolve().parents[1] / "dsm2dtm_spark"
    allowed = {"util.py", "sources/geotiff.py"}
    hits = {
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        if re.search(r"\.mapInPandas\(", p.read_text())
    }
    assert hits - allowed == set(), f"hand-rolled mapInPandas loops: {sorted(hits - allowed)}"
    assert "util.py" in hits


def test_arrow_batches_are_capped_by_bytes(spark):
    """The session caps each Arrow batch the Python boundary receives by
    bytes, not only by rows: 40 rows of 0.5 MB in one partition reach the
    worker as batches of at most the cap plus one row."""
    from dsm2dtm_spark.session import ARROW_BATCH_BYTES

    row_bytes = 500_000

    def sizes(batches):
        for pdf in batches:
            yield pd.DataFrame({"rows": [len(pdf)], "payload": [int(pdf["bytes"].map(len).sum())]})

    df = spark.range(0, 40, 1, 1).selectExpr("id", f"cast(repeat('x', {row_bytes}) as binary) as bytes")
    got = df.mapInPandas(sizes, "rows long, payload long").collect()
    assert sum(r.rows for r in got) == 40
    assert max(r.payload for r in got) <= ARROW_BATCH_BYTES + row_bytes, got
