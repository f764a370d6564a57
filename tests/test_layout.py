"""Z-order layout: the written files' min-max statistics must be tight
on EVERY clustered column — measured from the actual parquet footers,
because footer statistics are exactly what a scan prunes with."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cupertino_nvr_spark.operators.layout import zorder_key, zorder_repartition
from cupertino_nvr_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


def _avg_span(path: str, col: str) -> float:
    """Mean normalized (max-min) span of ``col`` across row groups."""
    spans, los, his = [], [], []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(
                next(
                    i
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
            ).statistics
            lo, hi = st.min, st.max
            if hasattr(lo, "timestamp"):
                lo, hi = lo.timestamp(), hi.timestamp()
            spans.append(float(hi) - float(lo))
            los.append(float(lo))
            his.append(float(hi))
    total = max(his) - min(los)
    return sum(spans) / len(spans) / total if total else 0.0


def test_zorder_bounds_every_dimension(spark, tmp_path):
    ev = load_table(spark, "events", SF).select("user_id", "value", "event_id")
    # baseline: single-column layout — perfect on user_id, useless on value
    ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id").write.parquet(
        f"{tmp_path}/by_user"
    )
    zorder_repartition(ev, ["user_id", "value"], num_files=8).write.parquet(
        f"{tmp_path}/by_z"
    )
    base_user = _avg_span(f"{tmp_path}/by_user", "user_id")
    base_value = _avg_span(f"{tmp_path}/by_user", "value")
    z_user = _avg_span(f"{tmp_path}/by_z", "user_id")
    z_value = _avg_span(f"{tmp_path}/by_z", "value")
    # the z-layout must bound BOTH dimensions (a 2D curve over 8 splits
    # keeps most files inside one quadrant)
    assert z_user < 0.6
    assert z_value < 0.6
    # Z-order's guarantee is the WORST dimension: the single-column sort
    # is near-perfect on its sort key and useless on the other column,
    # so a predicate on the unsorted column scans everything. The curve
    # trades a little of the sorted dim for bounding both.
    assert z_value < base_value * 0.6
    assert max(z_user, z_value) < max(base_user, base_value) * 0.6


def test_zorder_key_is_layout_only(spark):
    """The layout pass must not change the data: same rows, original
    columns, no _zkey leak."""
    ev = load_table(spark, "events", SF).select("user_id", "value", "event_id")
    out = zorder_repartition(ev, ["user_id", "value"], num_files=4)
    assert out.columns == ["user_id", "value", "event_id"]
    assert out.count() == ev.count()
    assert (
        out.agg(F.sum(F.crc32(F.concat_ws(":", "user_id", "event_id")))).first()[0]
        == ev.agg(F.sum(F.crc32(F.concat_ws(":", "user_id", "event_id")))).first()[0]
    )


def test_zorder_rejects_oversized_keys(spark):
    ev = load_table(spark, "events", SF)
    with pytest.raises(ValueError, match="bits"):
        zorder_key(ev, ["user_id", "value", "event_id"], bits=21)


def test_zorder_nulls_go_to_min_corner(spark):
    """NULL dimension values bucket to 0 (the min corner), not the max:
    floor(null*top) is NULL and F.least skips NULLs, so without the
    explicit coalesce nulls would cluster in the max-corner file and
    widen its stats on every other dimension."""
    from cupertino_nvr_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (100, 0), (None, 0), (None, 100)], "x int, y int"
    )
    keys = {
        (r.x, r.y): r._zkey
        for r in zorder_key(df, ["x", "y"], bits=4).collect()
    }
    assert keys[(None, 0)] == keys[(0, 0)]  # null == min corner on x
    assert keys[(None, 100)] == keys[(0, 100)] if (0, 100) in keys else True
    assert keys[(None, 0)] != keys[(100, 0)]
