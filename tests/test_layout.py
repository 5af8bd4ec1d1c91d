"""Tests for the z-order write-layout sink and embedding
normalization/quantization."""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hfsa_spark.operators.similarity import l2_norm, l2_normalize_df, quantize_embeddings
from hfsa_spark.sinks.layout import write_zordered, zvalue


def _file_ranges(path, col):
    """Per-file (min, max) of col from parquet footer stats."""
    out = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    mins.append(c.statistics.min)
                    maxs.append(c.statistics.max)
        if mins:
            out.append((min(mins), max(maxs)))
    return out


def test_zvalue_orders_both_dims(spark):
    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long"
    )
    got = df.select("x", "y", zvalue(["x", "y"], bits=3).alias("z")).collect()
    zmap = {(r["x"], r["y"]): r["z"] for r in got}
    # classic Morton values: (0,0)=0 (1,0)=1 (0,1)=2 (1,1)=3 (2,2)=12
    assert zmap[(0, 0)] == 0 and zmap[(1, 0)] == 1 and zmap[(0, 1)] == 2
    assert zmap[(1, 1)] == 3 and zmap[(2, 2)] == 12
    assert len(set(zmap.values())) == 64  # bijective on the grid


def test_zvalue_clamps_and_validates(spark):
    df = spark.createDataFrame([(-5, 1 << 40)], "x long, y long")
    r = df.select(zvalue(["x", "y"], bits=4).alias("z")).collect()[0]
    # x clamps to 0, y clamps to 15 → z = interleave(0, 15) = 0b10101010
    assert r["z"] == 0b10101010
    with pytest.raises(ValueError):
        zvalue(["x"], bits=4)
    with pytest.raises(ValueError):
        zvalue(["x", "y"], bits=32)


def test_write_zordered_tightens_both_envelopes(spark, tmp_path):
    # 64×64 grid: a z-ordered layout must bound BOTH x and y per file;
    # a plain x-sort leaves y spanning the full domain in every file.
    df = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x long, y long"
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(df, zpath, ["x", "y"], bits=6, num_files=16)
    (
        df.repartitionByRange(16, "x").sortWithinPartitions("x")
        .write.mode("overwrite").parquet(spath)
    )
    domain = 64.0

    def mean_span(path, col):
        rng = _file_ranges(path, col)
        assert rng, f"no stats for {col} in {path}"
        return sum(hi - lo + 1 for lo, hi in rng) / len(rng) / domain

    # x-sorted: x tight but y spans ~everything
    assert mean_span(spath, "y") > 0.9
    # z-ordered: both dims bounded well below the full domain
    assert mean_span(zpath, "x") < 0.5 and mean_span(zpath, "y") < 0.5


def test_l2_normalize_unit_norm_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id long, v array<double>"
    )
    normed = l2_normalize_df(df, "v", "u")
    out = normed.select("id", "u", "l2_norm", l2_norm("u").alias("n")).collect()
    by = {r["id"]: r for r in out}
    assert by[1]["u"] == [0.6, 0.8] and abs(by[1]["n"] - 1.0) < 1e-12
    assert by[1]["l2_norm"] == 5.0
    assert by[2]["u"] == [0.0, 0.0] and by[2]["n"] == 0.0


def test_quantize_roundtrip_error_bound(spark):
    vals = [[-1.5, 0.0, 2.5, 0.7, -0.2], [5.0, 5.0, 5.0, 5.0, 5.0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "vec_id long, embedding array<double>"
    )
    out = quantize_embeddings(df, levels=256).collect()
    by = {r["vec_id"]: r for r in out}
    # constant vector → scale 0 → all-zero codes
    assert by[1]["qvec"] == [0] * 5 and by[1]["q_lo"] == by[1]["q_hi"] == 5.0
    r = by[0]
    lo, hi = r["q_lo"], r["q_hi"]
    assert (lo, hi) == (-1.5, 2.5)
    for code, x in zip(r["qvec"], vals[0]):
        assert 0 <= code <= 255
        dequant = lo + code / 255.0 * (hi - lo)
        assert abs(dequant - x) <= (hi - lo) / (2 * 255) + 1e-12
