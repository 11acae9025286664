"""The shared unit-log protocol (unit_log.py) — the paths the store tests
do not reach: the parquet-footer row count's fallbacks and the reclaim of
a crashed ``IvfIndex.refresh``."""
import os

import numpy as np


def test_parquet_footer_rows_empty_and_fallback(tmp_path):
    """Footer counts sum over files and part-file dirs; an EMPTY input
    counts 0; anything that is not a local parquet layout returns None so
    the caller falls back to a Spark count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_algorithms_spark.unit_log import parquet_footer_rows

    d = tmp_path / "parts"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), d / "part-0.parquet")
    pq.write_table(pa.table({"x": [4, 5]}), d / "part-1.parquet")
    (d / "_SUCCESS").touch()
    (d / ".part-0.parquet.crc").touch()  # hidden: never read as a footer
    f0 = str(d / "part-0.parquet")
    assert parquet_footer_rows([str(d)]) == 5
    f1_uri = "file://" + str(d / "part-1.parquet")
    assert parquet_footer_rows([f0, f1_uri]) == 5

    empty = tmp_path / "empty"
    empty.mkdir()
    assert parquet_footer_rows([str(empty)]) == 0
    assert parquet_footer_rows([]) == 0

    # non-parquet layouts fall back
    csv = tmp_path / "csv"
    csv.mkdir()
    (csv / "part-0.parquet").write_text("a,b\n1,2\n")  # not a footer
    assert parquet_footer_rows([str(csv)]) is None
    assert parquet_footer_rows(["s3a://bucket/t/part-0.parquet"]) is None
    assert parquet_footer_rows([str(tmp_path / "missing.parquet")]) is None
    assert parquet_footer_rows([f0, "hdfs://nn/t/part-1.parquet"]) is None


def test_ivf_refresh_reclaims_crashed_generation(spark, tmp_path):
    """A refresh that died between its data write and its manifest leaves
    a manifest-less compact-<n>: readers ignore it, and the retry reclaims
    it at the SAME generation number instead of colliding forever."""
    from streaming_algorithms_spark.ivf_index import IvfIndex

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(df, "day-0", n_lists=2)

    assert idx.refresh() == "compact-000000"
    os.remove(tmp_path / "ivf" / "compact-000000" / "MANIFEST.json")
    assert idx.live_units() == ["batch-day-0"]
    assert idx._generations() == []

    assert idx.refresh() == "compact-000000"
    assert idx.live_units() == ["compact-000000/data"]
    assert {r["vec_id"] for r in idx.postings().collect()} == set(range(40))

    # a crash before any data file landed: an empty orphan at the next n
    os.makedirs(tmp_path / "ivf" / "compact-000001")
    assert idx.refresh() == "compact-000001"
    assert idx.live_units() == ["compact-000001/data"]
