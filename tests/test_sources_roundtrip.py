"""Source/sink format roundtrips: JSON lines, ORC, CSV.

Each format must preserve row content through write → read (with an explicit
schema where the format is typeless), and ORC must keep parquet-class
pushdown behavior.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from airflow_etl_elt_spark.sources.readers import read_json_lines, read_orc
from airflow_etl_elt_spark.sources.sinks import write_csv, write_json_lines, write_orc
from tests.conftest import SF_SMOKE


def _orders(spark):
    return spark.read.parquet(f"{SF_SMOKE}/orders.parquet")


def test_json_roundtrip_with_schema(spark, tmp_path):
    src = _orders(spark)
    path = str(tmp_path / "orders_json")
    write_json_lines(src, path)
    back = read_json_lines(spark, path, schema=src.schema)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_json_array_column_roundtrip(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "emb_json")
    write_json_lines(emb, path)
    back = read_json_lines(spark, path, schema=emb.schema)
    a = {r["vec_id"]: r["embedding"] for r in back.collect()}
    b = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    assert a == b


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    src = _orders(spark)
    path = str(tmp_path / "orders_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    # ORC scans must push filters like parquet scans do
    plan = (
        read_orc(spark, path)
        .filter(F.col("o_totalprice") < 1000.0)
        .select("o_orderkey")
        ._sc._jvm.PythonSQLUtils.explainString(
            read_orc(spark, path)
            .filter(F.col("o_totalprice") < 1000.0)
            .select("o_orderkey")
            ._jdf.queryExecution(),
            "formatted",
        )
    )
    assert "PushedFilters: [" in plan and "o_totalprice" in plan.split("PushedFilters")[1]


def test_csv_roundtrip_reference_dialect(spark, tmp_path):
    src = _orders(spark).select("o_orderkey", "o_totalprice", "o_orderpriority")
    path = str(tmp_path / "orders_csv")
    write_csv(src, path)
    back = (
        spark.read.options(sep=";", header="true", inferSchema="true").csv(path)
    )
    assert back.count() == src.count()
    assert [f.name for f in back.schema.fields] == ["o_orderkey", "o_totalprice", "o_orderpriority"]
    s = back.agg(F.sum("o_totalprice")).first()[0]
    expect = src.agg(F.sum("o_totalprice")).first()[0]
    assert abs(s - expect) < 1e-6 * abs(expect)


def test_binary_file_source_feeds_multimodal_decode(spark, tmp_path):
    """binaryFile ingest edge: loose image files on disk → (path, content)
    rows → the native PPM decoder, with glob pruning and a size guard."""
    import numpy as np

    from airflow_etl_elt_spark.operators.multimodal import decode_dims, encode_ppm
    from airflow_etl_elt_spark.sources.readers import read_binary_files

    media_dir = tmp_path / "media"
    media_dir.mkdir()
    dims = {"a": (12, 7), "b": (30, 4), "c": (5, 25)}
    for name, (w, h) in dims.items():
        px = np.zeros((h, w, 3), dtype=np.uint8)
        (media_dir / f"{name}.ppm").write_bytes(encode_ppm(px))
    (media_dir / "ignore.txt").write_text("not an image")

    df = read_binary_files(spark, str(media_dir), glob="*.ppm")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 3  # the .txt never matched the listing glob
    for r in rows:
        name = r["path"].rsplit("/", 1)[-1].removesuffix(".ppm")
        assert decode_dims(bytes(r["content"])) == dims[name]
        assert r["length"] == len(bytes(r["content"]))

    # size guard drops the biggest file (w*h*3 + header)
    biggest = max(dims.items(), key=lambda kv: kv[1][0] * kv[1][1])[0]
    capped = read_binary_files(
        spark, str(media_dir), glob="*.ppm",
        max_bytes=max(r["length"] for r in rows) - 1,
    )
    kept = {r["path"].rsplit("/", 1)[-1].removesuffix(".ppm") for r in capped.collect()}
    assert kept == set(dims) - {biggest}


def test_derived_partsupp_shape_and_determinism(spark):
    """Synthetic partsupp (r4): 4 distinct suppliers per part, keys inside
    the supplier domain, value ranges per the arithmetic spec, and identical
    output across two independent invocations (pure function of the data)."""
    from tests.conftest import SF_SMOKE

    from airflow_etl_elt_spark.sources.readers import derived_partsupp, read_table

    ps = derived_partsupp(spark, SF_SMOKE)
    rows = ps.collect()
    n_parts = read_table(spark, SF_SMOKE, "part").count()
    smin, smax = read_table(spark, SF_SMOKE, "supplier").agg(
        {"s_suppkey": "min"}
    ).first()[0], read_table(spark, SF_SMOKE, "supplier").agg(
        {"s_suppkey": "max"}
    ).first()[0]
    assert len(rows) == 4 * n_parts
    per_part: dict[int, set[int]] = {}
    for r in rows:
        per_part.setdefault(r["ps_partkey"], set()).add(r["ps_suppkey"])
        assert smin <= r["ps_suppkey"] <= smax
        assert 1 <= r["ps_availqty"] <= 9999
        assert 1.0 <= r["ps_supplycost"] <= 1000.99
    assert all(len(s) == 4 for s in per_part.values())
    again = sorted(tuple(r) for r in derived_partsupp(spark, SF_SMOKE).collect())
    assert again == sorted(tuple(r) for r in rows)


def test_derived_lineitem_ext_matches_oracle_cte(spark):
    """Synthetic l_commitdate/l_receiptdate/l_shipmode (r4, unblocks TPC-H
    q4/q12/q21): the Spark derivation and the DuckDB oracle CTE must
    produce BYTE-IDENTICAL columns from the same parquet, and the value
    ranges must match the dbgen-shaped spec."""
    import duckdb

    from tests.conftest import SF_SMOKE

    from airflow_etl_elt_spark.sources.readers import (
        LINEITEM_EXT_ORACLE_CTE,
        _SHIP_MODES,
        derived_lineitem_ext,
    )

    df = derived_lineitem_ext(spark, SF_SMOKE).select(
        "l_orderkey", "l_linenumber", "l_shipdate",
        "l_commitdate", "l_receiptdate", "l_shipmode",
    )
    rows = df.collect()
    for r in rows:
        d_commit = (r["l_commitdate"] - r["l_shipdate"]).days
        d_receipt = (r["l_receiptdate"] - r["l_shipdate"]).days
        assert -30 <= d_commit <= 30
        assert 1 <= d_receipt <= 30
        assert r["l_shipmode"] in _SHIP_MODES

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF_SMOKE}/lineitem.parquet'"
    )
    want = sorted(
        con.sql(
            "WITH " + LINEITEM_EXT_ORACLE_CTE
            + " SELECT l_orderkey, l_linenumber, l_shipdate, l_commitdate,"
            "          l_receiptdate, l_shipmode FROM lineitem_ext"
        ).fetchall()
    )
    got = sorted(tuple(r) for r in rows)
    assert got == want


def test_fan_out_honours_explicit_min_partitions(spark):
    """The size gate keeps small inputs on their natural layout only when
    the caller leaves min_partitions unset; an explicit count is honoured."""
    from airflow_etl_elt_spark.sources.readers import fan_out

    small = spark.range(0, 100, 1, 1)
    assert fan_out(small).rdd.getNumPartitions() == 1
    assert fan_out(small, min_partitions=4).rdd.getNumPartitions() == 4
