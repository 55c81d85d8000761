"""IO round-trips, surrogate cleaning, micro-batch wrapper, salted agg."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_spark.io import clean_surrogates, micro_batch_apply, read_any, write_any


def test_parquet_json_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    for ext in ("parquet", "json", "csv"):
        p = str(tmp_path / f"t.{ext}")
        write_any(df, p)
        back = read_any(spark, p)
        assert {(r.id, r.v) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_surrogate_cleaning(spark):
    # lone surrogate injected via concat of chars is impossible in valid
    # UTF-8 python strings; verify the regexp is well-formed and a no-op on
    # clean text instead
    df = spark.createDataFrame([(0, "clean text ok")], "id long, t string")
    out = df.select(clean_surrogates(F.col("t")).alias("t")).first()[0]
    assert out == "clean text ok"


def test_micro_batch_apply(spark):
    df = spark.range(1000).select(F.col("id").cast("long"))
    seen_sizes = []

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"id": pdf["id"], "doubled": pdf["id"] * 2})

    out = micro_batch_apply(
        df, fn, schema=T.StructType([
            T.StructField("id", T.LongType()), T.StructField("doubled", T.LongType())
        ]), batch_size=128,
    )
    rows = out.collect()
    assert len(rows) == 1000
    assert all(r.doubled == 2 * r.id for r in rows)


def test_salted_agg_matches_plain(spark, corpus_df):
    """Two-stage salted aggregation must equal the direct groupBy (batch)."""
    from dataflow_spark.streaming.windows import salted_turn_counts

    plain = (
        corpus_df.groupBy(F.window("ts", "1 minute").alias("w"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .select(F.col("w.start").alias("window_start"), "conv_id", "n_turns")
        .toPandas()
        .sort_values(["window_start", "conv_id"])
        .reset_index(drop=True)
    )
    salted = (
        salted_turn_counts(corpus_df, "1 minute")
        .select("window_start", "conv_id", "n_turns")
        .toPandas()
        .sort_values(["window_start", "conv_id"])
        .reset_index(drop=True)
    )
    assert plain[["window_start", "conv_id", "n_turns"]].equals(
        salted[["window_start", "conv_id", "n_turns"]]
    )


def test_parse_dataset_uri():
    from dataflow_spark.io import parse_dataset_uri as p

    # the reference's arity rules (storage.py:176-202)
    assert p("hf:openai/gsm8k:main:train") == __import__(
        "dataflow_spark.io", fromlist=["HubDatasetRef"]
    ).HubDatasetRef("hf", "openai/gsm8k", "main", "train")
    r = p("hf:squad:validation")
    assert (r.hub, r.dataset, r.config, r.split) == ("hf", "squad", None, "validation")
    r = p("hf:squad")
    assert (r.config, r.split) == (None, "train")
    r = p("hf:a:b:c:d")  # 3+ trailing parts -> defaults
    assert (r.config, r.split) == (None, "train")
    r = p("ms:modelscope/gsm8k:train")
    assert (r.hub, r.dataset, r.split) == ("ms", "modelscope/gsm8k", "train")
    assert p("ms:modelscope/gsm8k").split == "train"
    assert p("/tmp/x.parquet") is None
    assert p("s3://bucket/x.json") is None


def test_hub_seam_raises_without_packages(spark):
    import importlib.util

    import pytest

    from dataflow_spark.io import read_any

    if importlib.util.find_spec("datasets") is None:
        with pytest.raises(RuntimeError, match="hub seam"):
            read_any(spark, "hf:openai/gsm8k:main:train")
    if importlib.util.find_spec("modelscope") is None:
        with pytest.raises(RuntimeError, match="hub seam"):
            read_any(spark, "ms:modelscope/gsm8k:train")


def _sqlite_conn_factory(path):
    import functools
    import sqlite3

    return functools.partial(sqlite3.connect, path)


def test_read_db_paginated_sqlite(spark, tmp_path):
    """MyScaleDBStorage-shaped paginated scan against a real DB-API source
    (sqlite), one page per task: full coverage, no dup/loss across page
    boundaries, WHERE pushed into every page query."""
    import sqlite3

    db = str(tmp_path / "src.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (id INTEGER, pipeline_id TEXT, payload TEXT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(i, "p1" if i % 3 else "p2", f"row-{i}") for i in range(2345)],
    )
    con.commit()
    con.close()

    from dataflow_spark.io import read_db_paginated

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("pipeline_id", T.StringType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    out = read_db_paginated(
        spark,
        _sqlite_conn_factory(db),
        "t",
        schema,
        page_size=100,
        order_col="id",
    )
    got = sorted(r["id"] for r in out.collect())
    assert got == list(range(2345))

    # predicate pushdown: the WHERE lands in the page SQL, not a Spark filter
    filt = read_db_paginated(
        spark,
        _sqlite_conn_factory(db),
        "t",
        schema,
        page_size=100,
        where_sql="pipeline_id = 'p2'",
        order_col="id",
    )
    rows = filt.collect()
    assert sorted(r["id"] for r in rows) == [i for i in range(2345) if i % 3 == 0]
    assert all(r["pipeline_id"] == "p2" for r in rows)

    # no order column: the reference's LIMIT/OFFSET pages over sqlite's
    # stable rowid scan order, WHERE still pushed into every page
    for where, want in (("", list(range(2345))),
                        ("pipeline_id = 'p2'", [i for i in range(2345) if i % 3 == 0])):
        off = read_db_paginated(
            spark, _sqlite_conn_factory(db), "t", schema, page_size=100,
            where_sql=where, order_col=None,
        )
        assert sorted(r["id"] for r in off.collect()) == want


def test_read_db_keyset_matches_offset(spark, tmp_path):
    """With ``order_col`` the scan is keyset-paged (window-probe
    boundaries + per-task range scans, no OFFSET anywhere) and returns
    exactly the rows a direct SELECT returns — with and without a pushed
    WHERE, including a non-contiguous key."""
    import sqlite3

    db = str(tmp_path / "src.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (id INTEGER, pipeline_id TEXT, payload TEXT)")
    # non-contiguous, shuffled-insert keys: boundaries fall on arbitrary values
    keys = [i * 7 + (i % 5) for i in range(1777)]
    import random

    rnd = random.Random(7)
    rnd.shuffle(keys)
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(k, "p1" if k % 3 else "p2", f"row-{k}") for k in keys],
    )
    con.commit()
    con.close()

    from dataflow_spark.io import read_db_paginated

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("pipeline_id", T.StringType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    p2 = sum(1 for k in keys if k % 3 == 0)
    # the OR case guards the pushed-predicate parenthesization: appended
    # "AND id >= ?" must bind the WHOLE disjunction, not just the right arm
    # (row-8 is pipeline p1, so OR adds exactly one row to the p2 set)
    for where, want in (
        ("", 1777),
        ("pipeline_id = 'p2'", p2),
        ("pipeline_id = 'p2' OR payload = 'row-8'", p2 + 1),
    ):
        con = sqlite3.connect(db)
        direct = sorted(
            con.execute(f"SELECT * FROM t{' WHERE ' + where if where else ''}").fetchall()
        )
        con.close()
        keyset_rows = sorted(
            tuple(r) for r in read_db_paginated(
                spark, _sqlite_conn_factory(db), "t", schema,
                page_size=100, order_col="id", where_sql=where,
            ).collect()
        )
        assert keyset_rows == direct
        assert len(keyset_rows) == want


def test_write_db_sqlite_roundtrip(spark, tmp_path):
    """MyScaleDBStorage.write analogue: non-system columns pack into the
    JSON data field, system columns fill in, batch INSERT per partition;
    read back and verify every payload survived."""
    import json
    import sqlite3

    db = str(tmp_path / "sink.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE sink (pipeline_id TEXT, task_id TEXT, raw_data_id INT,"
        " min_hashes TEXT, data TEXT)"
    )
    con.commit()
    con.close()

    from dataflow_spark.io import write_db

    df = spark.createDataFrame(
        [(i, f"text-{i}", i * 10) for i in range(57)],
        "raw_data_id long, text string, score long",
    ).coalesce(1)  # sqlite: single writer (real targets fan out per partition)
    n = write_db(df, _sqlite_conn_factory(db), "sink", pipeline_id="pl", task_id="tk")
    assert n == 57

    con = sqlite3.connect(db)
    back = con.execute(
        "SELECT pipeline_id, task_id, raw_data_id, data FROM sink ORDER BY raw_data_id"
    ).fetchall()
    con.close()
    assert len(back) == 57
    for i, (pl, tk, rid, data) in enumerate(back):
        assert (pl, tk, rid) == ("pl", "tk", i)
        d = json.loads(data)
        assert d["text"] == f"text-{i}" and d["score"] == i * 10
