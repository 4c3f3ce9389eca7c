"""MERGE INTO operator (operators/merge.py) vs pandas semantics and the
iceberg_lite copy-on-write snapshot contract."""

import pytest
from pyspark.sql import functions as F

from hex2vec_spark.operators.merge import merge_into, merge_table


def _target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "k int, name string, val double",
    )


def _source(spark):
    # updates k=2 (val->99, name->B), k=3 (val->NULL!), inserts k=9
    return spark.createDataFrame(
        [(2, "B", 99.0), (3, "C", None), (9, "z", 7.0)],
        "k int, name string, val double",
    )


class TestMergeInto:
    def test_upsert_all_shared_cols(self, spark):
        out = merge_into(_target(spark), _source(spark), "k")
        got = {r["k"]: (r["name"], r["val"]) for r in out.collect()}
        assert got == {
            1: ("a", 10.0),
            2: ("B", 99.0),
            3: ("C", None),  # UPDATE writes source value even when NULL
            4: (None, 40.0),
            9: ("z", 7.0),
        }

    def test_update_subset_of_columns(self, spark):
        out = merge_into(_target(spark), _source(spark), "k", update_cols=["val"])
        got = {r["k"]: (r["name"], r["val"]) for r in out.collect()}
        assert got[2] == ("b", 99.0)  # name untouched
        assert got[3] == ("c", None)

    def test_schema_is_target_schema(self, spark):
        tgt = _target(spark)
        src = _source(spark).withColumn("extra", F.lit(1))
        out = merge_into(tgt, src, "k")
        assert out.columns == tgt.columns
        assert dict(out.dtypes) == dict(tgt.dtypes)

    def test_insert_missing_source_columns_null(self, spark):
        src = spark.createDataFrame([(9, 7.0)], "k int, val double")
        out = merge_into(_target(spark), src, "k")
        row = {r["k"]: r for r in out.collect()}[9]
        assert row["name"] is None and row["val"] == 7.0

    def test_when_matched_delete(self, spark):
        out = merge_into(
            _target(spark),
            _source(spark),
            "k",
            when_matched="delete",
            insert_unmatched=False,
        )
        assert sorted(r["k"] for r in out.collect()) == [1, 4]

    def test_no_insert(self, spark):
        out = merge_into(_target(spark), _source(spark), "k", insert_unmatched=False)
        assert sorted(r["k"] for r in out.collect()) == [1, 2, 3, 4]

    def test_duplicate_source_keys_raise(self, spark):
        src = spark.createDataFrame(
            [(2, "x", 1.0), (2, "y", 2.0)], "k int, name string, val double"
        )
        with pytest.raises(ValueError, match="multiple rows"):
            merge_into(_target(spark), src, "k")

    def test_null_keys_never_match(self, spark):
        tgt = spark.createDataFrame(
            [(None, "t", 1.0), (1, "a", 2.0)], "k int, name string, val double"
        )
        src = spark.createDataFrame(
            [(None, "s", 9.0)], "k int, name string, val double"
        )
        out = merge_into(tgt, src, "k")
        rows = sorted(
            ((r["k"], r["name"], r["val"]) for r in out.collect()),
            key=lambda t: (t[0] is None, t),
        )
        # target NULL-key row unchanged; source NULL-key row inserts
        assert (None, "t", 1.0) in rows and (None, "s", 9.0) in rows
        assert (1, "a", 2.0) in rows and len(rows) == 3

    def test_multi_column_key(self, spark):
        tgt = spark.createDataFrame(
            [(1, "x", 10.0), (1, "y", 20.0)], "a int, b string, val double"
        )
        src = spark.createDataFrame([(1, "y", 99.0)], "a int, b string, val double")
        out = merge_into(tgt, src, ["a", "b"])
        got = {(r["a"], r["b"]): r["val"] for r in out.collect()}
        assert got == {(1, "x"): 10.0, (1, "y"): 99.0}


class TestMergeTable:
    def test_copy_on_write_snapshot(self, spark, tmp_path):
        from hex2vec_spark.sources.iceberg_lite import commit_table, read_table

        root = str(tmp_path / "tbl")
        base = spark.createDataFrame(
            [(10, 1.0), (11, 2.0)], "h3 long, score double"
        )
        s0 = commit_table(base, root, partition_res=None)
        src = spark.createDataFrame([(11, 9.0), (12, 3.0)], "h3 long, score double")
        s1 = merge_table(spark, root, src, "h3", partition_res=None)
        assert s1["op"] == "overwrite" and s1["merge_on"] == ["h3"]
        # an unpartitioned commit counts all its rows under "_all"
        assert s0["partition_row_counts"] == {"_all": 2}
        assert s1["partition_row_counts"] == {"_all": 3} and s1["added_rows"] == 3
        assert [f["name"] for f in s1["schema"]["fields"]] == ["h3", "score"]
        latest = {r["h3"]: r["score"] for r in read_table(spark, root).collect()}
        assert latest == {10: 1.0, 11: 9.0, 12: 3.0}
        # time travel: the pre-merge snapshot still reads the old values
        old = {
            r["h3"]: r["score"]
            for r in read_table(spark, root, snapshot_id=s0["id"]).collect()
        }
        assert old == {10: 1.0, 11: 2.0}


def _pandas_merge(tgt, src, key="k"):
    """Independent pandas reference for merge_into upsert semantics."""
    import pandas as pd

    t = tgt.set_index(key, drop=False)
    s = src.set_index(key, drop=False)
    out = t.copy()
    for k in s.index:
        if k in t.index and not pd.isna(k):
            for c in s.columns:
                if c != key and c in out.columns:
                    out.loc[k, c] = s.loc[k, c]
    inserts = s[~s.index.isin(t.index) | s.index.isna()]
    return pd.concat([out, inserts[out.columns]], ignore_index=True)


class TestMergeProperty:
    def test_random_frames_match_pandas(self, spark):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(0)
        for seed in range(6):
            r = np.random.default_rng(seed)
            nt, ns = int(r.integers(1, 40)), int(r.integers(1, 25))
            tkeys = r.choice(100, size=nt, replace=False)
            skeys = r.choice(100, size=ns, replace=False)
            tgt = pd.DataFrame(
                {"k": tkeys.astype("int64"),
                 "a": r.normal(size=nt).round(3),
                 "b": [f"t{v}" for v in r.integers(0, 9, nt)]}
            )
            src = pd.DataFrame(
                {"k": skeys.astype("int64"),
                 "a": r.normal(size=ns).round(3),
                 "b": [f"s{v}" for v in r.integers(0, 9, ns)]}
            )
            from hex2vec_spark.operators.merge import merge_into

            got = (
                merge_into(
                    spark.createDataFrame(tgt), spark.createDataFrame(src), "k"
                )
                .toPandas()
                .sort_values(["k"])
                .reset_index(drop=True)
            )
            want = (
                _pandas_merge(tgt, src)
                .sort_values(["k"])
                .reset_index(drop=True)
                .astype(got.dtypes.to_dict())
            )
            pd.testing.assert_frame_equal(got, want, check_like=True), seed
