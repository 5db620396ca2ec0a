"""BatchSpec readers and results sinks."""

from __future__ import annotations

import json

import pytest

from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.plans.planner import SuiteValidator
from great_expectations_spark.sources.readers import (
    BatchSpec,
    guess_reader_format,
    load_batch,
)
from great_expectations_spark.sources.sinks import (
    results_to_dataframe,
    write_results,
)


def test_guess_reader_format():
    assert guess_reader_format("/a/b.parquet") == "parquet"
    assert guess_reader_format("/a/b.pqt") == "parquet"
    assert guess_reader_format("/a/b.csv") == "csv"
    assert guess_reader_format("/a/b.tsv") == "csv"
    assert guess_reader_format("/a/b.jsonl") == "json"
    assert guess_reader_format("/a/b.csv.gz") == "csv"
    assert guess_reader_format("/a/dir") == "parquet"


def test_load_batch_parquet_and_runtime(spark):
    df = load_batch(
        spark, BatchSpec(path="/root/testdata/sf0.001/orders.parquet")
    )
    assert df.count() == 1500
    df2 = load_batch(spark, BatchSpec(dataframe=df))
    assert df2 is df


def test_load_batch_csv_with_schema(spark, tmp_path):
    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    df = load_batch(
        spark, BatchSpec(path=p, schema="a INT, b STRING")
    )
    assert df.schema.simpleString() == "struct<a:int,b:string>"
    assert df.count() == 2


def test_load_batch_delta_gated(spark):
    with pytest.raises(RuntimeError, match="delta"):
        load_batch(spark, BatchSpec(path="/nope/x", format="delta"))


def test_results_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, None)], "id int, name string"
    )
    suite = (
        ExpectationSuite("sink")
        .add("expect_column_values_to_not_be_null", column="name")
        .add("expect_column_mean_to_be_between", column="id", min_value=0)
    )
    result = SuiteValidator().validate(df, suite, result_format="BASIC")
    flat = results_to_dataframe(spark, result)
    rows = {r["expectation_type"]: r for r in flat.collect()}
    assert rows["expect_column_values_to_not_be_null"]["success"] is False
    assert rows["expect_column_values_to_not_be_null"]["unexpected_count"] == 1
    observed = json.loads(
        rows["expect_column_mean_to_be_between"]["observed_value"]
    )
    assert observed == pytest.approx(1.5)

    out = str(tmp_path / "results")
    write_results(spark, result, out)
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert "partition_id" in back.columns


def test_fluent_datasource(spark, tmp_path):
    from great_expectations_spark import Datasource

    df = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B")], "id int, flag string"
    )
    path = str(tmp_path / "t.parquet")
    df.write.mode("overwrite").parquet(path)

    ds = Datasource("lake", spark)
    asset = ds.add_parquet_asset("t", path)
    assert asset.build_batch().count() == 3
    assert ds.get_asset("t") is asset
    # column-value split selects one batch
    batch = asset.batch_on_column_value("flag", flag="A")
    assert batch.count() == 2
    assert asset.batch_values("flag") == ["A", "B"]
    # samplers
    assert asset.sample_limit(2).count() == 2
    # dataframe asset passthrough + duplicate-name guard
    ds.add_dataframe_asset("mem", df)
    assert ds.get_asset("mem").build_batch().count() == 3
    import pytest as _pytest
    with _pytest.raises(ValueError, match="already exists"):
        ds.add_parquet_asset("t", path)


def test_asset_validate_stamps_batch_spec_lineage(spark, tmp_path):
    """asset.validate() puts the asset's batch_spec in the result meta
    (reference meta shape: batch_spec + batch_markers always present);
    a bare SuiteValidator.validate gets the runtime_dataframe default."""
    from great_expectations_spark import (
        Datasource,
        ExpectationSuite,
        SuiteValidator,
    )

    df = spark.createDataFrame([(1,), (2,), (None,)], "id int")
    path = str(tmp_path / "ids.parquet")
    df.write.mode("overwrite").parquet(path)
    suite = ExpectationSuite("s").add(
        "expect_column_values_to_not_be_null", column="id"
    )

    asset = Datasource("lake", spark).add_parquet_asset("ids", path)
    res = asset.validate(suite, result_format="BASIC")
    assert res.meta["batch_spec"]["path"] == path
    assert res.meta["batch_spec"]["format"] == "parquet"
    assert res.meta["batch_spec"]["asset_name"] == "ids"
    assert "ge_load_time" in res.meta["batch_markers"]
    assert res.results[0].result["unexpected_count"] == 1

    bare = SuiteValidator().validate(df, suite, result_format="BASIC")
    assert bare.meta["batch_spec"] == {"type": "runtime_dataframe"}
    assert "ge_load_time" in bare.meta["batch_markers"]


def test_cloud_batch_spec_conf_plumbing(spark, tmp_path):
    from great_expectations_spark.sources.readers import (
        BatchSpec,
        azure_wasb_conf,
        glue_catalog_conf,
        load_batch,
    )

    conf = azure_wasb_conf("myacct", "SECRET")
    assert conf["fs.azure.account.key.myacct.blob.core.windows.net"] == "SECRET"
    g = glue_catalog_conf("lake", warehouse="s3://wh")
    assert g["spark.sql.catalog.lake.warehouse"] == "s3://wh"

    # spark_conf is applied to the session before the read
    df = spark.createDataFrame([(1,)], "x int")
    path = str(tmp_path / "t.parquet")
    df.write.parquet(path)
    spec = BatchSpec(path=path, spark_conf={"spark.gx.test.flag": "on"})
    out = load_batch(spark, spec)
    assert out.count() == 1
    assert spark.conf.get("spark.gx.test.flag") == "on"


def test_md5_hash_sampler_matches_reference_semantics(spark):
    """hash_function_name='md5' must keep exactly the rows the reference's
    hashlib UDF keeps: md5(str(value)).hexdigest()[-hash_digits:] ==
    hash_value — computed here with hashlib as the truth."""
    import hashlib

    from great_expectations_spark.sources import splitters as sp

    values = [f"cust_{i}" for i in range(200)] + ["42", "hello world", ""]
    df = spark.createDataFrame([(v,) for v in values], "k string")
    for digits, hv in [(1, "f"), (2, "ab"), (1, "0")]:
        expected = {
            v
            for v in values
            if hashlib.md5(str(v).encode()).hexdigest()[-digits:] == hv
        }
        got = {
            r["k"]
            for r in sp.sample_using_hash(
                df, "k", hash_digits=digits, hash_value=hv,
                hash_function_name="md5",
            ).collect()
        }
        assert got == expected, (digits, hv)


def test_md5_hash_splitter_matches_reference_semantics(spark):
    import hashlib

    from great_expectations_spark.sources import splitters as sp

    df = spark.range(500).selectExpr("cast(id as string) AS k")
    expected = {
        str(i)
        for i in range(500)
        if hashlib.md5(str(i).encode()).hexdigest()[-1:] == "a"
    }
    got = {
        r["k"]
        for r in sp.split_on_hashed_column(
            df, "k", 1, {"hash_value": "a"}, hash_function_name="md5"
        ).collect()
    }
    assert got == expected and got
    # buckets across all 16 hex values partition the table completely
    total = sum(
        sp.split_on_hashed_column(
            df, "k", 1, {"hash_value": h}, hash_function_name="md5"
        ).count()
        for h in "0123456789abcdef"
    )
    assert total == 500


def test_hash_sampler_rejects_unknown_function(spark):
    import pytest as _pytest

    from great_expectations_spark.sources import splitters as sp

    df = spark.range(3).selectExpr("cast(id as string) AS k")
    with _pytest.raises(ValueError, match="hash_function_name"):
        sp.sample_using_hash(df, "k", hash_function_name="sha1").collect()


def test_result_frames_keep_rows_and_schema(spark, tmp_path):
    """The results table and the result log build their frames from
    Arrow tables typed by their DDL: every value comes back as it went
    in (None, booleans and doubles included) under the declared schema,
    and neither frame scans a pickled Python RDD."""
    from pyspark.sql.types import _parse_datatype_string

    from great_expectations_spark.checkpoint.store_backends import (
        _RESULT_LOG_SCHEMA,
        SparkTableResultBackend,
    )
    from great_expectations_spark.sources.sinks import (
        RESULT_ROW_SCHEMA,
        results_to_rows,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id int, name string"
    )
    suite = (
        ExpectationSuite("sink")
        .add("expect_column_values_to_not_be_null", column="name")
        .add("expect_column_values_to_not_be_null", column="id")
        .add("expect_column_mean_to_be_between", column="id", min_value=0)
        .add("expect_column_values_to_not_be_null", column="no_such")
    )
    result = SuiteValidator().validate(df, suite, result_format="BASIC")
    rows = results_to_rows(result)
    # the fixture covers what the transport must keep: both booleans,
    # a fractional double, and None in a bigint, a double and strings
    values = [v for r in rows for v in r]
    assert True in values and False in values
    assert any(isinstance(v, float) and v % 1 for v in values)
    assert any(r[7] is None for r in rows)  # unexpected_count
    assert any(r[8] is None for r in rows)  # unexpected_percent
    assert any(r[10] is None for r in rows)  # exception_message
    flat = results_to_dataframe(spark, result)
    assert flat.schema == _parse_datatype_string(RESULT_ROW_SCHEMA)
    assert [tuple(r) for r in flat.collect()] == rows
    assert "ExistingRDD" not in (
        flat._jdf.queryExecution().executedPlan().toString()
    )

    log_rows = [("s", "r1", 5, None), ("s", None, 6, "p")]
    backend = SparkTableResultBackend(spark, str(tmp_path / "log"))
    backend._write(log_rows)
    back = backend._read()
    assert back.schema == _parse_datatype_string(_RESULT_LOG_SCHEMA)
    assert sorted(
        (tuple(r) for r in back.collect()), key=lambda r: r[2]
    ) == log_rows
