"""Suite CRUD through the pluggable store backends (reference
``data_context/store/expectations_store.py`` ExpectationsStore and the
DataContext suite verbs in ``data_context/abstract_data_context.py``)."""

import pytest

from great_expectations_spark.checkpoint.store_backends import (
    FilesystemResultBackend,
    SparkTableResultBackend,
)
from great_expectations_spark.checkpoint.suite_store import SuiteStore
from great_expectations_spark.core.suite import ExpectationSuite


def _suite(name="orders_suite", max_value=10):
    return (
        ExpectationSuite(name)
        .add("expect_column_values_to_not_be_null", column="o_orderkey")
        .add(
            "expect_column_mean_to_be_between",
            column="o_totalprice", min_value=0, max_value=max_value,
        )
    )


def test_filesystem_round_trip(tmp_path):
    store = SuiteStore(FilesystemResultBackend(str(tmp_path / "suites")))
    suite = _suite()
    version = store.save(suite)
    assert version == suite.suite_hash()

    loaded = store.load("orders_suite")
    assert loaded.expectation_suite_name == "orders_suite"
    assert loaded.suite_hash() == version
    assert [e.expectation_type for e in loaded.expectations] == [
        e.expectation_type for e in suite.expectations
    ]
    assert store.list_suites() == ["orders_suite"]


def test_save_again_load_returns_latest(tmp_path):
    store = SuiteStore(FilesystemResultBackend(str(tmp_path / "s")))
    store.save(_suite(max_value=10))
    v2 = store.save(_suite(max_value=99))
    loaded = store.load("orders_suite")
    assert loaded.suite_hash() == v2
    assert loaded.expectations[1].kwargs["max_value"] == 99


def test_delete_tombstones_but_keeps_history(tmp_path):
    store = SuiteStore(FilesystemResultBackend(str(tmp_path / "s")))
    store.save(_suite())
    store.delete("orders_suite")
    with pytest.raises(KeyError):
        store.load("orders_suite")
    assert store.list_suites() == []
    # saving again resurrects the name (append-only log, latest wins)
    store.save(_suite(max_value=7))
    assert store.load("orders_suite").expectations[1].kwargs[
        "max_value"
    ] == 7


def test_missing_suite_raises(tmp_path):
    store = SuiteStore(FilesystemResultBackend(str(tmp_path / "s")))
    with pytest.raises(KeyError):
        store.load("nope")


def test_read_probe_leaves_no_directory(tmp_path):
    # probing a missing suite must NOT create its directory as a side
    # effect (round-3 ADVICE: the empty dir showed up in list_suites and
    # was re-probed by every latest_payloads loop afterwards)
    backend = FilesystemResultBackend(str(tmp_path / "s"))
    store = SuiteStore(backend)
    with pytest.raises(KeyError):
        store.load("phantom")
    assert backend.list_suites() == []
    assert list((tmp_path / "s").iterdir()) == []


def test_reserved_namespace_names_rejected(tmp_path):
    # a suite (or validation-result suite name) starting with the store
    # namespace prefix could shadow real suite records on a shared
    # backend (round-3 ADVICE) — rejected at save time on both paths
    from great_expectations_spark.checkpoint.store_backends import (
        BackendValidationResultStore,
    )
    from great_expectations_spark.core.results import (
        ExpectationSuiteValidationResult,
    )

    backend = FilesystemResultBackend(str(tmp_path / "s"))
    store = SuiteStore(backend)
    for bad in ("suite::evil", "suite__evil"):
        with pytest.raises(ValueError):
            store.save(_suite(bad))
        with pytest.raises(ValueError):
            store.delete(bad)
        with pytest.raises(ValueError):
            BackendValidationResultStore(backend).save(
                ExpectationSuiteValidationResult(
                    success=True,
                    results=[],
                    statistics={},
                    meta={"expectation_suite_name": bad, "run_id": "r1"},
                )
            )
    # nothing leaked into the namespace
    assert store.list_suites() == []


def test_spark_table_backend_round_trip(spark, tmp_path):
    backend = SparkTableResultBackend(
        spark, str(tmp_path / "suite_log"), fmt="parquet"
    )
    store = SuiteStore(backend)
    store.save(_suite("a_suite"))
    store.save(_suite("b_suite", max_value=5))
    assert store.list_suites() == ["a_suite", "b_suite"]
    assert store.load("b_suite").expectations[1].kwargs["max_value"] == 5
    store.delete("a_suite")
    assert store.list_suites() == ["b_suite"]


def test_suites_and_results_share_a_backend(spark, tmp_path):
    """One backend directory can carry suites AND validation results —
    the suite namespace keeps keys disjoint."""
    from great_expectations_spark.checkpoint.store_backends import (
        BackendValidationResultStore,
    )
    from great_expectations_spark.plans.planner import SuiteValidator

    backend = FilesystemResultBackend(str(tmp_path / "both"))
    suites = SuiteStore(backend)
    results = BackendValidationResultStore(backend)

    df = spark.createDataFrame(
        [(1, 3.0), (2, 4.0)], "o_orderkey int, o_totalprice double"
    )
    suite = _suite(max_value=100)
    suites.save(suite)
    res = SuiteValidator().validate(df, suites.load("orders_suite"))
    assert res.success
    results.save(res)
    assert suites.list_suites() == ["orders_suite"]
    assert results.latest("orders_suite")["success"] is True


def test_tuple_hadoop_fs_backend_round_trip(spark, tmp_path):
    """Keyed object-store backend (reference tuple_store_backend.py) over
    a file:// root: result round-trip, latest pointer, URN resolution,
    suite CRUD over the same backend, and read-probe purity.  The same
    code path serves s3a:// / abfss:// / gs:// roots — only the root URI
    changes (credentials ride the session's Hadoop conf)."""
    from great_expectations_spark.checkpoint.store_backends import (
        BackendValidationResultStore,
        TupleHadoopFsBackend,
    )
    from great_expectations_spark.core.results import (
        ExpectationSuiteValidationResult,
        ExpectationValidationResult,
    )

    root = f"file://{tmp_path}/tuple_store"
    backend = TupleHadoopFsBackend(spark, root)

    res = ExpectationSuiteValidationResult(
        success=True,
        results=[
            ExpectationValidationResult(
                success=True,
                expectation_config={
                    "expectation_type": "expect_table_row_count_to_equal",
                    "kwargs": {"value": 3},
                },
                result={"observed_value": 3},
            )
        ],
        statistics={"evaluated_expectations": 1,
                    "successful_expectations": 1},
        meta={"expectation_suite_name": "orders", "run_id": "r1"},
    )
    store = BackendValidationResultStore(backend)
    store.save(res)
    assert store.latest("orders")["success"] is True
    # immutable per-run object + overwritten latest pointer
    res2 = ExpectationSuiteValidationResult(
        success=False, results=[], statistics={},
        meta={"expectation_suite_name": "orders", "run_id": "r2"},
    )
    store.save(res2)
    assert store.latest("orders")["success"] is False
    assert (tmp_path / "tuple_store" / "orders" / "r1.json").exists()
    assert (tmp_path / "tuple_store" / "orders" / "r2.json").exists()

    # URN parameter resolution straight off the object store
    urn = (
        "urn:great_expectations:validations:orders:"
        "expect_table_row_count_to_equal.result.observed_value"
    )
    store.save(res)  # restore a result with the metric
    assert store.resolve_urn(urn) == 3

    # suite CRUD shares the backend without key collisions
    suites = SuiteStore(backend)
    suites.save(_suite("shared_suite"))
    assert suites.list_suites() == ["shared_suite"]
    assert backend.list_suites() == ["orders", "suite__shared_suite"]

    # read probe for a missing key must not materialize objects
    with pytest.raises(KeyError):
        backend.latest_payload("phantom")
    assert not (tmp_path / "tuple_store" / "phantom").exists()


def test_tuple_hadoop_fs_backend_per_store_conf(spark, tmp_path):
    """Per-store hadoop_conf overrides (the credential-plumbing parity
    delta vs the reference's boto3/azure backends): the store's OWN
    FileSystem instance carries the injected keys, the session-global
    conf stays untouched, and the store still round-trips."""
    from great_expectations_spark.checkpoint.store_backends import (
        BackendValidationResultStore,
        TupleHadoopFsBackend,
    )
    from great_expectations_spark.core.results import (
        ExpectationSuiteValidationResult,
    )

    root = f"file://{tmp_path}/res"
    backend = TupleHadoopFsBackend(
        spark, root,
        hadoop_conf={
            # stand-ins for fs.s3a.bucket.<b>.assumed.role.arn /
            # fs.azure.sas.token.provider.type.<acct> — any key injects
            # the same way, via a per-store Configuration copy
            "gx.test.injected.credential": "role-arn-42",
            "io.file.buffer.size": "8192",
        },
    )
    assert (
        backend._fs.getConf().get("gx.test.injected.credential")
        == "role-arn-42"
    )
    assert backend._fs.getConf().get("io.file.buffer.size") == "8192"
    # isolation: session conf must NOT see the per-store injection
    assert (
        spark._jsc.hadoopConfiguration().get("gx.test.injected.credential")
        is None
    )
    store = BackendValidationResultStore(backend)
    res = ExpectationSuiteValidationResult(
        success=True, results=[], statistics={},
        meta={"expectation_suite_name": "s1", "run_id": "r1"},
    )
    store.save(res)
    assert store.latest("s1")["success"] is True


def test_sketch_store_per_store_conf(spark, tmp_path):
    """PartitionSketchStore: same hadoop_conf injection through the
    file:// record FS; a plain local path with hadoop_conf raises
    instead of silently ignoring the credentials."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from great_expectations_spark.checkpoint.sketches import (
        PartitionSketchStore,
    )

    store = PartitionSketchStore(
        f"file://{tmp_path}/sk",
        hadoop_conf={"gx.test.injected.credential": "sas-token-7"},
    )
    assert (
        store._fs._fs.getConf().get("gx.test.injected.credential")
        == "sas-token-7"
    )
    df = spark.createDataFrame(
        [("p", 1.0), ("p", 2.0), ("q", 2.0)], "part string, x double"
    )
    store.update(df, "part", ["x"], kinds=("moments", "hll"))
    assert store.merged_moments(["x"])["x"]["count"] == 3
    # the HLL merge reads its records through the same per-store FS
    assert store.merged_distinct(spark, ["x"]) == {"x": 2}
    with _pytest.raises(ValueError, match="hadoop_conf"):
        PartitionSketchStore(
            str(tmp_path / "plain"),
            hadoop_conf={"k": "v"},
        )


def test_per_store_fs_close_idempotent(spark, tmp_path):
    """Stores built with hadoop_conf own an uncached FileSystem and can
    release it; close() is idempotent and a no-op for shared-FS stores."""
    from great_expectations_spark.checkpoint.sketches import (
        PartitionSketchStore,
    )
    from great_expectations_spark.checkpoint.store_backends import (
        TupleHadoopFsBackend,
    )

    b = TupleHadoopFsBackend(
        spark, f"file://{tmp_path}/r", hadoop_conf={"gx.k": "v"}
    )
    b.close()
    b.close()  # idempotent
    shared = TupleHadoopFsBackend(spark, f"file://{tmp_path}/r2")
    shared.close()  # shared session FS: must be a no-op (still usable)
    assert shared._fs.exists(shared._path(shared.root))

    st = PartitionSketchStore(
        f"file://{tmp_path}/sk", hadoop_conf={"gx.k": "v"}
    )
    st.close()
    st.close()
    PartitionSketchStore(str(tmp_path / "local")).close()  # local no-op
