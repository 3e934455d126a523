import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

from np_data_validation_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # Planner-relevant conf pinned explicitly (ADVICE r7
    # test_plan_shapes.py:141): the plan snapshots encode decisions that
    # hinge on parallelism (whether ensure_cpu_splits inserts its
    # Exchange) and on the broadcast threshold — pinning them makes the
    # snapshot suite host-independent instead of relying on local[4]
    # defaults matching the Spark version's.
    s = get_spark(
        app_name="npdv-tests",
        cpus=4,
        extra_conf={
            "spark.default.parallelism": "4",
            "spark.sql.leafNodeDefaultParallelism": "4",
            "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
            "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(4 * 1024 * 1024),
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def synth_dataset(tmp_path_factory):
    """Deterministic snapshot+manifest with all fault classes injected."""
    from np_data_validation_spark import synth

    root = str(tmp_path_factory.mktemp("synth"))
    labels = synth.generate_dataset(root, n_rows=4000, seed=42)
    return root, labels


@pytest.fixture(scope="session")
def seq_man(spark, synth_dataset):
    root, labels = synth_dataset
    seq = spark.read.parquet(os.path.join(root, "sequences"))
    man = spark.read.parquet(os.path.join(root, "manifest"))
    return seq, man, labels


@pytest.fixture(scope="session")
def seq_onepass(spark, seq_man, tmp_path_factory):
    """``validate_onepass`` over the labeled synth dataset, shared by every
    suite that checks the product's outputs on it."""
    from np_data_validation_spark.plans.onepass import validate_onepass

    seq, man, _ = seq_man
    return validate_onepass(spark, seq, man, str(tmp_path_factory.mktemp("seq_onepass")))


@pytest.fixture(scope="session")
def duckdb_outputs():
    """Callable: Spark snapshot (with tokens) + manifest -> the DuckDB
    reference rows of tests/duckdb_reference.py."""
    from pyspark.sql import functions as F

    from np_data_validation_spark.functions.hashing import with_tok_hash
    from tests.duckdb_reference import reference_outputs

    def run(snapshot, manifest):
        hashed = with_tok_hash(snapshot).select(
            "doc_id", "source", "n_tok", "tok_hash",
            F.when(F.col("tokens").isNotNull(), F.size("tokens")).alias("n_tok_actual"),
        )
        return reference_outputs(
            hashed.toArrow(),
            manifest.select("doc_id", "source", "n_tok", "tok_hash").toArrow(),
        )

    return run
