import pathlib
import sys
import tempfile

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    warehouse = tempfile.mkdtemp(prefix="usls_test_warehouse_")
    s = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.warehouse.dir", warehouse)
        .appName("usls_doc_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()


@pytest.fixture
def reliable_checkpoint_dir(spark, tmp_path):
    """Point the context's checkpoint dir at a fresh tmp dir for one test,
    so operators/materialize.py takes its reliable-checkpoint branch, and
    unset it again afterwards: the dir is context-global, and a leaked one
    would move every later test's materializations onto reliable
    checkpoints."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, "checkpoint dir leaked from an earlier test"
    sc.setCheckpointDir(str(tmp_path))
    try:
        yield tmp_path
    finally:
        # SparkContext has no unset; write None into the Scala var
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
        assert sc.getCheckpointDir() is None
