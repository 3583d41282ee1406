import pathlib
import sys
import tempfile

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from usls_doc_spark.session import build_session

    s = build_session(
        "local[8]",
        driver_memory="8g",
        warehouse_dir=tempfile.mkdtemp(prefix="usls_test_warehouse_"),
        ui=False,
    )
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
