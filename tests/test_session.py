"""The one session builder (usls_doc_spark/session.py): no other file
outside perfbench builds a session, and the test session carries the
engine settings."""

import pathlib
import re

from usls_doc_spark.session import ENGINE_CONF

ROOT = pathlib.Path(__file__).resolve().parents[1]
# perfbench/ builds its own session: it is the benchmark, not the program
SCANNED = ["usls_doc_spark", "scripts", "tests", "bench.py", "__spark_entry__.py"]
BUILDER = re.compile(r"SparkSession\.builder")


def test_one_session_builder():
    found = set()
    for entry in SCANNED:
        path = ROOT / entry
        for f in path.rglob("*.py") if path.is_dir() else [path]:
            if BUILDER.search(f.read_text()):
                found.add(f.relative_to(ROOT).as_posix())
    assert found == {"usls_doc_spark/session.py"}, sorted(found)


def test_session_has_engine_conf(spark):
    for key, value in ENGINE_CONF.items():
        assert spark.conf.get(key) == value, key
    # local[8]: one post-shuffle partition per core
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
