"""The one lineage cut (operators/materialize.py): it is the only
checkpoint call site in the package, and with a context checkpoint dir
set the routed execs write reliable checkpoints there and still match
their DuckDB oracles."""

import ast
import pathlib

import pytest

from tests.conftest import SF_DIR
from tests.oracle_utils import compare, duck_con

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "usls_doc_spark"
CHECKPOINT_CALLS = {"localCheckpoint", "checkpoint"}


def test_checkpoint_calls_only_in_materialize():
    """Every .localCheckpoint( / .checkpoint( call in the package is in
    operators/materialize.py; a new lineage cut calls materialize()."""
    found = set()
    for path in PACKAGE.rglob("*.py"):
        tree = ast.parse(path.read_text(), filename=str(path))
        if any(
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in CHECKPOINT_CALLS
            for node in ast.walk(tree)
        ):
            found.add(path.relative_to(PACKAGE).as_posix())
    assert found == {"operators/materialize.py"}, sorted(found)


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "kmeans_ivf_build"])
def test_reliable_checkpoints_keep_oracle_parity(spark, reliable_checkpoint_dir, name):
    """A text_exec site and a training_mix_exec site on the reliable path:
    rdd-* files land under the dir and the rows equal the oracle's."""
    from usls_doc_spark.queries import build_registry

    queries, oracles = build_registry()
    con = duck_con(SF_DIR)
    ok, msg = compare(queries[name](spark, SF_DIR), con.sql(oracles[name]))
    assert ok, f"{name}: {msg}"
    assert list(reliable_checkpoint_dir.glob("*/rdd-*")), "no reliable checkpoint written"
