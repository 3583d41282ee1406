"""perfbench imports program names directly (perfbench/layers.py replays
kernels out of process on every run, traced or not). A renamed or
re-signatured name must fail here, in tier-1, rather than fail every
benchmark run."""

import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent

PROBE = """
import sys
sys.path[:0] = [{root!r}, {bench!r}]
import gen, layers, workloads
from harness import Tracer
from pyspark import SparkContext

assert SparkContext._active_spark_context is None
texts = {{d: " ".join(f"w{{d}}x{{i}}" for i in range(9 + 3 * d)) for d in range(6)}}
for replay in (layers.replay_html, layers.replay_ocr):
    out = replay(texts, 1, Tracer(False))
    assert out and all(v >= 0 for v in out.values()), out
assert SparkContext._active_spark_context is None
print("ok")
"""


def test_perfbench_modules_import_and_replay_without_spark():
    probe = PROBE.format(root=str(ROOT), bench=str(ROOT / "perfbench"))
    res = subprocess.run(
        [sys.executable, "-c", probe], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert res.returncode == 0, res.stderr[-4000:]
    assert res.stdout.strip().endswith("ok")
