"""kernels/native.py: building the C block parser on first import — one
compile under concurrent first imports, loud build failures, and imports
from a ``--py-files`` style zip of the package."""

import json
import os
import subprocess
import sys
import zipfile
from importlib import resources
from pathlib import Path

import pytest

from usls_doc_spark.kernels.native import load_extension

ROOT = Path(__file__).resolve().parents[1]
SOURCE = resources.files("usls_doc_spark.kernels") / "_blockparse.c"


def _env(**extra) -> dict:
    return {**os.environ, "PYTHONPATH": str(ROOT), **extra}


def test_concurrent_first_imports_compile_once(tmp_path):
    cache = tmp_path / "cache"
    log = tmp_path / "cc.log"
    cc = tmp_path / "cc"
    # a compiler that records each run and is slow enough for the other
    # importers to arrive while the first build holds the lock
    cc.write_text(f'#!/bin/sh\necho run >> "{log}"\nsleep 0.5\nexec gcc "$@"\n')
    cc.chmod(0o755)
    code = (
        "from importlib import resources\n"
        "from usls_doc_spark.kernels.native import load_extension\n"
        "src = resources.files('usls_doc_spark.kernels') / '_blockparse.c'\n"
        f"m = load_extension(src, cache_dir={str(cache)!r}, cc={str(cc)!r})\n"
        "print(m.__file__)\n"
    )
    procs = [
        subprocess.Popen([sys.executable, "-c", code], env=_env(),
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for _ in range(4)
    ]
    outs = [p.communicate(timeout=120) for p in procs]
    assert [p.returncode for p in procs] == [0] * 4, [err for _, err in outs]
    files = {out.strip() for out, _ in outs}
    assert len(files) == 1
    (built,) = files
    assert Path(built).parent == cache and Path(built).exists()
    assert log.read_text().splitlines() == ["run"]
    # a later import loads the same build without compiling
    assert load_extension(SOURCE, cache_dir=cache, cc=str(cc)).__file__ == built
    assert log.read_text().splitlines() == ["run"]


def test_compile_failure_raises_import_error(tmp_path):
    src = tmp_path / "_broken.c"
    src.write_text("#include <Python.h>\nint broken(void) { return undeclared_name; }\n")
    cache = tmp_path / "cache"
    with pytest.raises(ImportError, match="undeclared_name"):
        load_extension(src, cache_dir=cache)
    assert not list(cache.glob("*.so"))
    with pytest.raises(ImportError, match="cannot build"):
        load_extension(src, cache_dir=cache, cc=str(tmp_path / "no-such-compiler"))


def test_parser_import_fails_without_a_compiler(tmp_path):
    """No Python fallback: without a build and without gcc, importing the
    boilerplate kernel raises ImportError."""
    empty = tmp_path / "bin"
    empty.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", "import usls_doc_spark.kernels.boilerplate"],
        env=_env(HOME=str(tmp_path / "home"), PATH=str(empty)),
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "ImportError: cannot build _blockparse" in proc.stderr


def test_import_from_package_zip(tmp_path):
    """spark-submit --py-files ships the package as a zip: the C source is
    read from the zip and the parser it builds matches the stdlib oracle
    on the adversarial corpus."""
    from tests.test_boilerplate_parser import ADVERSARIAL_HTML, _block_key

    from usls_doc_spark.kernels.boilerplate import parse_blocks

    archive = tmp_path / "usls.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for f in sorted((ROOT / "usls_doc_spark").rglob("*")):
            if f.is_file() and "__pycache__" not in f.parts:
                z.write(f, f.relative_to(ROOT))
    corpus = tmp_path / "corpus.json"
    corpus.write_text(json.dumps(ADVERSARIAL_HTML))
    code = (
        "import json, sys\n"
        "from usls_doc_spark.kernels import boilerplate as b\n"
        f"assert b.__file__.startswith({str(archive)!r}), b.__file__\n"
        f"pages = json.load(open({str(corpus)!r}))\n"
        "key = lambda bs: [(x.tag, x.text, x.link_chars, x.boilerplate_ancestor) for x in bs]\n"
        "print(json.dumps([[key(b.parse_blocks(h)), key(b.parse_blocks_stdlib(h))]"
        " for h in pages]))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(archive), "HOME": str(tmp_path / "home")},
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    results = json.loads(proc.stdout)
    assert len(results) == len(ADVERSARIAL_HTML)
    for html, (fast, slow) in zip(ADVERSARIAL_HTML, results):
        assert fast == slow, html
        assert fast == [list(_block_key(b)) for b in parse_blocks(html)], html
    assert list((tmp_path / "home" / ".cache" / "usls_doc_spark").glob("_blockparse-*.so"))
