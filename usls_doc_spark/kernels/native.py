"""Build and import the package's C extension modules.

The C source ships inside the package, so it travels with a
``spark-submit --py-files`` zip, where no compiled module can be
imported from. The first import on a host compiles it with gcc into
``~/.cache/usls_doc_spark``, under a file name made of the SHA-256 of
the source and the interpreter's extension suffix. Every later import,
by any process of the same user, loads that file. The cache is not kept
under the temporary directory: a Spark driver and its Python workers may
each see a different one.
"""

from __future__ import annotations

import fcntl
import hashlib
import importlib.util
import os
import subprocess
import sysconfig
from pathlib import Path
from types import ModuleType

CACHE_DIR = Path.home() / ".cache" / "usls_doc_spark"


def load_extension(source, cache_dir: Path = CACHE_DIR, cc: str = "gcc") -> ModuleType:
    """Import the extension module built from ``source``, a ``Path`` or an
    ``importlib.resources`` file named ``<module>.c``, compiling it into
    ``cache_dir`` with ``cc`` first if no build of this source is there.
    Concurrent first imports compile once: the build runs under an
    exclusive lock and is moved into place whole. A failed build raises
    ImportError carrying the compiler's output."""
    code = source.read_bytes()
    name = source.name.removesuffix(".c")
    digest = hashlib.sha256(code).hexdigest()
    target = Path(cache_dir) / f"{name}-{digest}{sysconfig.get_config_var('EXT_SUFFIX')}"
    if not target.exists():
        target.parent.mkdir(parents=True, exist_ok=True)
        with open(target.with_name(target.name + ".lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not target.exists():  # no other process built it meanwhile
                tmp = target.with_name(target.name + ".tmp")
                cmd = [cc, "-O2", "-shared", "-fPIC", "-I", sysconfig.get_paths()["include"],
                       "-x", "c", "-", "-o", str(tmp)]
                try:
                    proc = subprocess.run(cmd, input=code, capture_output=True)
                except OSError as e:
                    raise ImportError(f"cannot build {name}: {e}") from e
                if proc.returncode != 0:
                    raise ImportError(
                        f"building {name} failed ({' '.join(cmd)}):\n"
                        + proc.stderr.decode(errors="replace")
                    )
                os.replace(tmp, target)
    spec = importlib.util.spec_from_file_location(name, target)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module
