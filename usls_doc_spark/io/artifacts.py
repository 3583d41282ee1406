"""Model-artifact cache: fetch-once, sha-keyed local store with retry.

Mirrors Hub::try_fetch semantics (/root/reference/src/misc/hub.rs:82-100 —
download with retry/backoff via retry.rs:1-60, content-keyed local cache).
Driver-side only: artifacts are fetched ONCE on the driver and shipped to
executors with ``spark.sparkContext.broadcast`` (or SparkFiles), never
fetched from workers (SURVEY.md §2.1 S4).

Network access is absent in this sandbox, so fetching supports file:// URLs
and injected fetch functions; the retry/backoff and cache behavior is the
tested contract.
"""

from __future__ import annotations

import hashlib
import pathlib
import time
import urllib.request

DEFAULT_CACHE = "/tmp/usls_doc_spark_cache"
MAX_ATTEMPTS = 3  # retry.rs default-ish
BACKOFF_S = 0.2


def _default_fetch(url: str) -> bytes:
    with urllib.request.urlopen(url) as r:  # noqa: S310 - file:// in tests
        return r.read()


def fetch_artifact(
    url: str,
    cache_dir: str = DEFAULT_CACHE,
    fetch_fn=None,
    max_attempts: int = MAX_ATTEMPTS,
    backoff_s: float = BACKOFF_S,
) -> pathlib.Path:
    """Return a local path for ``url``, downloading with retry/backoff on
    miss. Cache key = sha256(url); content is written atomically."""
    fetch_fn = fetch_fn or _default_fetch
    cache = pathlib.Path(cache_dir)
    cache.mkdir(parents=True, exist_ok=True)
    key = hashlib.sha256(url.encode("utf-8")).hexdigest()[:32]
    dest = cache / f"{key}_{url.rsplit('/', 1)[-1][:64]}"
    if dest.exists():
        return dest
    last_err: Exception | None = None
    for attempt in range(max_attempts):
        try:
            data = fetch_fn(url)
            tmp = dest.with_suffix(".part")
            tmp.write_bytes(data)
            tmp.rename(dest)  # atomic publish
            return dest
        except Exception as e:  # retry with backoff (retry.rs semantics)
            last_err = e
            if attempt + 1 < max_attempts:
                time.sleep(backoff_s * (2**attempt))
    raise RuntimeError(f"failed to fetch {url} after {max_attempts} attempts") from last_err
