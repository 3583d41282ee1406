"""Full driver-gate simulation: run EVERY registry query at sf0.01 on
local[$SPARK_GRAFT_CPUS] and compare against its DuckDB oracle with the
same row-count + schema + order-insensitive value comparison the driver's
correctness harness applies (tests/oracle_utils.compare).

Usage:  python scripts/gate_sim.py [sf_dir]
Prints one line per query and a final ALL GREEN / N FAILED summary;
exit code 1 on any failure.
"""

from __future__ import annotations

import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from tests.oracle_utils import compare, duck_con  # noqa: E402


def main() -> int:
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from usls_doc_spark.session import build_session

    spark = build_session(f"local[{cpus}]", driver_memory="16g", ui=False, log_level="ERROR")

    from usls_doc_spark.queries import build_registry

    queries, oracles = build_registry()
    con = duck_con(sf_dir)
    t_all = time.perf_counter()
    fails = []
    for i, name in enumerate(queries, start=1):
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, sf_dir)
            if name in oracles:
                ok, msg = compare(df, con.sql(oracles[name]))
            else:
                ok, msg = df.count() >= 0, "rows-only"
        except Exception as e:  # noqa: BLE001 — a gate sim must report, not die
            ok, msg = False, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        print(f"[{i:2d}/{len(queries)}] {'ok  ' if ok else 'FAIL'} {name:32s} "
              f"{dt:6.1f}s {'' if ok else msg}", flush=True)
        if not ok:
            fails.append((name, msg))
    total = time.perf_counter() - t_all
    if fails:
        print(f"{len(fails)} FAILED of {len(queries)} in {total:.0f}s: "
              f"{[n for n, _ in fails]}")
        return 1
    print(f"ALL GREEN: {len(queries)}/{len(queries)} in {total:.0f}s at {sf_dir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
