"""Dev loop: run registered query pairs against the DuckDB oracle.

Usage:
    python tools/check.py [sf_dir] [name_prefix ...]
    python tools/check.py --analyze [sf_dir] [name_prefix ...]

``--analyze`` is the pre-commit gate: it CONSTRUCTS every selected pair's
DataFrame and forces Spark's analyzer over it (``df.schema``) without
executing a job, so an operator that fails at analysis time (illegal
expression, unresolved column, bad plan shape) can never ship unrun —
the dq07 class of bug — then applies the sweep's static audit. Seconds
for most of the registry; pairs that materialize fixtures inside their
builder still pay that one-time cost.

Each pair's verdict and wall time print as it lands, flushed, so long
sweeps at sf1+ (where one heavy DuckDB oracle can grind for an hour) are
observable and interruptible, and their partial output survives as an
artifact (see evidence/sweep_sf1_*.log).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pydatalake_gen2_spark.harness import duck_connect, run_pair
from pydatalake_gen2_spark.registry import load_all
from pydatalake_gen2_spark.session import get_spark


def _selected(prefixes: list[str]) -> list[str]:
    from pydatalake_gen2_spark.registry import REGISTRY

    return sorted(
        n for n in REGISTRY if not prefixes or any(n.startswith(p) for p in prefixes)
    )


def analyze_only(sf_dir: str, names: list[str]) -> int:
    """Construct + analyze every selected pair; no job execution.

    Each pair with an oracle then gets ``run_pair``'s static audit,
    ``typeaudit.audit_pair`` (dtype-class parity and the shape contract),
    jobless on both sides. After each pair, pass or fail,
    ``release_persisted()`` frees what its construction held (eager
    persists, checkpoints, broadcasts), so the sweep's footprint stays
    that of one pair.
    """
    from pydatalake_gen2_spark.operators.util import release_persisted
    from pydatalake_gen2_spark.registry import REGISTRY
    from pydatalake_gen2_spark.typeaudit import audit_pair

    spark = get_spark("analyze")
    con = duck_connect(sf_dir)
    bad = 0
    t0 = time.time()
    for name in names:
        pair = REGISTRY[name]
        try:
            df = pair.spark_fn(spark, sf_dir)
            _ = df.schema  # forces full analysis; never runs a job
            if pair.duck_sql is not None:
                problems = audit_pair(con, pair.duck_sql, df)
                if problems:
                    bad += 1
                    print(f"FAIL {name:38s} STATIC_MISMATCH: {problems}")
        except Exception as e:  # noqa: BLE001 — report every failure class
            bad += 1
            print(f"FAIL {name:38s} {type(e).__name__}: {str(e)[:300]}")
        finally:
            release_persisted()
    print(f"\nanalyze+types+shape: {len(names) - bad}/{len(names)} pass "
          f"({time.time() - t0:.1f}s)")
    return 1 if bad else 0


def main() -> int:
    argv = sys.argv[1:]
    analyze = "--analyze" in argv
    argv = [a for a in argv if a != "--analyze"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    prefixes = argv[1:]
    load_all()
    names = _selected(prefixes)
    if not names:
        print(f"no registered pair matches {prefixes}", file=sys.stderr)
        return 2
    if analyze:
        return analyze_only(sf_dir, names)

    spark = get_spark("check")
    con = duck_connect(sf_dir)
    bad = 0
    for name in names:
        t0 = time.time()
        try:
            r = run_pair(spark, con, sf_dir, name)
        except Exception as e:  # noqa: BLE001 — keep sweeping, report all
            r = {"status": "ERROR", "detail": f"{type(e).__name__}: {e}"}
        ok = r["status"] in ("match", "rows_only")
        bad += 0 if ok else 1
        line = f"{'OK ' if ok else 'FAIL'} {name:38s} {r['status']} ({time.time() - t0:.1f}s)"
        if not ok:
            line += f"\n     {r.get('detail', '')[:500]}"
        print(line, flush=True)
    print(f"\n{len(names) - bad}/{len(names)} pass", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
