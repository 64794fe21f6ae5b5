"""Check that every registered query's RESULT is independent of one
Spark SQL conf.

Why this matters: the driver (and any real cluster) runs the engine
under its own sizing and plan choices. Any op whose visible output
shifts with a physical knob hash-mismatches the moment the session is
sized differently, which is exactly the failure the repo's fixed-point
aggregation discipline (pkg/exprs.py) exists to prevent. This audit
measures the discipline instead of assuming it. Axes (KEY ALT):

- ``spark.sql.shuffle.partitions 5`` — ambient 32 via tune_session vs
  a deliberately awkward 5: per-partition sampling leaking into
  results, double-sum reduction order, partition-count-dependent
  candidate generation (PERF.md r11-restart);
- ``spark.sql.autoBroadcastJoinThreshold -1`` — stats-based broadcast
  disabled everywhere, so every un-hinted join takes the
  sort-merge/shuffle shape it would take on a 100 TB corpus (the r12
  posture change, plans/hints.py; PERF.md r12);
- ``spark.sql.files.maxPartitionBytes 128m`` — scan split size, vs
  the local session's 1m (ROADMAP item 3).

Method: run each query twice on the same fixture — the ambient value
of KEY vs ALT — and compare the full normalized result multisets
(``tests.conftest._norm``, the oracle gate's normalization). Exact
equality, floats included: a float that moves with the knob is a
reduction-order dependence, the class the fixed-point convention
targets.

Run:  PYTHONPATH=. python scripts/conf_invariance_audit.py KEY ALT [sf_dir]
Exit 0 after a run (audit, not gate); failures feed fixes + regression
tests, see PERF.md.
"""

from __future__ import annotations

import sys


def main() -> int:
    from tests.conftest import SF_SMOKE, _norm
    from universal_data_to_orc_converter_spark.registry import (
        load_all_queries,
    )
    from universal_data_to_orc_converter_spark.session import get_spark

    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    key, alt = sys.argv[1], sys.argv[2]
    sf = sys.argv[3] if len(sys.argv) > 3 else SF_SMOKE
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    ambient = spark.conf.get(key, None)
    print(f"[setup] {sf}: ambient {key}={ambient}, alt={alt}")
    specs = load_all_queries()

    def result(name):
        rows = specs[name].fn(spark, sf).collect()
        return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)

    diff, err = [], []
    for name in sorted(specs):
        try:
            base = result(name)
            spark.conf.set(key, alt)
            try:
                other = result(name)
            finally:
                if ambient is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, ambient)
            if base != other:
                diff.append(name)
                seen = {
                    i
                    for i, (a, b) in enumerate(zip(base, other))
                    if a != b
                }
                print(
                    f"[DIFF] {name}: rows {len(base)} vs {len(other)}, "
                    f"first differing idx {min(seen) if seen else 'len'}"
                )
        except Exception as e:  # noqa: BLE001 — audit wants them all
            err.append(name)
            print(
                f"[ERR] {name}: {type(e).__name__}: "
                f"{str(e).splitlines()[0][:140]}"
            )
    print(
        f"[summary] {key}={alt}: {len(specs) - len(diff) - len(err)} "
        f"invariant / {len(diff)} dependent / {len(err)} errored of "
        f"{len(specs)}; diff={diff} err={err}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
