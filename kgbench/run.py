"""KG-linker benchmark entry point.

    python3 kgbench/run.py --workload link_heavy --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Prints a human-readable summary, then as
its last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics).  Exits non-zero without a result when
the package cannot be imported from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--warmup", type=int, choices=(0, 1), default=1,
        help="1 (default): one untimed warm-up operation before timing",
    )
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import omop_concept_automapper_spark  # noqa: F401
    except ImportError as exc:
        print(f"kgbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2

    # Python workers import the package too; they inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from workloads import WORKLOADS, Bench
    from layers import traced_run

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    bench = Bench(ROOT, args.workload, args.seed)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "local")
    # keep temporary files inside the checkout: Python's tempfile, and the
    # JVMs' perf-data files (written under /tmp unless disabled)
    os.environ["TMPDIR"] = os.path.join(bench.work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        wl = WORKLOADS[args.workload](bench, args.seed, args.seconds, bool(args.warmup))
        result = traced_run(wl) if args.trace else wl.run()
    finally:
        bench.close()
    for line in result.summary:
        print(line)
    print(json.dumps(result.record()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
