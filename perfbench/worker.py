"""One benchmark run of one workload, in this process.

``run.py`` starts this file with its own arguments and ends every process
it leaves behind; run ``run.py``, not this file:

    python3 perfbench/run.py --workload roundtrip --seed 1 --seconds 15 \\
        --trace 0

Run from the root of a checkout. Workloads: ``roundtrip`` and
``mutate`` (see README.md beside this file). Inputs
are generated from ``--seed``; every answer is checked outside the timed
region. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``
(the span artifact goes to ``perfbench/.work/``). The line before it is a
detail record with the workload's own named metrics. Exits non-zero on any
correctness failure, and without a result when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import harness as H

WORKLOADS = ("roundtrip", "mutate")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    H.configure_process_env()
    sys.path.insert(0, H.ROOT)
    try:
        import cuda_float_compress_spark as pkg
    except ImportError as e:
        print(f"perfbench: cannot import the engine package: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(H.ROOT + os.sep):
        print(f"perfbench: {pkg.__file__} is not this checkout's package",
              file=sys.stderr)
        return 2

    import importlib

    import layers as L

    module = importlib.import_module(args.workload)
    session = H.Session(app=f"perfbench-{args.workload}")
    tracer = H.Tracer(enabled=False)
    ctx = L.Ctx(session, tracer, H.Checks(), args.seed)
    t0 = time.perf_counter()
    try:
        res = module.run(ctx, args.seconds, bool(args.trace))
    finally:
        session.close()
        shutil.rmtree(H.run_dir(), ignore_errors=True)
    clock = res["clock"]
    detail = {
        "workload": args.workload, "seed": args.seed,
        "run_wall_s": time.perf_counter() - t0,
        "cycle_ms": [1e3 * c for c in clock.cycles],
        "op_samples": {k: len(v) for k, v in clock.samples.items()},
        "op_p50_ms": {k: clock.p50_ms(k) for k in clock.samples},
        **res["detail"],
        "check_failures": ctx.checks.notes,
    }
    if args.trace:
        path = os.path.join(H.WORK, f"trace-{args.workload}-{args.seed}.json")
        tracer.write(path, {"workload": args.workload, "seed": args.seed,
                            "per_layer": res["per_layer"]})
        detail["trace_artifact"] = os.path.relpath(path, H.ROOT)
        metrics = res["per_layer"]
        units = {k: _layer_unit(k) for k in metrics}
    else:
        metrics = {"setup_s": res["setup_s"],
                   **clock.end_to_end(),
                   "compression_ratio": res["compression_ratio"]}
        units = H.UNITS
    print(json.dumps({"detail": detail}, default=float))
    print(H.result_line(ctx.checks, sum(map(len, clock.samples.values())),
                        metrics, units))
    return 0 if ctx.checks.failed == 0 else 1


def _layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_x", "_per_row_decoded")):
        return "x"
    if name.endswith(("bytes", "bytes_reclaimed")):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
