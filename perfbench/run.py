"""csvb benchmark entry point.

    python3 perfbench/run.py --workload exec_csv|serve_short
        --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed afterwards). The report lines go to
stdout; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the engine must come from this checkout: without it the run is an
    # error, never a result
    import csvb_spark

    if not os.path.abspath(csvb_spark.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"csvb_spark imported from outside {ROOT}")

    import layers
    import procs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    os.environ.update(procs.engine_env(os.path.join(workdir, "local")))
    ctx = workloads.Ctx(args.seed, args.seconds, bool(args.trace), workdir)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        for s in ctx.servers:
            s.stop()
        _stop_session()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run still has its directory there

    res.report_extra()
    e2e = res.end_to_end()
    print(f"workload {args.workload} seed {args.seed} inputs {res.digest} "
          f"memory_pool {procs.MEMORY_POOL_BYTES >> 20} MiB cores {procs.SPARK_CPUS}")
    print("  phases " + " ".join(f"{k}={v:.1f}s" for k, v in res.phases.items()))
    for kind, xs in sorted(res.latencies.items()):
        print(f"  kind {kind}: n={len(xs)} median={statistics.median(xs):.1f} ms")
    for name, (v, unit) in {**e2e, **res.extra}.items():
        print(f"  {name} = {v:.6g} {unit}")
    for err in res.errors:
        print(f"  FAILED {err}")
    if args.trace:
        res.layers["traced.stmt_p50_ms"] = e2e["stmt_p50_ms"][0]
        for name, (unit, moves) in layers.LAYER_MAP.items():
            print(f"  layer {name} = {res.layers[name]:.6g} {unit}  -> {moves}")
        metrics = {n: {"value": res.layers[n], "unit": u} for n, (u, _) in layers.LAYER_MAP.items()}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


def _stop_session() -> None:
    """Stop an in-process SparkSession and wait for its JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=30)


if __name__ == "__main__":
    # an exception ends the run with a traceback and exit code 1,
    # never with a result line
    sys.exit(main())
