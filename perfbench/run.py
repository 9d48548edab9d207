"""Benchmark entry point.

    python3 perfbench/run.py --workload {query,build_update} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are generated from the seed; all
scratch files go to ``.perfbench_work/`` in the checkout and are removed at
the end.  Standard output ends with two JSON lines: run details (host
fingerprint, sizes, sample counts, the named per-workload figures), then the
result ``{"correct", "attempted", "failed", "metrics"}`` - the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer ones with
``--trace 1``.  An exception that escapes a workload aborts the run: exit
code 1 and no result line.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fingerprint(cores: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    fp = {
        "nproc": cores,
        "ram_gib": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "master": f"local[{cores}]",
        "shuffle_dir": ".perfbench_work/spark-local",
        "python": platform.python_version(),
    }
    fp["id"] = hashlib.sha1(json.dumps(fp, sort_keys=True).encode()).hexdigest()[:10]
    return fp


def cleanup(work: str) -> None:
    """Remove this process's scratch directory, and its parent when no
    other process of the benchmark still uses it."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


def _round(v):
    if isinstance(v, float):
        return float(f"{v:.4g}")
    if isinstance(v, dict):
        return {k: _round(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_round(x) for x in v]
    return v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: build the query workload's fixture index into this directory
    ap.add_argument("--make-fixture", metavar="DIR")
    args = ap.parse_args(argv)
    if not (args.workload or args.make_fixture):
        ap.error("--workload is required")

    work = os.path.join(
        ROOT, ".perfbench_work", "fixture" if args.make_fixture else "run"
    )
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    # every scratch file of Spark, PySpark and the engine stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVMs too (and no hsperfdata files under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp")
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]
    try:
        import search_engine_spark.serving  # noqa: F401
        from pyspark.sql import SparkSession  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        cleanup(work)
        return 2

    import report
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.make_fixture:
        bench = workloads.Bench(ROOT, work, 0, 0.0, False)
        try:
            workloads.make_fixture(bench, args.make_fixture)
        finally:
            bench.shutdown()
            cleanup(work)
        return 0
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    bench = workloads.Bench(
        ROOT, work, args.seed, args.seconds, bool(args.trace), T_START
    )
    bench.import_s = time.perf_counter() - T_START
    try:
        result = workloads.WORKLOADS[args.workload](bench)
        layer = report.per_layer(bench, result) if args.trace else None
    finally:
        bench.shutdown()
        cleanup(work)
    bench.phase("end")
    # timings in seconds of an idle host (see hostspeed.py); raw ones in
    # the details line
    raw = dict(result["metrics"], setup_s=bench.setup_s)
    factor = bench.speed.factor
    e2e = {k: v * factor for k, v in raw.items()}
    e2e["peak_pss_mib"] = bench.rss.peak_mib

    f = bench.fails
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": fingerprint(bench.cores),
        "sizes": result["sizes"],
        "counts": result["counts"],
        "named": result["named"],
        "setup_parts_s": bench.setup_parts,
        "host_factor": factor,
        "probes": len(bench.speed.samples),
        "probe_ms": bench.speed.median_ms,
        "raw": raw,
        "phases_s": bench.phases,
        "failed_op_ratio": f.failed / max(1, f.attempted),
        "fail_notes": [n[:80] for n in f.notes[:5]],
    }
    if layer is None:
        declared, values = spec["end_to_end"], e2e
    else:
        declared, values = spec["per_layer"], layer
        names = {m["name"] for m in declared}
        detail["layers"] = {k: v for k, v in layer.items() if k not in names}
    out = {
        "correct": f.failed == 0 and f.attempted > 0,
        "attempted": max(1, f.attempted),
        "failed": f.failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in declared
        },
    }
    print(json.dumps(_round(detail), separators=(",", ":")))
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
