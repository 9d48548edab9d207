"""Self-test of the benchmark's own tooling.

    python3 perfbench/selftest.py            # offline checks, a few seconds
    python3 perfbench/selftest.py --traced   # also one traced run per workload

Offline: span self-times and CPU splits, the event-log parser on a
synthetic log, the generator's determinism and vocabulary, the workload
names in ``BENCHMARK.json``, that an operation that raised counts as
failed, the host-speed factor, that the memory sampler process reports
a peak and exits, and that the query fixture's cache key follows the
engine's code.

``--traced``: runs every workload with ``--trace 1`` and asserts that the
answers are correct and that the layer self-times plus the
``unattributed`` bucket cover the traced wall to within 10%.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402
import report  # noqa: E402
from tracing import GroupStats, Span, parse_event_log, self_cpu, self_times  # noqa: E402

COVERAGE_TOL = 0.10


def check_spans() -> None:
    cpu = lambda d, j, p: {"driver": d, "jvm": j, "pyworker": p}  # noqa: E731
    spans = [
        Span(0, "index_build", "save", None, 0.0, 10.0, cpu(0, 0, 0), cpu(1, 5, 8)),
        Span(1, "tokenize", "x", 0, 1.0, 4.0, cpu(0, 0, 0), cpu(0.5, 1, 2)),
        Span(2, "query", "y", 1, 2.0, 3.0, cpu(0, 0, 0), cpu(0.1, 0.2, 0.3)),
        Span(3, "unattributed", "z", None, 10.0, 12.0),
    ]
    st = self_times(spans)
    assert st == {0: 7.0, 1: 2.0, 2: 1.0, 3: 2.0}, st
    sc = self_cpu(spans)
    assert abs(sc[0]["pyworker"] - 6.0) < 1e-9 and abs(sc[1]["jvm"] - 0.8) < 1e-9, sc
    assert 3 not in sc


def check_event_log(tmp: str) -> None:
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb-7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
    ]
    for stage, launch, finish in ((0, 0, 100), (0, 0, 300), (1, 0, 50), (2, 0, 10)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": finish, "Executor CPU Time": 10**9,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024},
                "Disk Bytes Spilled": 5,
                "Input Metrics": {"Bytes Read": 7},
                "Output Metrics": {"Bytes Written": 3},
            },
        })
    os.makedirs(tmp)
    with open(os.path.join(tmp, "app-1"), "w") as fh:
        fh.write("\n".join(json.dumps(e) for e in events) + "\n")
    g = parse_event_log(tmp)
    a, root = g["pb-7"], g["pb-root"]
    assert (a.jobs, a.tasks, root.jobs, root.tasks) == (1, 3, 1, 1)
    assert abs(a.task_s - 0.45) < 1e-9 and a.shuffle_write_b == 3072
    assert a.spill_b == 15 and a.input_b == 21 and a.output_b == 9
    assert abs(a.skew() - 1.5) < 1e-9, a.skew()  # stage 0: 0.3 / median 0.2
    assert GroupStats().skew() == 0.0


def check_corpus() -> None:
    a, _ = corpus.generate(300, 5)
    b, _ = corpus.generate(300, 5)
    c, _ = corpus.generate(300, 6)
    assert a.contents == b.contents and a.contents != c.contents
    words = [corpus.word(r) for r in range(20_000)]
    assert len(set(words)) == len(words)
    delta = {corpus.delta_word(i) for i in range(200)}
    assert not delta & set(words)
    try:
        from search_engine_spark.functions.porter import stem
        from search_engine_spark.functions.stopwords import STOPWORDS
    except ImportError:
        return
    odd = [w for w in words + sorted(delta) if stem(w) != w or w in STOPWORDS]
    assert not odd, odd[:5]


def check_spec() -> None:
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def check_hostspeed() -> None:
    from hostspeed import REF_S, HostSpeed

    h = HostSpeed()
    h.sample(5)
    assert len(h.samples) == 5 and min(h.samples) > 0
    assert abs(h.factor * sorted(h.samples)[2] - REF_S) < 1e-12


def check_rss_sampler() -> None:
    from tracing import RssSampler

    r = RssSampler(interval=0.05)
    r.start()
    time.sleep(0.2)
    proc = r._proc
    assert r.stop() > 0 and proc.poll() is not None


def check_failures() -> None:
    import workloads

    f = workloads.Failures()
    assert f.attempt("ok", lambda: 3) == 3 and (f.attempted, f.failed) == (0, 0)
    assert f.attempt("boom", lambda: 1 / 0) is None
    assert (f.attempted, f.failed) == (1, 1) and "ZeroDivisionError" in f.notes[0]


def check_fixture_key(tmp: str) -> None:
    """Another version of an engine file, or another file, gives another
    fixture directory."""
    import workloads

    pkg = os.path.join(tmp, "search_engine_spark", "operators")
    os.makedirs(pkg)
    mod = os.path.join(pkg, "codec.py")
    keys = []
    for text in ("A = 1\n", "A = 2\n", "A = 1\n"):
        with open(mod, "w") as fh:
            fh.write(text)
        keys.append(workloads.fixture_dir(tmp))
    assert keys[0] != keys[1] and keys[0] == keys[2], keys
    with open(os.path.join(pkg, "extra.py"), "w") as fh:
        fh.write("")
    assert workloads.fixture_dir(tmp) != keys[0]
    assert workloads.fixture_dir(tmp) != workloads.fixture_dir(ROOT)


def check_traced(seconds: str) -> None:
    import workloads

    for name in workloads.WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
             "--seed", "1", "--seconds", seconds, "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        lines = p.stdout.strip().splitlines()
        detail, out = json.loads(lines[-2]), json.loads(lines[-1])
        assert len(lines[-1]) < 2000 and len(lines[-2]) < 2000
        m = {**detail["layers"], **{k: v["value"] for k, v in out["metrics"].items()}}
        layers = sum(m[f"{layer}.self_s"] for layer in report.LAYERS)
        gap = abs(1.0 - m["trace.coverage"])
        print(
            f"{name}: wall {m['trace.wall_s']:.2f} s, layers {layers:.2f} s, "
            f"unattributed {m['trace.unattributed_s']:.2f} s, gap {gap:.1%}, "
            f"overhead {m['trace.overhead_s']:.2f} s, correct {out['correct']}"
        )
        assert out["correct"] and out["failed"] == 0, out
        assert gap <= COVERAGE_TOL, f"{name}: {gap:.1%} of the traced wall unattributed"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    tmp = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        check_spans()
        check_event_log(tmp)
        check_corpus()
        check_spec()
        check_failures()
        check_hostspeed()
        check_rss_sampler()
        check_fixture_key(os.path.join(tmp, "root"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("offline checks passed")
    if args.traced:
        check_traced(args.seconds)
        print("traced decomposition passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
