"""The per-layer summary of a traced pass.

The names, units and directions of the metrics a run prints are those in
``BENCHMARK.json``.  A layer a workload does not use reports 0.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from tracing import GroupStats, parse_event_log, self_cpu, self_times

MIB = 2**20

LAYERS = (
    "session", "pagerank", "tokenize", "index_build", "query", "wand",
    "serving", "merge", "publish",
)


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return float(sum(values) / len(values)) if values else 0.0


def pctl(values, q: float) -> float:
    values = list(values)
    return float(np.percentile(values, q)) if values else 0.0


def per_layer(bench, result: dict) -> dict[str, float]:
    """Per-layer metrics of the traced pass (spans from ``mark`` on), plus
    the cold set-up's session figures and load figures over the run."""
    traced = result["traced"]
    all_spans = bench.tracer.spans
    spans = all_spans[traced["mark"]:]
    wall = traced["wall"]
    samples = traced["samples"]
    t0 = time.perf_counter()
    groups = parse_event_log(bench.eventlog_dir)
    parse_s = time.perf_counter() - t0
    selfs = self_times(spans)
    cpus = self_cpu(spans)
    empty = GroupStats()

    def pick(layer, name, pool=spans):
        return [s for s in pool if s.layer == layer and s.name == name]

    def g(s) -> GroupStats:
        return groups.get(bench.tracer.group(s), empty)

    def cpu(s, k) -> float:
        return cpus.get(s.id, {}).get(k, 0.0)

    m: dict[str, float] = {}
    m["session.start_s"] = bench.setup_parts["session_start_s"]
    m["session.first_udf_job_s"] = bench.setup_parts["first_udf_job_s"]
    pr = pick("pagerank", "pagerank")
    m["pagerank.wall_s"] = _med(s.wall for s in pr)
    m["pagerank.iterations"] = float(samples.get("iterations", 0)) if pr else 0.0
    m["pagerank.driver_cpu_s"] = _med(cpu(s, "driver") for s in pr)
    m["pagerank.task_s"] = _med(g(s).task_s for s in pr)
    tok = pick("tokenize", "build_index")
    m["tokenize.wall_s"] = _med(s.wall for s in tok)
    m["tokenize.task_s"] = _med(g(s).task_s for s in tok)
    m["tokenize.pyworker_cpu_s"] = _med(cpu(s, "pyworker") for s in tok)
    m["tokenize.jvm_cpu_s"] = _med(cpu(s, "jvm") for s in tok)
    save = pick("index_build", "save")
    m["index_build.save_s"] = _med(s.wall for s in save)
    m["index_build.pyworker_cpu_s"] = _med(cpu(s, "pyworker") for s in save)
    m["index_build.shuffle_write_mib"] = _med(g(s).shuffle_write_b / MIB for s in save)
    m["index_build.spill_mib"] = _med(g(s).spill_b / MIB for s in save)
    m["index_build.task_skew"] = _med(g(s).skew() for s in save)
    m["index_build.bytes_written_mib"] = _med(g(s).output_b / MIB for s in save)
    m["index_build.size_ratio"] = float(result["named"]["index_size_ratio"])
    m["index_build.load_s"] = _med(s.wall for s in pick("index_build", "load", all_spans))

    plan, exe = pick("query", "search_plan"), pick("query", "search_exec")
    m["query.plan_ms"] = _med(s.wall * 1e3 for s in plan)
    m["query.exec_ms"] = _med(s.wall * 1e3 for s in exe)
    per_q = list(zip(plan, exe))
    m["query.jobs_per_query"] = _mean(g(a).jobs + g(b).jobs for a, b in per_q)
    m["query.tasks_per_query"] = _mean(g(a).tasks + g(b).tasks for a, b in per_q)
    m["query.input_mib_per_query"] = _mean(
        (g(a).input_b + g(b).input_b) / MIB for a, b in per_q
    )
    m["query.pyworker_cpu_ms"] = _mean(
        (cpu(a, "pyworker") + cpu(b, "pyworker")) * 1e3 for a, b in per_q
    )
    batch = pick("query", "search_batch")
    m["query.batch_s"] = _med(s.wall for s in batch)
    m["query.batch_shuffle_mib"] = _med(g(s).shuffle_write_b / MIB for s in batch)
    wand = pick("wand", "search_wand")
    m["wand.query_ms"] = _med(s.wall * 1e3 for s in wand)
    m["wand.pyworker_cpu_ms"] = _mean(cpu(s, "pyworker") * 1e3 for s in wand)

    m["serving.load_s"] = _med(s.wall for s in pick("serving", "load", all_spans))
    hits = samples.get("hits", [])
    lat = samples.get("serve_ms", [])
    misses = [x for x, h in zip(lat, hits) if not h]
    m["serving.hit_ratio"] = sum(hits) / len(hits) if hits else 0.0
    m["serving.miss_p50_ms"] = pctl(misses, 50)
    m["serving.miss_p99_ms"] = pctl(misses, 99)
    m["serving.first_query_after_refresh_ms"] = _med(samples.get("first_query_ms", []))
    m["serving.rss_growth_mib"] = float(samples.get("rss_growth_mib", 0.0))

    mg = pick("merge", "merge_indexes")
    m["merge.call_s"] = _med(s.wall for s in mg)
    m["merge.task_s"] = _med(g(s).task_s for s in mg)
    m["merge.shuffle_write_mib"] = _med(g(s).shuffle_write_b / MIB for s in mg)
    m["merge.delete_s"] = _med(s.wall for s in pick("merge", "delete_docs"))
    pub = pick("publish", "publish_index")
    m["publish.save_s"] = _med(s.wall for s in pub)
    m["publish.bytes_written_mib"] = _med(g(s).output_b / MIB for s in pub)
    m["publish.prune_s"] = _med(s.wall for s in pick("publish", "prune_generations"))

    by_layer = {layer: 0.0 for layer in LAYERS}
    unattributed = 0.0
    for s in spans:
        if s.layer == "unattributed":
            unattributed += selfs[s.id]
        else:
            by_layer[s.layer] += selfs[s.id]
    for layer, v in by_layer.items():
        m[f"{layer}.self_s"] = v
    m["trace.wall_s"] = wall
    m["trace.unattributed_s"] = unattributed
    m["trace.coverage"] = (sum(by_layer.values()) + unattributed) / wall
    # driver time inside the tracer (job-group tags, /proc reads) plus the
    # event-log parse; the JVM's own event-log writing is not included
    m["trace.overhead_s"] = traced["bookkeeping_s"] + parse_s
    return m
