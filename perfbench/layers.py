"""Which engine functions the traced run wraps, and the metrics it reports.

Layers are the engine's modules. The spans opened by the workloads name
the operator layers (``sources``, ``louvain``, ``pagerank``, ...); the
wrappers installed here add nested spans around the calls the operators
make into other layers, patched where the caller looks them up.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import os
import re
import statistics
from collections import defaultdict

import numpy as np

# top-level operator spans (opened by workloads.py)
TOP = ["sources", "louvain", "pagerank", "components", "labelprop", "triangles", "dedup", "similarity"]
# nested spans with the full generic set
NESTED = ["louvain_local", "checkpoint", "boundary.to_pandas", "boundary.create_df",
          "sources.assign_contiguous_ids"]
# nested spans around functions that only build a plan: time and calls
LIGHT = ["louvain.arrow_round_moves"]

MIN_COVERAGE = 0.95


def instrument(tracer, spark) -> None:
    # import_module: the package re-exports functions that shadow the
    # submodule names (``operators.louvain`` is also the function)
    lv = importlib.import_module("louvain_fast_move_cuda_spark.operators.louvain")
    edges = importlib.import_module("louvain_fast_move_cuda_spark.sources.edges")
    from louvain_fast_move_cuda_spark.plans.checkpoint import (
        SuperstepCheckpointer, VertexIterationCheckpointer,
    )

    tracer.wrap(lv, "local_louvain", "louvain_local", rows=lambda a, out: len(a[0]))
    tracer.wrap(lv, "arrow_round_moves", "louvain.arrow_round_moves")
    tracer.wrap(lv, "assign_contiguous_ids", "sources.assign_contiguous_ids")
    tracer.wrap(edges, "assign_contiguous_ids", "sources.assign_contiguous_ids")
    for cls in (SuperstepCheckpointer, VertexIterationCheckpointer):
        tracer.wrap(cls, "save", "checkpoint")
        tracer.wrap(cls, "load_latest", "checkpoint")
    tracer.wrap(type(spark.range(1)), "toPandas", "boundary.to_pandas", rows=lambda a, out: len(out))
    tracer.wrap(type(spark), "createDataFrame", "boundary.create_df",
                rows=lambda a, out: len(a[1]) if hasattr(a[1], "__len__") else 0)


def _m(value, unit):
    return {"value": value, "unit": unit}


def _median(values):
    return statistics.median(values) if values else None


def end_to_end(passes, setup_s) -> dict:
    """Set-up time and the median pass time of one untraced run."""
    return {
        "setup_s": _m(setup_s, "s"),
        "run_s": _m(_median([p.t["run"] for p in passes]), "s"),
    }


def _du(path) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _loop_spans(sp):
    """``sp`` and its descendants, leaving out ``checkpoint`` subtrees: the
    durable writes inherit the round's job description but are not the loop."""
    if sp.name == "checkpoint":
        return
    yield sp
    for c in sp.children:
        yield from _loop_spans(c)


def _phase_groups(spans, pattern):
    """Wall time of each job-description group matching ``pattern`` within
    each span tree, checkpoint writes left out: first job submitted to last
    job completed."""
    groups = defaultdict(list)
    for i, root in enumerate(spans):
        for sp in _loop_spans(root):
            for j in sp.jobs:
                if re.fullmatch(pattern, j["desc"]):
                    groups[(i, j["desc"])].append(j)
    return {
        k: (max(j["completed"] for j in js) - min(j["submitted"] for j in js), len(js))
        for k, js in groups.items()
    }


def coverage(root, reported) -> float:
    """Share of a span's wall time that the self times of it and its
    descendants cover, counting only spans whose ``.self_s`` is reported:
    time under a span of any other name is lost from the metrics."""
    covered = sum(sp.self_s for sp in root.walk() if sp.name in reported)
    return covered / root.wall if root.wall > 0 else 1.0


def source_hash(root) -> str:
    """SHA-256 over the engine package's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for pkg in ("louvain_fast_move_cuda_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, pkg))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def per_layer(tracer, p, warm, info, setup_s, rss_mb, bench_dir, args) -> dict:
    by_name = defaultdict(list)
    for sp in tracer.spans():
        by_name[sp.name].append(sp)
    m = {}
    for name in TOP + NESTED + LIGHT:
        sps = by_name.get(name, [])
        m[f"{name}.self_s"] = _m(sum(s.self_s for s in sps), "s")
        if name in TOP:
            m[f"{name}.wall_s"] = _m(sum(s.wall for s in sps), "s")
        else:
            m[f"{name}.calls"] = _m(len(sps), "count")
        if name in LIGHT:
            continue
        jobs = [j for s in sps for j in s.jobs]
        m[f"{name}.jobs"] = _m(len(jobs), "count")
        m[f"{name}.executor_run_s"] = _m(sum(j["executor_run_s"] for j in jobs), "s")
        m[f"{name}.driver_s"] = _m(sum(s.driver_s for s in sps), "s")
        m[f"{name}.shuffle_write_bytes"] = _m(sum(j["shuffle_write_bytes"] for j in jobs), "bytes")
        if name in TOP:
            tree = [j for s in sps for d in s.walk() for j in d.jobs]
            m[f"{name}.tasks"] = _m(sum(j["tasks"] for j in tree), "count")
            m[f"{name}.spill_bytes"] = _m(sum(j["spill_bytes"] for j in tree), "bytes")

    # louvain: engine metrics, then the phases read from job descriptions
    first = p.louvain[0] if p.louvain else None
    m["louvain.levels"] = _m(p.louvain[-1].levels if p.louvain else 0, "count")
    m["louvain.rounds"] = _m(p.rounds(), "count")
    m["louvain.spark_rounds"] = _m(p.rounds("spark"), "count")
    m["louvain.local_rounds"] = _m(p.rounds("local"), "count")
    lv_spans = by_name.get("louvain", [])
    rounds = _phase_groups(lv_spans, r"louvain L\d+ R\d+")
    secs = [s for s, _ in rounds.values()]
    m["louvain.spark_round_s.p50"] = _m(float(np.percentile(secs, 50)) if secs else 0.0, "s")
    m["louvain.spark_round_s.p90"] = _m(float(np.percentile(secs, 90)) if secs else 0.0, "s")
    m["louvain.jobs_per_spark_round"] = _m(
        sum(n for _, n in rounds.values()) / len(rounds) if rounds else 0.0, "count")
    aggs = _phase_groups(lv_spans, r"louvain agg L\d+")
    m["louvain.agg_s"] = _m(sum(s for s, _ in aggs.values()), "s")
    m["louvain.first_opt_phase_s"] = _m(
        sum(r["sec"] for r in first.metrics if r.get("round", -1) >= 0 and r["level"] == 0)
        if first else 0.0, "s")
    m["louvain.first_agg_phase_s"] = _m(aggs.get((0, "louvain agg L0"), (0.0, 0))[0], "s")
    lv_s = sum(s.wall for s in lv_spans)
    m["louvain.edge_iters_per_s"] = _m(
        info["directed_edges"] * p.rounds() / lv_s if lv_s > 0 else 0.0, "edges/s")

    local = by_name.get("louvain_local", [])
    local_edges = sum(s.attrs.get("rows", 0) for s in local)
    local_s = sum(s.self_s for s in local)
    m["louvain_local.edges"] = _m(local_edges, "count")
    m["louvain_local.edges_per_s_per_iter"] = _m(
        local_edges * p.rounds("local") / local_s if local_s > 0 else 0.0, "edges/s")
    for name in ("boundary.to_pandas", "boundary.create_df"):
        m[f"{name}.rows"] = _m(sum(s.attrs.get("rows", 0) for s in by_name.get(name, [])), "count")
    # the JVM's first call (the warm-up pass's, paying the Python worker
    # spawn and first compilation) against the same call in the traced pass
    m["similarity.ivf_topk.first_s"] = _m(warm.t.get("ann", 0.0), "s")
    m["similarity.ivf_topk.repeat_s"] = _m(p.t.get("ann", 0.0), "s")
    root = p.out.get("checkpoint_root")
    m["checkpoint.bytes_written"] = _m(_du(root) if root else 0, "bytes")
    m["checkpoint.resume_s"] = _m(p.t.get("resume", 0.0), "s")
    m["storage.cached_bytes"] = _m(max((r.attrs.get("cached_bytes", 0) for r in tracer.roots), default=0), "bytes")
    m["session.cold_start_s"] = _m(setup_s, "s")
    m["session.driver_peak_rss_mb"] = _m(rss_mb, "MB")

    # the tracer's own accounting: every second of the pass must land in a
    # reported span, per operator and over the whole pass; the tracer's own
    # status-store reads, which follow each operator span, are not the
    # program's time and are reported apart
    reported = {k[: -len(".self_s")] for k in m if k.endswith(".self_s")}
    cov = min((coverage(r, reported) for r in tracer.roots), default=1.0)
    p.expect("trace", cov >= MIN_COVERAGE, f"reported self times cover only {cov:.3f} of an operator span")
    run_cov = sum(m[f"{n}.self_s"]["value"] for n in reported) / (p.t["run"] - tracer.store_read_s)
    p.expect("trace", run_cov >= MIN_COVERAGE, f"reported self times cover only {run_cov:.3f} of the pass")
    m["trace.run_s"] = _m(p.t["run"], "s")
    m["trace.store_read_s"] = _m(tracer.store_read_s, "s")
    m["trace.min_coverage"] = _m(cov, "ratio")
    m["trace.run_coverage"] = _m(run_cov, "ratio")
    mismatches, shuffle_diff = compare_structure(
        tracer.structure(), structure_path(bench_dir, args), p.log)
    m["trace.structure_mismatches"] = _m(mismatches, "count")
    m["trace.shuffle_bytes_max_diff"] = _m(shuffle_diff, "ratio")
    return m


def structure_path(bench_dir, args) -> str:
    """Per workload, seed and source hash: runs of other code never compare."""
    key = f"{args.workload}-seed{args.seed}-{source_hash(os.path.dirname(bench_dir))}"
    return os.path.join(bench_dir, "structure", f"{key}.json")


def compare_structure(now: dict, path: str, log):
    """Compare this run's structural counts with the first traced run of the
    same code, workload and seed in this checkout. Returns the number of
    job and stage counts that differ, and the largest relative difference
    in a span's shuffle bytes, which vary with block compression."""
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(now, fh, indent=1)
        return 0, 0.0
    with open(path) as fh:
        before = json.load(fh)
    bad, diff = 0, 0.0
    for span in sorted(set(before) | set(now)):
        a, b = before.get(span, {}), now.get(span, {})
        for key in ("jobs", "stages"):
            if a.get(key) != b.get(key):
                bad += 1
                log(f"structure differs from the first traced run: {span} {key} {a.get(key)} -> {b.get(key)}")
        sa, sb = a.get("shuffle_write_bytes", 0), b.get("shuffle_write_bytes", 0)
        if sa != sb:
            diff = max(diff, abs(sb - sa) / max(sa, sb))
    return bad, diff


def spans_path(bench_dir, args) -> str:
    d = os.path.join(bench_dir, "spans")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{args.workload}-seed{args.seed}.jsonl")
