"""Per-layer metrics of a traced run, computed from its spans.

Every metric is printed for every workload; a layer a workload never
calls reads 0 (no calls, no time).  "Per op" and "per pass" divide by
the traced unit ops; "per query" divides by the SPARQL texts parsed.
"""

from __future__ import annotations

import statistics

PROGRAM_SPANS = {
    "graph.bfs": "graph.bfs_ms", "graph.sssp": "graph.sssp_ms",
    "graph.cc": "graph.cc_ms", "graph.pagerank": "graph.pagerank_ms",
    "graph.fuzzy_sssp": "graph.fuzzy_sssp_ms", "paths.closure": "paths.closure_ms",
    "rdfs.closure": "rdfs.closure_ms",
}

UNITS = {
    "setup.jvm_s": "s", "setup.load_s": "s", "setup.derive_s": "s",
    "setup.warm_s": "s", "store.ingest_s": "s",
    "parse.ms_per_query": "ms",
    "compile.ms_per_query": "ms", "compile.py4j_per_query": "count",
    "compile.jobs_per_query": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms_per_query": "ms", "exec.jobs_per_op": "count",
    "exec.stages_per_op": "count", "exec.tasks_per_op": "count",
    "exec.shuffle_read_mb_per_op": "MB", "exec.shuffle_write_mb_per_op": "MB",
    "py4j.calls_per_op": "count",
    **{m: "ms" for m in PROGRAM_SPANS.values()},
    "graph.jobs_per_pass": "count", "graph.stages_per_pass": "count",
    "graph.tasks_per_pass": "count", "graph.py4j_per_pass": "count",
    "lifecycle.checkpoints_per_pass": "count", "lifecycle.held_mb": "MB",
    "update.commit_ms": "ms", "update.read_ms": "ms", "update.compactions": "count",
    "update.compaction_ms": "ms", "update.shuffle_write_mb_per_commit": "MB",
    "host.calib_ms": "ms", "host.steal_pct": "%", "host.cpu_ms_per_op": "ms",
    "trace.overhead_pct": "%",
}


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def per_layer(wl, tracer, records: list, setup: dict, diag: dict, ingest_s: float) -> dict:
    spans = tracer.spans
    by_id = {s.sid: s for s in spans}

    def named(name):
        return [s for s in spans if s.name == name]

    def outermost(name):
        return [s for s in named(name)
                if s.parent is None or by_id[s.parent].name != name]

    def under(names) -> list:
        """Spans that are, or sit below, a span with one of ``names``."""
        out = []
        for s in spans:
            a = s
            while a is not None and a.name not in names:
                a = by_id.get(a.parent)
            if a is not None:
                out.append(s)
        return out

    ops = named("op")
    n_ops = len(ops)
    n_queries = len(named("parse"))
    mb = 1e-6
    commits = named("update.commit")
    programs = under(set(PROGRAM_SPANS))
    phases = wl.ctx.catalyst
    traced = [r["s"] for r in records if r["traced"]]
    untraced = [r["s"] for r in records if not r["traced"]]

    m = dict(setup)
    m["store.ingest_s"] = ingest_s
    m["parse.ms_per_query"] = _per(sum(s.ms for s in outermost("parse")), n_queries)
    compiles = outermost("compile")
    m["compile.ms_per_query"] = _per(sum(s.ms for s in compiles), n_queries)
    m["compile.py4j_per_query"] = _per(sum(s.py4j for s in compiles), n_queries)
    m["compile.jobs_per_query"] = _per(sum(s.jobs for s in named("compile")), n_queries)
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = _mean(p.get(phase, 0.0) for p in phases)
    m["exec.ms_per_query"] = _mean(s.ms for s in named("exec"))
    m["exec.jobs_per_op"] = _per(sum(s.jobs for s in spans), n_ops)
    m["exec.stages_per_op"] = _per(sum(s.stages for s in spans), n_ops)
    m["exec.tasks_per_op"] = _per(sum(s.tasks for s in spans), n_ops)
    m["exec.shuffle_read_mb_per_op"] = _per(sum(s.shuffle_read for s in spans) * mb, n_ops)
    m["exec.shuffle_write_mb_per_op"] = _per(sum(s.shuffle_write for s in spans) * mb, n_ops)
    m["py4j.calls_per_op"] = _per(sum(s.py4j for s in ops), n_ops)
    for span, metric in PROGRAM_SPANS.items():
        m[metric] = _mean(s.ms for s in named(span))
    m["graph.jobs_per_pass"] = _per(sum(s.jobs for s in programs), n_ops)
    m["graph.stages_per_pass"] = _per(sum(s.stages for s in programs), n_ops)
    m["graph.tasks_per_pass"] = _per(sum(s.tasks for s in programs), n_ops)
    m["graph.py4j_per_pass"] = _per(
        sum(s.py4j for s in programs if s.parent is None or by_id[s.parent].name == "op"),
        n_ops)
    m["lifecycle.checkpoints_per_pass"] = _per(sum(s.checkpoints for s in ops), n_ops)
    m["lifecycle.held_mb"] = diag["lifecycle.held_mb"]
    m["update.commit_ms"] = _mean(s.ms for s in commits)
    m["update.read_ms"] = _mean(s.ms for s in named("update.read"))
    compactions = [s for s in under({"update.commit"}) if s.name == "compaction"]
    m["update.compactions"] = float(len(compactions))
    m["update.compaction_ms"] = _mean(s.ms for s in compactions)
    m["update.shuffle_write_mb_per_commit"] = _per(
        sum(s.shuffle_write for s in under({"update.commit"})) * mb, len(commits))
    for k in ("host.calib_ms", "host.steal_pct", "host.cpu_ms_per_op"):
        m[k] = diag[k]
    m["trace.overhead_pct"] = (
        100.0 * (_mean(traced) / _mean(untraced) - 1.0) if traced and untraced else 0.0)
    return {k: m[k] for k in UNITS}
