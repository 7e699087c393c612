"""Per-layer metrics of a traced run, from its spans and event log.

Pipeline: a refresh's wall splits exactly into the time its Spark jobs
cover inside each node span (that node's self time, summed per layer),
the tracer's own table-size probes, and the rest,
`streaming.runner.overhead_s` (planning, schema sidecars, the runner's
renames). Registry: each query span gets the stages
submitted inside it. Every value is a mean over the traced rounds.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import MB, EventLog, covered, self_time


def _mean_rounds(rounds: list[dict]) -> dict[str, float]:
    keys = {k for r in rounds for k in r}
    return {k: statistics.fmean(r.get(k, 0.0) for r in rounds) for k in keys}


def pipeline_round(tracer, log: EventLog, refresh, raw_bytes: int) -> tuple[dict, list[dict]]:
    """Layer metrics and per-node rows of one traced refresh."""
    lo, hi = refresh.start, refresh.end
    jobs = log.job_intervals(lo, hi)
    m: dict[str, float] = defaultdict(float)
    grown: dict[str, float] = defaultdict(float)  # table growth of the stateful nodes' layers, MB
    nodes, probes = [], []
    for n in (c for c in tracer.children(refresh) if c.kind == "node"):
        layer = n.attrs["layer"]
        st = log.stage_totals(n.start, n.end)
        row = {
            "node": n.name, "layer": layer, "span_s": n.end - n.start,
            "self_s": covered(jobs, n.start, n.end),
            "jobs": sum(n.start <= a < n.end for a, _ in jobs), **st,
        }
        applies = [c for c in tracer.children(n) if c.kind == "apply"]
        probes += [(c.start, c.end) for c in tracer.children(n) if c.kind == "probe"]
        row["net_new_mb"] = sum(a.attrs.get("net_new_b", 0) for a in applies) / MB
        nodes.append(row)
        m[f"{layer}.wall_s"] += row["self_s"]
        for k in ("task_s", "jobs", "shuffle_mb", "input_mb", "output_mb"):
            m[f"{layer}.{k}"] += row[k]
        if applies:
            grown[layer] += row["net_new_mb"]
    for layer, g in grown.items():
        if g > 0:
            m[f"{layer}.write_amp"] = m[f"{layer}.output_mb"] / g

    m["streaming.runner.overhead_s"] = self_time(lo, hi, jobs + probes)
    m["trace_probe_s"] = covered(probes, lo, hi)
    m["streaming.runner.jobs"] = len(jobs)
    json_b = sum(b for t, b in log.json_reads if lo <= t < hi)
    m["sources.json_input_mb"] = json_b / MB
    m["sources.reparse_ratio"] = json_b / raw_bytes
    return dict(m), nodes


def layer_metrics(workload: str, tracer, event_log_dir: str, record: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run; adds node rows and the refresh
    decomposition to `record`."""
    log = EventLog.read(event_log_dir)
    rounds = []
    if workload == "batch_refresh":
        for r in (s for s in tracer.spans if s.kind == "refresh"):
            m, nodes = pipeline_round(tracer, log, r, record["raw_bytes"])
            node_self = sum(n["self_s"] for n in nodes)
            probe_s = m.pop("trace_probe_s")
            overhead = m["streaming.runner.overhead_s"]
            record.setdefault("refreshes", []).append({
                "wall_s": r.end - r.start,
                "node_self_s": node_self,
                "runner_overhead_s": overhead,
                "trace_probe_s": probe_s,
                "residual_s": (r.end - r.start) - node_self - overhead - probe_s,
                "nodes": nodes,
            })
            rounds.append(m)
    else:
        by_pass: dict[str, list] = {}
        for q in (s for s in tracer.spans if s.kind == "query"):
            by_pass.setdefault(q.name, []).append(q)
        for i in range(max(map(len, by_pass.values()), default=0)):
            m = {}
            for name, spans in by_pass.items():
                if i < len(spans):
                    q = spans[i]
                    st = log.stage_totals(q.start, q.end)
                    m[f"{name}.s"] = q.end - q.start
                    for k in ("task_s", "stages", "shuffle_mb", "input_mb"):
                        m[f"{name}.{k}"] = st[k]
            rounds.append(m)
    return _mean_rounds(rounds) if rounds else {}
