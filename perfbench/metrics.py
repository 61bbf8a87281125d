"""Metrics of one benchmark run, computed from the harness's JSON record.

The record (written by perfbench.Main) holds the set-up time, every pass
(traced or not, its wall time, whether its results matched the oracle and
the shuffle bytes its tasks wrote) and, for a traced run, the spans the
harness opened around its calls into the library plus the Spark jobs,
stages, task metrics and Catalyst phase times those calls caused.

Span and job times are on one epoch clock: spans in microseconds, jobs in
milliseconds. Everything here is plain arithmetic over those lists, so it is
unit-tested on synthetic records (test_metrics.py).
"""
import statistics

END_TO_END = {
    "pass_s": "s",
    "setup_s": "s",
    "shuffle_write_mb": "MB",
    "ok_frac": "ratio",
}

PER_LAYER = {
    "sketch.cms_s": "s",
    "skew.call_s": "s",
    "skew.call_self_s": "s",
    "skew.call_jobs": "count",
    "skew.action_s": "s",
    "skew.overhead_s": "s",
    "skew.replication_ratio": "ratio",
    "skew.join_task_max_over_p50": "ratio",
    "join.plain_s": "s",
    "join.plain_task_max_over_p50": "ratio",
    "lsh.pairs_s": "s",
    "lsh.pairs_self_s": "s",
    "lsh.pairs": "count",
    "lsh.jobs": "count",
    "lsh.stages": "count",
    "cc.s": "s",
    "cc.self_s": "s",
    "cc.jobs": "count",
    "driver.catalyst_s": "s",
    "driver.gap_s": "s",
    "driver.jobs": "count",
    "driver.stages": "count",
    "driver.tasks": "count",
    "exec.task_s": "s",
    "exec.busy_frac": "ratio",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "proc.cpu_s": "s",
    "trace.pass_s": "s",
    "trace.passes": "count",
    "trace.overhead_s": "s",
    "trace.residual_s": "s",
}

MB = 1e6
# skewJoin operations whose join inputs are exchanged row for row; left_anti
# exchanges the right side's distinct key set instead, so it has no
# row-replication ratio.
ROW_JOINS = ("inner", "full_outer")


def median(xs):
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, child_intervals):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(child_intervals, start, end)


def max_over_p50(tasks_ms):
    """Straggler ratio of one stage: slowest task over the median task."""
    return max(tasks_ms) / max(median(tasks_ms), 1.0)


def replication_ratio(stages, input_rows):
    """Rows the join-input stages wrote to the shuffle, per input row.

    Join-input stages are those that read no shuffle: they scan the inputs
    and write the (salted, exploded) rows to the join's exchange. Stages
    downstream of the join (the outer-resolution window, aggregates) read a
    shuffle and are not counted."""
    written = sum(s["sw_records"] for s in stages if s["sr_records"] == 0)
    return written / input_rows


class Trace:
    """Index over a traced run's spans, jobs and stages (times in seconds)."""

    def __init__(self, trace):
        self.spans = {s["id"]: dict(s, start=s["start_us"] / 1e6, end=s["end_us"] / 1e6)
                      for s in trace["spans"]}
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s)
        for kids in self.children.values():
            kids.sort(key=lambda s: s["start"])
        self.jobs = {}
        for j in trace["jobs"]:
            end = j["end_ms"] if j["end_ms"] >= j["start_ms"] else j["start_ms"]
            self.jobs.setdefault(j["span"], []).append((j["start_ms"] / 1e3, end / 1e3))
        self.stages = {}
        for s in trace["stages"]:
            self.stages.setdefault(s["span"], []).append(s)
        self.catalyst = {}
        for c in trace["catalyst"]:
            self.catalyst[c["root"]] = self.catalyst.get(c["root"], 0.0) + c["ms"] / 1e3

    def roots(self, name):
        return [s for s in self.children.get(0, []) if s["name"] == name]

    def subtree(self, span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s["id"])
            todo.extend(self.children.get(s["id"], []))
        return out

    def jobs_under(self, span):
        return [iv for i in self.subtree(span) for iv in self.jobs.get(i, [])]

    def stages_under(self, span):
        return [st for i in self.subtree(span) for st in self.stages.get(i, [])]

    def layer(self, root, name):
        return [s for s in self.children.get(root["id"], []) if s["name"] == name]


def dur(span):
    return span["end"] - span["start"]


def pass_layers(t, root, cores, input_rows):
    """Per-layer figures of one traced pass."""
    wall = dur(root)
    stages = t.stages_under(root)
    d = {
        "trace.pass_s": wall,
        "driver.gap_s": wall - covered(t.jobs_under(root), root["start"], root["end"]),
        "driver.catalyst_s": t.catalyst.get(root["id"], 0.0),
        "driver.jobs": len(t.jobs_under(root)),
        "driver.stages": len(stages),
        "driver.tasks": sum(len(s["tasks_ms"]) for s in stages),
        "exec.task_s": sum(s["run_ms"] for s in stages) / 1e3,
        "exec.shuffle_read_mb": sum(s["sr_bytes"] for s in stages) / MB,
        "exec.spill_mb": sum(s["spill_disk"] for s in stages) / MB,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "trace.residual_s": wall - sum(dur(c) for c in t.children.get(root["id"], [])),
    }
    d["exec.busy_frac"] = d["exec.task_s"] / (wall * cores)

    def timed(name, seconds, self_seconds, jobs):
        spans = t.layer(root, name)
        d[seconds] = sum(dur(s) for s in spans)
        d[self_seconds] = sum(self_time(s["start"], s["end"], t.jobs_under(s)) for s in spans)
        d[jobs] = sum(len(t.jobs_under(s)) for s in spans)
        return spans

    timed("skew.call", "skew.call_s", "skew.call_self_s", "skew.call_jobs")
    actions = t.layer(root, "skew.action")
    d["skew.action_s"] = sum(dur(s) for s in actions)
    rows = [s for s in actions if s["attrs"].get("op") in ROW_JOINS]
    d["skew.replication_ratio"] = (
        replication_ratio([st for s in rows for st in t.stages_under(s)],
                          input_rows * len(rows)) if rows else 0.0)
    d["skew.join_task_max_over_p50"] = largest_read_straggle(t, actions)

    lsh = timed("lsh.pairs", "lsh.pairs_s", "lsh.pairs_self_s", "lsh.jobs")
    d["lsh.stages"] = sum(len(t.stages_under(s)) for s in lsh)
    d["lsh.pairs"] = sum(s["attrs"].get("pairs", 0) for s in lsh)
    timed("cc", "cc.s", "cc.self_s", "cc.jobs")
    return d


def largest_read_straggle(t, spans):
    """Max over spans of the straggler ratio of the span's stage that read the
    most shuffle bytes (the join stage); 0 when no span read a shuffle."""
    worst = 0.0
    for s in spans:
        reads = [st for st in t.stages_under(s) if st["sr_bytes"] > 0 and st["tasks_ms"]]
        if reads:
            worst = max(worst, max_over_p50(max(reads, key=lambda st: st["sr_bytes"])["tasks_ms"]))
    return worst


def layer_metrics(record, untraced_pass_s):
    t = Trace(record["trace"])
    cores = record["cores"]
    inputs = record["inputs"]
    input_rows = inputs.get("left_rows", 0) + inputs.get("right_rows", 0)
    per_pass = [pass_layers(t, r, cores, input_rows) for r in t.roots("pass")]
    m = {k: median(d[k] for d in per_pass) for k in per_pass[0]}
    m["trace.passes"] = len(per_pass)
    m["proc.cpu_s"] = median(p["cpu_s"] for p in record["passes"] if p["traced"] and p["ok"])
    m["trace.overhead_s"] = m["trace.pass_s"] - untraced_pass_s

    plain = [sum(dur(s) for s in t.layer(r, "join.plain")) for r in t.roots("probe.plain")]
    m["join.plain_s"] = median(plain) if plain else 0.0
    m["join.plain_task_max_over_p50"] = median(
        largest_read_straggle(t, t.layer(r, "join.plain")) for r in t.roots("probe.plain")
    ) if plain else 0.0
    cms = [sum(dur(s) for s in t.layer(r, "sketch.cms")) for r in t.roots("probe.cms")]
    m["sketch.cms_s"] = median(cms) if cms else 0.0
    m["skew.overhead_s"] = (median(d["skew.call_s"] + d["skew.action_s"] for d in per_pass)
                            - m["join.plain_s"]) if plain else 0.0
    return m


def report(record):
    """{"correct", "attempted", "failed", "metrics"} for every metric the
    record supports; run.py keeps the end-to-end or the per-layer ones."""
    passes = record["passes"]
    probes = record["probes"]
    attempted = len(passes) + len(probes)
    failed = sum(not p["ok"] for p in passes) + sum(not ok for ok in probes)
    timed = [p for p in passes if p["ok"] and not p["traced"]]
    m = {"setup_s": record["setup_s"] + record["warm_up_s"],
         "ok_frac": (attempted - failed) / attempted}
    if timed:
        m["pass_s"] = median(p["wall_s"] for p in timed)
        m["shuffle_write_mb"] = median(p["shuffle_write_bytes"] for p in timed) / MB
        if record["traced"] and any(p["traced"] and p["ok"] for p in passes):
            m.update(layer_metrics(record, m["pass_s"]))
    units = dict(END_TO_END, **PER_LAYER)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in m.items()}}


def guards(record, metrics):
    """Workload properties a traced run must show, so that a change to the
    generator cannot quietly turn one workload into another."""
    def v(name):
        return metrics[name]["value"] if name in metrics else None
    w, errors = record["workload"], []
    if w == "skew_hot":
        if not (v("join.plain_task_max_over_p50") or 0) >= 3:
            errors.append(f"plain join does not straggle: join.plain_task_max_over_p50 = "
                          f"{v('join.plain_task_max_over_p50')} < 3")
        if not (v("skew.replication_ratio") or 0) >= 1.02:
            errors.append(f"skewJoin hardly replicates: skew.replication_ratio = "
                          f"{v('skew.replication_ratio')} < 1.02")
    elif w == "skew_inert":
        if v("skew.replication_ratio") != 1:
            errors.append(f"skewJoin is not inert: skew.replication_ratio = "
                          f"{v('skew.replication_ratio')} != 1")
    elif w == "dedup_lsh":
        inputs = record["inputs"]
        if not (inputs.get("clusters", 0) > 0 and inputs.get("max_cluster", 0) >= 3
                and (v("lsh.pairs") or 0) > 0):
            errors.append(f"planted clusters are trivial: {inputs}, lsh.pairs = {v('lsh.pairs')}")
    return errors
