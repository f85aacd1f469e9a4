"""Per-layer metrics from a traced run's spans (`spans.json`).

Every Spark job is a child of the benchmark span that was open when it
was submitted. A job belongs to an engine module: the first `graft.`
frame of its stage call site that is not the benchmark's own; failing
that, the same in the call site of the SQL execution the job belongs to
(adaptive query stages are submitted from Spark's own threads); failing
that (the benchmark consuming an entry point's result), the module of
the entry point the enclosing span called.
"""
import re
import statistics

# Engine modules reported by name; every other module is summed into
# `other`. These are the modules the jobs of the registered workloads
# (build, search) land in; `modules_seen` logs the unfolded split of
# every workload.
MODULES = ["operators.Reconcile", "operators.Graph", "operators.JoinPlanner",
           "BuildChainQueries", "plans.LuxCompiler"]

PLAN_SPANS = [("plans.parse", "plans.parse_ms"), ("plans.compile", "plans.compile_ms"),
              ("plans.optimize", "plans.optimize_ms"), ("search.exec", "search.exec_ms")]

_FRAME = re.compile(r"^(?:at\s+)?([\w$.]+)\.[\w$<>]+\(")


def metric_names():
    names = ["spark.jobs", "spark.tasks", "spark.busy_s", "spark.driver_gap_s",
             "spark.task_s", "spark.empty_task_frac", "catalyst.actions",
             "catalyst.plan_s", "shuffle.write_mb", "shuffle.read_mb", "spill_mb",
             "exec.peak_mem_mb", "io.read_mb"]
    for m in MODULES + ["other"]:
        names += [f"{m}.jobs", f"{m}.busy_s"]
    return names + [n for _, n in PLAN_SPANS] + ["trace.overhead_frac"]


def union_s(intervals):
    """Total length (s) of the union of [start_ms, end_ms] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def module_of(call_site, fallback):
    """Engine module named by a long-form call site, else `fallback`."""
    for line in call_site.splitlines():
        m = _FRAME.match(line.strip())
        if not m or not m.group(1).startswith("graft."):
            continue
        mod = m.group(1)[len("graft."):].split("$")[0]
        if mod == "perfbench" or mod.startswith("perfbench."):
            continue
        return mod
    return fallback


def job_module(job, spans):
    """Module of a job: its own call site, else its SQL execution's, else
    the entry point of the innermost enclosing span that names one."""
    fallback, s = "other", spans.get(job["span"])
    while s is not None:
        if s["module"]:
            fallback = s["module"]
            break
        s = spans.get(s["parent"])
    return module_of(job["call_site"], module_of(job.get("exec_call_site", ""), fallback))


def per_op(trace):
    """{op index: {metric: value}} for every traced op."""
    spans = {s["id"]: s for s in trace["spans"]}
    ops = {s["op"]: s for s in trace["spans"] if s["parent"] == -1 and s["op"] >= 0}
    out = {}
    for op, root in ops.items():
        lo, hi = root["start_ms"], root["end_ms"]
        jobs = [j for j in trace["jobs"]
                if j["span"] in spans and spans[j["span"]]["op"] == op]
        iv = [(max(lo, j["start_ms"]), min(hi, j["end_ms"] if j["end_ms"] >= 0 else hi))
              for j in jobs]
        busy = union_s(iv)
        tasks = sum(j["tasks"] for j in jobs)
        acts = [a for a in trace["actions"] if lo <= a["start_ms"] <= hi]
        mb = lambda k: sum(j[k] for j in jobs) / 1048576.0
        m = {
            "spark.jobs": len(jobs), "spark.tasks": tasks, "spark.busy_s": busy,
            "spark.driver_gap_s": max(0.0, (hi - lo) / 1e3 - busy),
            "spark.task_s": sum(j["task_ms"] for j in jobs) / 1e3,
            "spark.empty_task_frac": (sum(j["empty_tasks"] for j in jobs) / tasks
                                      if tasks else 0.0),
            "catalyst.actions": len(acts),
            "catalyst.plan_s": sum(a["plan_ms"] for a in acts) / 1e3,
            "shuffle.write_mb": mb("shuffle_write_b"), "shuffle.read_mb": mb("shuffle_read_b"),
            "spill_mb": mb("spill_b"),
            "exec.peak_mem_mb": max([j["peak_mem_b"] for j in jobs] or [0]) / 1048576.0,
            "io.read_mb": mb("io_read_b"),
        }
        by_mod = {}
        for j, ivl in zip(jobs, iv):
            mod = job_module(j, spans)
            by_mod.setdefault(mod if mod in MODULES else "other", []).append(ivl)
        for mod in MODULES + ["other"]:
            m[f"{mod}.jobs"] = len(by_mod.get(mod, []))
            m[f"{mod}.busy_s"] = union_s(by_mod.get(mod, []))
        for name, metric in PLAN_SPANS:
            m[metric] = sum(s["end_ms"] - s["start_ms"] for s in trace["spans"]
                            if s["op"] == op and s["name"] == name)
        out[op] = m
    return out


def summarize(trace, plain_walls, traced_walls):
    """Median of every per-op metric over the traced ops, plus the
    tracing overhead (traced vs untraced median op latency)."""
    ops = per_op(trace)
    res = {}
    for name in metric_names()[:-1]:
        vals = [m[name] for m in ops.values()]
        res[name] = statistics.median(vals) if vals else 0.0
    res["trace.overhead_frac"] = (statistics.median(traced_walls) /
                                  statistics.median(plain_walls) - 1.0)
    return res


def modules_seen(trace):
    """{module: jobs} over all traced ops, before folding into `other`."""
    spans = {s["id"]: s for s in trace["spans"]}
    seen = {}
    for j in trace["jobs"]:
        mod = job_module(j, spans)
        seen[mod] = seen.get(mod, 0) + 1
    return seen
