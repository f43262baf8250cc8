"""Per-layer metrics of a traced run.

Spans: an operation (its job group), its construct / sink / release parts
(ops workloads), and the Spark jobs the operation ran, each job's tasks
joined through its stages. Query executions (Catalyst phases) are matched
to the operation whose time span holds their start. A span's self time is
its duration minus the part of it that its child spans cover.

Per-operation numbers are means over the traced operations the end-to-end
latencies are taken from: the events (hub-events) or the warm query
attempts (ops-mix). Traced runs trace every other event, or every other
warm attempt of each query; `trace.overhead_pct` compares the two halves.
"""
import statistics

PACKS = ["Relational", "RelationalExt", "Events", "Dedup", "Similarity", "TextAnalysis",
         "Multimodal", "HubQueries", "Pipeline", "JoinShapes", "Corpus", "SqlSurface",
         "Layout", "Winnow", "Checks", "FuzzyJoin", "Graph", "BpeTrain", "EmbedStats",
         "Sketches", "SemiStructured", "HtmlExtract"]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_query_sum(attempts):
    """Sum over queries of each query's median attempt, in ms."""
    by = {}
    for o in attempts:
        by.setdefault(o["name"], []).append(o["ms"])
    return sum(_median(v) for v in by.values())


class Trace:
    def __init__(self, trace):
        self.jobs = [j for j in trace["jobs"] if j.get("end_ms") is not None]
        stage_job = {}
        for j in sorted(self.jobs, key=lambda j: j["job"]):
            for s in j["stages"]:
                stage_job.setdefault(s, j["job"])
        self.tasks_by_job = {}
        for t in trace["tasks"]:
            if t[0] in stage_job:
                self.tasks_by_job.setdefault(stage_job[t[0]], []).append(t)
        self.jobs_by_group = {}
        for j in self.jobs:
            self.jobs_by_group.setdefault(j["group"], []).append(j)
        self.qes = trace["qes"]

    def op_jobs(self, op):
        return self.jobs_by_group.get(op["id"], [])

    def op_tasks(self, op):
        return [t for j in self.op_jobs(op) for t in self.tasks_by_job.get(j["job"], [])]

    def op_qes(self, op):
        return [q for q in self.qes if op["start_ms"] <= q["start_ms"] <= op["end_ms"]]

    def job_time_ms(self, op):
        return covered([(j["start_ms"], j["end_ms"]) for j in self.op_jobs(op)],
                       op["start_ms"], op["end_ms"])

    def outside_task_ms(self, op):
        total = 0
        for j in self.op_jobs(op):
            tasks = self.tasks_by_job.get(j["job"], [])
            total += (j["end_ms"] - j["start_ms"]) - covered(
                [(t[1], t[2]) for t in tasks], j["start_ms"], j["end_ms"])
        return total


def per_layer(wl, res, spec):
    tr = Trace(res["trace"])
    ops = [o for o in res["ops"] if "fail" not in o]
    cores = spec["cores"]
    m = {}
    if wl["kind"] == "hub":
        units = [o for o in ops if o["kind"] == "event" and o["traced"]]
        untraced = [o["ms"] for o in ops if o["kind"] == "event" and not o["traced"]]
        adds = [o for o in units if o.get("action") == "add"]
        m["trace.overhead_pct"] = (
            100 * (_median([o["ms"] for o in units]) / _median(untraced) - 1), "%")
    else:
        warm = [o for o in ops if o["pass"] > 0]
        units = [o for o in warm if o["traced"]]
        adds = []
        m["trace.overhead_pct"] = (100 * (
            per_query_sum(units) / per_query_sum([o for o in warm if not o["traced"]]) - 1), "%")

    m["GraftSession.builder_s"] = (_median(res["builder_s"]), "s")
    m["warmup_s"] = (res["warmup_s"], "s")

    # hub event path
    m["hub.dispatch.self_ms"] = (_median([o["ms"] - tr.job_time_ms(o) for o in adds]), "ms")
    m["hub.dispatch.job_ms"] = (_median([tr.job_time_ms(o) for o in adds]), "ms")
    m["hub.dispatch.jobs"] = (_mean([len(tr.op_jobs(o)) for o in adds]), "count")
    m["hub.config_ms"] = (_median([o["config_ms"] for o in units if "config_ms" in o]), "ms")
    scans = [o for o in ops if o["kind"] == "scan"]
    m["hub.readHub.plan_ms"] = (sum(o["plan_ms"] for o in scans), "ms")
    m["hub.readHub.exec_ms"] = (sum(o["exec_ms"] for o in scans), "ms")
    backfill = [o for o in ops if o["kind"] == "backfill"]
    bf_task_ms = sum(t[2] - t[1] for o in backfill for t in tr.op_tasks(o))
    bf_wall = sum(o["ms"] for o in backfill)
    m["hub.addDirectory.parallelism"] = (bf_task_ms / (bf_wall * cores) if bf_wall else 0.0, "ratio")
    m["hub.bytes_out_per_in"] = (res.get("bytes_out_per_in", 0.0), "ratio")
    m["stored_mb"] = (res["stored_bytes"] / 2**20, "MB")

    # per-query overhead: Catalyst and the scheduler
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (
            _mean([sum(q[f"{phase}_ms"] for q in tr.op_qes(o)) for o in units]), "ms")
    m["scheduler.jobs"] = (_mean([len(tr.op_jobs(o)) for o in units]), "count")
    m["scheduler.stages"] = (_mean([
        len({t[0] for t in tr.op_tasks(o)}) for o in units]), "count")
    m["scheduler.tasks"] = (_mean([len(tr.op_tasks(o)) for o in units]), "count")
    m["scheduler.outside_task_ms"] = (_mean([tr.outside_task_ms(o) for o in units]), "ms")

    def jobs_between(o, a, b):
        return [j for j in tr.op_jobs(o) if o[a] <= j["start_ms"] < (o[b] if b else 1e18)]
    queries = [o for o in units if o["kind"] == "query"]
    m["ops.construct_ms"] = (_mean([o["construct_ms"] for o in queries]), "ms")
    m["ops.construct_jobs"] = (_mean([
        len(jobs_between(o, "construct_start_ms", "sink_start_ms")) for o in queries]), "count")
    m["ops.sink_ms"] = (_mean([o["sink_ms"] for o in queries]), "ms")
    m["ops.sink_jobs"] = (_mean([
        len(jobs_between(o, "sink_start_ms", None)) for o in queries]), "count")
    # a pack's share of warm_s: its queries' median warm attempts, traced
    # or not
    for pack in PACKS:
        m[f"ops.{pack}.warm_s"] = (per_query_sum(
            [o for o in ops if o.get("pass", 0) > 0 and o["pack"] == pack]) / 1e3, "s")

    # executors
    tasks = [t for o in units for t in tr.op_tasks(o)]
    wall = sum(o["ms"] for o in units)
    n = len(units) or 1
    m["executor.run_ms"] = (sum(t[3] for t in tasks) / n, "ms")
    m["executor.cpu_ms"] = (sum(t[4] for t in tasks) / 1e6 / n, "ms")
    m["executor.gc_ms"] = (sum(t[5] for t in tasks) / n, "ms")
    m["executor.parallelism"] = (
        sum(t[2] - t[1] for t in tasks) / (wall * cores) if wall else 0.0, "ratio")
    m["shuffle.write_mb"] = (sum(t[6] for t in tasks) / 2**20 / n, "MB")
    m["shuffle.read_mb"] = (sum(t[7] for t in tasks) / 2**20 / n, "MB")
    m["spill_mb"] = (sum(t[8] for t in tasks) / 2**20 / n, "MB")

    # artifacts and cache release
    cold = [o for o in res["ops"] if o.get("pass") == 0]
    m["ServingIndexes.builds"] = (sum(o.get("builds", 0) for o in cold), "count")
    m["ServingIndexes.build_s"] = (sum(o.get("build_s", 0.0) for o in cold), "s")
    m["Caches.releaseAll_ms"] = (_mean([o["release_ms"] for o in queries]), "ms")
    return m
