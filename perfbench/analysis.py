"""Turns the JVM side's raw record into end-to-end and per-layer metrics.

Times in the raw record are epoch milliseconds. A job belongs to the query
span its start time falls in (one query runs at a time), a stage's tasks to
the job that owns the stage, a streaming trigger to the query span its
start time falls in.
"""
import re
import statistics

MODULES = ["etl", "sources", "dedup", "similarity", "analytics", "text",
           "streaming", "plans", "CachePool", "SparkEntry"]
MB = 1048576.0
SHORT_JOB_MS = 100.0

_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([A-Za-z0-9_]+)")


def union_length(intervals) -> float:
    """Total length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children) -> float:
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def module_of(details: str, streaming: bool, in_exec: bool, sql_details: str = "") -> str:
    """The module that raised a job: the first graft.* frame of its stage
    call site, else of the call site of the SQL execution it belongs to
    (adaptive execution submits jobs from its own threads). Streaming
    micro-batch jobs go to `streaming`; the final action, issued by the
    benchmark itself, and jobs without a graft frame inside it go to
    `SparkEntry`; anything else is `engine`."""
    if streaming:
        return "streaming"
    for line in details.splitlines() + sql_details.splitlines():
        m = _FRAME.match(line)
        if m:
            mod = m.group(1)
            if mod == "perfbench":
                return "SparkEntry"
            return mod.split("$")[0]
    return "SparkEntry" if in_exec else "engine"


def job_module(j: dict, q: dict) -> str:
    return module_of(j["details"], j["streaming"], j["start"] >= q["build_end"],
                     j.get("sql_details", ""))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def query_breakdown(q: dict, jobs: list) -> dict:
    """Wall time of one query split two ways: into build / exec / release /
    harness, and into time inside jobs / outside jobs."""
    wall = q["end"] - q["start"]
    build = q["build_end"] - q["start"]
    execute = q["exec_end"] - q["build_end"]
    release = q["end"] - q["release_start"]
    in_jobs = union_length([(max(j["start"], q["start"]), min(j["end"], q["end"]))
                            for j in jobs])
    return {"wall_s": wall / 1e3, "build_s": build / 1e3, "exec_s": execute / 1e3,
            "release_s": release / 1e3,
            "harness_s": (wall - build - execute - release) / 1e3,
            "in_jobs_s": in_jobs / 1e3, "outside_jobs_s": (wall - in_jobs) / 1e3}


def _inside(t, q):
    return q["start"] <= t <= q["end"]


def attribute(raw: dict, queries: list):
    """(query, jobs, progress) triples: the jobs and streaming triggers that
    started inside each query span."""
    out = []
    for q in queries:
        jobs = [j for j in raw["jobs"] if _inside(j["start"], q)]
        prog = [p for p in raw["progress"] if _inside(p["at"], q)]
        out.append((q, jobs, prog))
    return out


def stage_owners(jobs: list) -> dict:
    """Stage id -> the first job that lists it. A shuffle stage is shared by
    later jobs that reuse its output; only its first job runs it."""
    owner = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for sid in j["stages"]:
            owner.setdefault(sid, j["id"])
    return owner


def end_to_end(raw: dict, launch_s: float, attempted: int, failed: int) -> dict:
    """Per-pass figures are means over the run's untraced timed passes:
    one, unless a pass takes less than --seconds."""
    untraced = [p for p in raw["passes"] if not p["traced"]]
    return {
        "setup_s": raw["setup_end_ms"] / 1e3 - launch_s,
        "pass_s": statistics.mean(p["wall_s"] for p in untraced),
        "cpu_s": statistics.mean(p["cpu_s"] for p in untraced),
        "retained_heap_mb": max(p["retained_heap_mb"] for p in untraced),
        "ok_frac": (attempted - failed) / attempted,
    }


def per_layer(raw: dict, cores: int, rounds: float) -> dict:
    """Per-layer metrics, per traced pass (totals over the traced passes
    divided by their number), plus the staging of the verified pass and
    the functions micro-calls."""
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    n = max(1, len(traced))
    stages = {s["id"]: s for s in raw["stages"]}
    owner = stage_owners(raw["jobs"])
    m = {}

    def add(k, x):
        m[k] = m.get(k, 0.0) + x

    for mod in MODULES:
        m[f"{mod}.jobs"] = 0.0
        m[f"{mod}.job_s"] = 0.0
    peak_storage = 0.0
    for p in traced:
        for q, jobs, prog in attribute(raw, p["queries"]):
            b = query_breakdown(q, jobs)
            add("SparkEntry.build_s", b["build_s"])
            add("SparkEntry.exec_s", b["exec_s"])
            add("CachePool.release_s", b["release_s"])
            add("driver.outside_jobs_s", b["outside_jobs_s"])
            add("CachePool.blocks_after_release", q["blocks_after_release"])
            peak_storage = max(peak_storage, q["storage_mb"])
            for j in jobs:
                dur = max(0.0, j["end"] - j["start"])
                add("scheduler.jobs", 1)
                add("scheduler.short_jobs", 1 if dur < SHORT_JOB_MS else 0)
                mod = job_module(j, q)
                if mod in MODULES:
                    add(f"{mod}.jobs", 1)
                    add(f"{mod}.job_s", dur / 1e3)
                for sid in j["stages"]:
                    s = stages.get(sid)
                    if s is None or owner[sid] != j["id"]:
                        continue  # skipped, or run by an earlier job
                    t = s["totals"]
                    add("scheduler.stages", 1)
                    for k, name, scale in [
                            ("tasks", "scheduler.tasks", 1), ("failed_tasks", "scheduler.failed_tasks", 1),
                            ("task_wait_s", "scheduler.task_wait_s", 1),
                            ("run_s", "executor.run_s", 1), ("cpu_s", "executor.cpu_s", 1),
                            ("gc_s", "executor.gc_s", 1), ("deser_s", "executor.deser_s", 1),
                            ("task_s", "executor.task_s", 1),
                            ("shuffle_write_b", "shuffle.write_mb", MB),
                            ("shuffle_read_b", "shuffle.read_mb", MB),
                            ("fetch_wait_s", "shuffle.fetch_wait_s", 1),
                            ("spill_b", "shuffle.spill_mb", MB),
                            ("read_b", "sources.read_mb", MB), ("read_rows", "sources.read_rows", 1),
                            ("write_b", "sources.write_mb", MB), ("write_rows", "sources.write_rows", 1)]:
                        add(name, t.get(k, 0.0) / scale)
            for pr in prog:
                for k, x in pr["totals"].items():
                    add(f"streaming.{k}", x)
    for k in list(m):
        m[k] /= n
    wall = sum(p["wall_s"] for p in traced) / n
    m["executor.slot_util"] = m.pop("executor.task_s", 0.0) / (wall * cores) if wall else 0.0
    m["CachePool.peak_storage_mb"] = peak_storage
    # shared artifacts are staged on first use, in the verified pass
    m["SparkEntry.staging_s"] = sum(q["staging_s"] for q in raw["verify"])
    m["peak_heap_mb"] = raw["peak_heap_mb"]
    m["jvm.jit_s"] = sum(p["jit_s"] for p in traced) / n
    denom = rounds + m.get("streaming.batches", 0.0)
    m["scheduler.jobs_per_round"] = m.get("scheduler.jobs", 0.0) / denom if denom else 0.0
    for f in raw["functions"]:
        m[f"functions.{f['name']}.rows_per_s"] = f["rows"] / median(f["secs"])
    base = statistics.mean(p["wall_s"] for p in untraced) if untraced else 0.0
    m["trace.overhead_frac"] = (statistics.mean(p["wall_s"] for p in traced) / base - 1
                                if base and traced else 0.0)
    return m


def spans(raw: dict) -> list:
    """Every span of the traced passes: query -> build/exec/release ->
    job -> stage, plus the functions micro-calls. A query's spans share its
    job group as trace id."""
    out = []
    stages = {s["id"]: s for s in raw["stages"]}
    owner = stage_owners(raw["jobs"])

    def span(sid, parent, trace, name, s, e):
        out.append({"id": sid, "parent": parent, "trace": trace, "name": name,
                    "start": s, "end": e})

    for p in raw["passes"]:
        if not p["traced"]:
            continue
        for q, jobs, _ in attribute(raw, p["queries"]):
            g = q["group"]
            span(g, None, g, f"query {q['name']}", q["start"], q["end"])
            span(f"{g}/build", g, g, "build", q["start"], q["build_end"])
            span(f"{g}/exec", g, g, "exec", q["build_end"], q["exec_end"])
            span(f"{g}/release", g, g, "release", q["release_start"], q["end"])
            for j in jobs:
                parent = f"{g}/exec" if j["start"] >= q["build_end"] else f"{g}/build"
                jid = f"{g}/job{j['id']}"
                mod = job_module(j, q)
                span(jid, parent, g, f"job {mod}", j["start"], j["end"])
                for sid in j["stages"]:
                    s = stages.get(sid)
                    if s is not None and owner[sid] == j["id"]:
                        span(f"{jid}/stage{sid}", jid, g, "stage", s["submit"], s["complete"])
    for f in raw["functions"]:
        span(f"fn/{f['name']}", None, "functions", f"functions.{f['name']}",
             f["start"], f["end"])
    return out


def self_times(all_spans: list) -> dict:
    """Span name -> summed self time in seconds."""
    kids = {}
    for s in all_spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in all_spans:
        name = "query" if s["name"].startswith("query ") else s["name"]
        st = self_time((s["start"], s["end"]), kids.get(s["id"], []))
        out[name] = out.get(name, 0.0) + st / 1e3
    return out
