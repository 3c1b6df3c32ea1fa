"""Metric arithmetic of the benchmark: percentiles, self time, span
attribution, failure counting and the per-layer roll-up of a traced run.

Pure functions over the records the JVM side writes (ops, spans, Spark
jobs / stages / Catalyst phases), so they are unit-tested on their own
(test_perfbench.py).
"""
import math
import statistics

# percentile used for the tail, unless too few samples lie beyond it
TAIL_PERCENTILE = 90
TAIL_MIN_BEYOND = 10


def tail_percentile(n):
    """The highest percentile p <= 90 that has at least ten of the n
    samples beyond it, never below the median (p = 50)."""
    for p in range(TAIL_PERCENTILE, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= TAIL_MIN_BEYOND:
            return p
    return 50


def percentile(values, p):
    """Nearest-rank percentile; p = 50 is the ordinary median."""
    if p == 50:
        return statistics.median(values)
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs) / 100) - 1)]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval that its child
    spans cover (children clipped to the span, overlaps counted once)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


def count_failures(ops, verdicts):
    """(attempted, failed): an op fails when it threw or its result was
    wrong (`verdicts[op id]` is False)."""
    failed = sum(1 for o in ops if not o["ok"] or verdicts.get(o["id"]) is False)
    return len(ops), failed


def jobs_by_op(jobs):
    """Group Spark jobs by the op id carried in their job-local property;
    jobs started outside any op (empty property) are dropped."""
    out = {}
    for j in jobs:
        if j.get("op"):
            out.setdefault(j["op"], []).append(j)
    return out


def op_for_time(ops, t_us, slack_us=1000):
    """The op whose interval contains t_us (one client, so ops never
    overlap); used for records that carry no op id (Catalyst phases)."""
    for o in ops:
        if o["startUs"] - slack_us <= t_us <= o["endUs"] + slack_us:
            return o["id"]
    return None


def first_results(ops):
    """Times to the first result the user sees: the first partial of
    every op that streams partials. A workload without any (the
    pipeline's counts) falls back to the final latency of its ops."""
    firsts = [o["firstMs"] for o in ops if o.get("firstMs") is not None]
    return firsts or [o["ms"] for o in ops]


def end_to_end(ops, input_rows, setup_s, peak_heap_mb):
    """End-to-end metrics over the successful ops of one timed phase."""
    ms = [o["ms"] for o in ops]
    busy_s = sum(ms) / 1000
    p = tail_percentile(len(ms))
    return {
        "op_p50_ms": (percentile(ms, 50), "ms"),
        "op_p90_ms": (percentile(ms, p), "ms"),
        "ops_per_s": (len(ms) / busy_s, "1/s"),
        "first_partial_p50_ms": (percentile(first_results(ops), 50), "ms"),
        "rows_per_s": (sum(input_rows.get(o["id"], 0) for o in ops) / busy_s, "1/s"),
        "peak_heap_mb": (peak_heap_mb, "MB"),
        "setup_s": (setup_s, "s"),
    }, p


def _mean(xs):
    return statistics.mean(xs) if xs else 0.0


def per_layer(workload, ops, spans, events, meta, cores, untimed_ops):
    """Per-layer metrics of a traced run from its traced rounds (`ops`);
    the untraced rounds (`untimed_ops`) give the untraced latency beside
    the traced one, and the GC time. Every value is a per-op mean unless
    its name says otherwise."""
    n = max(len(ops), 1)
    ids = {o["id"] for o in ops}
    jobs = [e for e in events if e["type"] == "job" and e["op"] in ids]
    stages = {e["id"]: e for e in events if e["type"] == "stage"}
    phases = [e for e in events if e["type"] == "phase"]
    by_op = jobs_by_op(jobs)
    ops_by_id = {o["id"]: o for o in ops}

    def stage_sum(field, scale=1.0):
        return sum(stages[s][field] for j in jobs for s in j["stageIds"] if s in stages) / scale / n

    resolve_jobs = [j for j in jobs if "Sessions.scala" in j["site"]]
    artifact_jobs = [j for j in jobs if "Artifacts.scala" in j["site"]]
    job_ms = lambda j: j["endMs"] - j["startMs"]
    m = {}
    m["traced.op_p50_ms"] = percentile([o["ms"] for o in ops], 50) if ops else 0.0
    m["untraced.op_p50_ms"] = percentile([o["ms"] for o in untimed_ops], 50) if untimed_ops else 0.0
    m["tables.resolve_calls"] = len(resolve_jobs) / n
    m["tables.resolve_ms"] = sum(map(job_ms, resolve_jobs)) / n
    m["tables.resolve_probe_ms"] = meta.get("tables_probe_ms", 0.0)

    builds = [s for s in spans if s["name"] == "build"]
    in_build = sum(job_ms(j) for j in resolve_jobs for b in builds
                   if b["op"] == j["op"] and b["startUs"] <= j["startMs"] * 1000 <= b["endUs"])
    m["build_ms"] = (sum(b["endUs"] - b["startUs"] for b in builds) / 1000 - in_build) / n

    for ph in ("analysis", "optimization", "planning"):
        own = [p for p in phases if p["phase"] == ph
               and op_for_time(ops, p["startMs"] * 1000) is not None]
        m[f"plan.{ph}_ms"] = sum(p["endMs"] - p["startMs"] for p in own) / n

    fps = [s for s in spans if s["name"] == "memo.fingerprint"]
    m["memo.fingerprint_ms"] = _mean([(s["endUs"] - s["startUs"]) / 1000 for s in fps])
    lookups = meta["memo"].get("traced.lookups", 0)
    hits = meta["memo"].get("traced.hits", 0)
    m["memo.lookups"] = lookups
    m["memo.hits"] = hits
    m["memo.hit_ratio"] = hits / lookups if lookups else 0.0

    maps = [o["ms"] for o in ops if o["kind"] == "filter"]
    m["targets.map_ms"] = _mean(maps)
    for kind in ("data_range", "histogram_cdf", "next_k", "heavy_hitters", "summary",
                 "zoom_histogram", "replay", "progressive"):
        m[f"targets.sketch_ms.{kind}"] = _mean(
            [o["ms"] for o in ops if o["kind"] == kind and workload == "gesture_session"])

    prog = [o for o in ops if o["kind"] == "progressive"]
    m["progressive.jobs"] = _mean([len(by_op.get(o["id"], [])) for o in prog])
    chunks = [s for s in spans if s["name"] == "progressive.chunk"]
    m["progressive.partials"] = len(chunks) / max(len(prog), 1)
    m["progressive.chunk_ms"] = _mean([(s["endUs"] - s["startUs"]) / 1000 for s in chunks])

    m["spark.jobs_per_op"] = len(jobs) / n
    m["spark.stages_per_op"] = sum(1 for j in jobs for s in j["stageIds"] if s in stages) / n
    m["spark.tasks_per_op"] = stage_sum("tasks")
    gaps, collects = [], []
    for op, js in by_op.items():
        js = sorted(js, key=lambda j: j["startMs"])
        gaps.append(sum(max(0, b["startMs"] - a["endMs"]) for a, b in zip(js, js[1:])))
        collects.append(max(0.0, ops_by_id[op]["endUs"] / 1000 - max(j["endMs"] for j in js)))
    m["spark.job_gap_ms"] = sum(gaps) / n
    m["spark.driver_collect_ms"] = sum(collects) / n
    m["spark.task_cpu_ms"] = stage_sum("cpuMs")
    m["spark.task_run_ms"] = stage_sum("runMs")
    wall_ms = sum(o["ms"] for o in ops)
    m["spark.cpu_util"] = stage_sum("cpuMs") * n / (wall_ms * cores) if wall_ms else 0.0
    m["spark.input_rows"] = stage_sum("inputRows")
    m["spark.input_mb"] = stage_sum("inputBytes", 2 ** 20)
    m["spark.shuffle_write_mb"] = stage_sum("shuffleWriteBytes", 2 ** 20)
    m["spark.shuffle_read_mb"] = stage_sum("shuffleReadBytes", 2 ** 20)
    m["spark.spill_mb"] = stage_sum("spillBytes", 2 ** 20)

    served = [o for o in ops if o["kind"] in meta.get("served", [])]
    m["artifacts.serve_ms"] = sum(job_ms(j) for j in artifact_jobs
                                  if j["op"] in {o["id"] for o in served}) / max(len(served), 1)
    m["artifacts.builds_in_timed_run"] = meta["artifact_builds_in_timed_run"]
    m["jvm.gc_ms"] = _mean([o["gcMs"] for o in untimed_ops])

    for name, v in self_times(ops, spans, jobs, stages, phases).items():
        m[f"self.{name}_ms"] = v / n
    for k, v in meta.items():
        if k.startswith("functions."):
            m[k] = v
    return m


SELF_LAYERS = ("op", "build", "memo.fingerprint", "collect", "count",
               "targets.map", "progressive", "catalyst", "job", "stage")


def self_times(ops, spans, jobs, stages, phases):
    """Self time summed per layer over the traced ops. Bench spans nest
    by their parent ids; Spark jobs hang under the innermost bench span
    of their op that contains their start, stages under their job, and
    Catalyst phases under the innermost bench span containing them."""
    nodes = []  # (layer, start_us, end_us, parent index)
    index = {}
    for s in sorted(spans, key=lambda s: (s["startUs"], -s["endUs"])):
        layer = s["name"].split(".chunk")[0].replace("progressive.run", "progressive")
        index[s["id"]] = len(nodes)
        nodes.append([layer, s["startUs"], s["endUs"], s["parent"], s["op"]])
    for node in nodes:
        node[3] = index.get(node[3], -1)

    def innermost(op, t):
        best = -1
        for i, (_, s, e, _, o) in enumerate(nodes):
            if o == op and s <= t <= e and (best < 0 or s >= nodes[best][1]):
                best = i
        return best

    for j in jobs:
        parent = innermost(j["op"], j["startMs"] * 1000)
        ji = len(nodes)
        nodes.append(["job", j["startMs"] * 1000, j["endMs"] * 1000, parent, j["op"]])
        for sid in j["stageIds"]:
            st = stages.get(sid)
            if st and st["startMs"] > 0:
                nodes.append(["stage", st["startMs"] * 1000, st["endMs"] * 1000, ji, j["op"]])
    for p in phases:
        op = op_for_time(ops, p["startMs"] * 1000)
        if op is not None and p["phase"] != "parsing":
            nodes.append(["catalyst", p["startMs"] * 1000, p["endMs"] * 1000,
                          innermost(op, p["startMs"] * 1000), op])

    children = {}
    for i, node in enumerate(nodes):
        children.setdefault(node[3], []).append((node[1], node[2]))
    out = {layer: 0.0 for layer in SELF_LAYERS}
    for i, (layer, s, e, _, _) in enumerate(nodes):
        if layer in out:
            out[layer] += self_time((s, e), children.get(i, [])) / 1000
    return {k.replace(".", "_"): v for k, v in out.items()}


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if "ns_per_row" in name:
        return "ns/row"
    if name.endswith("in_wholestage"):
        return "bool"
    if name.endswith(("_ratio", "cpu_util")):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if "_ms" in name:
        return "ms"
    if name.endswith("input_rows"):
        return "rows"
    return "count"
