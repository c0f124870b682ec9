"""Per-layer metrics from a traced run.

Input: the harness result (ops, passes) and its trace file (spans, plus the
listener's jobs and stages). Every figure is a pass total: the sum over the
op list of each op's mean over its traced runs. Layer times are self times: the union of the intervals of the
jobs (or stages) attributed to the layer, so overlapping jobs are not
counted twice, and a parent's time excludes what its children cover.

Jobs inside one verb call are attributed to a module by Spark's call site:
"""
import statistics

# (call-site file, action or None for any) -> layer, for jobs inside a verb
SITES = [
    (("SyncPipeline.scala", "count"), "SyncPipeline.validate"),
    (("SyncPipeline.scala", "collect"), "SnapshotDiff.diff"),
    (("PrettyPrint.scala", None), "PrettyPrint.preview"),
    (("Connectors.scala", None), "Connectors.read"),
    (("Sinks.scala", None), "Connectors.publish"),
]
__doc__ += "".join(f"\n    {a or '*'} at {f} -> {layer}" for (f, a), layer in SITES) + """

In a sync's publish job the shuffle-map stages compute the changeset apply
(`SnapshotDiff.applyChangeset`, lazy until the write), so their time counts
as SnapshotDiff.apply and the rest of the job as Connectors.publish. In an
upsert the publish job is Connectors.upsert.
"""


def site_layer(site):
    action, _, where = site.partition(" at ")
    f = where.split(":")[0]
    for (sf, sa), layer in SITES:
        if f == sf and (sa is None or action == sa):
            return layer
    return "other"


def union_s(intervals):
    """Length in seconds of the union of [start, end] ms intervals."""
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


def per_layer(res, trace):
    """-> ({metric: (value, unit)}, table rows of (layer, self s, jobs))."""
    ops = {o["op"]: o for o in res["ops"] if o["traced"]}
    # each op of the list counts once per pass total, however often it ran traced
    index = lambda op_id: op_id.split(".")[1]
    runs = {}
    for op_id in ops:
        runs[index(op_id)] = runs.get(index(op_id), 0) + 1
    weight = {op_id: 1.0 / runs[index(op_id)] for op_id in ops}
    jobs = [j for j in trace["ledger"]["jobs"] if j["op"] in ops]
    stages = {}
    for st in trace["ledger"]["stages"]:
        stages.setdefault(st["job"], []).append(st)
    job_stages = lambda j: stages.get(j["id"], [])
    spans = [s for s in trace["spans"] if s["op"] in ops and s["name"] in ("construct", "plan", "exec")]

    tot = {}
    layer_jobs = {}

    def add(k, v, op_id):
        tot[k] = tot.get(k, 0.0) + weight[op_id] * v

    for op_id, o in ops.items():
        w = weight[op_id]
        oj = [j for j in jobs if j["op"] == op_id]
        gap = o["s"] - union_s([(j["start"], j["end"]) for j in oj])
        add("driver_gap_s", gap, op_id)
        if o["kind"] in ("sync", "noop", "upsert"):
            by = {}
            for j in oj:
                layer = site_layer(j["site"])
                if layer == "Connectors.publish" and o["kind"] == "upsert":
                    layer = "Connectors.upsert"
                by.setdefault(layer, []).append(j)
            for layer, js in by.items():
                layer_jobs[layer] = layer_jobs.get(layer, 0) + w * len(js)
                iv = [(j["start"], j["end"]) for j in js]
                if layer == "Connectors.publish":
                    apply_iv = [(s["start"], s["end"]) for j in js for s in job_stages(j)
                                if s["shuffle_map"]]
                    a = union_s(apply_iv)
                    add("SnapshotDiff.apply_s", a, op_id)
                    add("Connectors.publish_s", union_s(iv) - a, op_id)
                    out = sum(s["output_bytes"] for j in js for s in job_stages(j))
                    add("Connectors.bytes_written", out, op_id)
                    add("published_change_bytes", o["changed_row_bytes"], op_id)
                else:
                    add(f"{layer}_s", union_s(iv), op_id)
                if layer == "SnapshotDiff.diff":
                    add("SnapshotDiff.diff_shuffle_bytes",
                        sum(s["shuffle_write"] for j in js for s in job_stages(j)), op_id)
            if o["kind"] != "upsert":
                for k, v in (("sync.ops", 1), ("sync.jobs", len(oj)),
                             ("sync.stages", sum(len(job_stages(j)) for j in oj)),
                             ("sync.driver_gap_s", gap), (f"sync.jobs_{o['kind']}", len(oj)),
                             (f"sync.n_{o['kind']}", 1),
                             ("sync.schema_drift_cols", o["schema_drift_cols"])):
                    add(k, v, op_id)
    for s in spans:
        add(f"{s['name']}_s", (s["end"] - s["start"]) / 1e3, s["op"])
    for j in jobs:
        if j["span"]:
            layer_jobs[j["span"]] = layer_jobs.get(j["span"], 0) + weight[j["op"]]
        st = job_stages(j)
        add("jobs", 1, j["op"])
        add("stages", len(st), j["op"])
        for s in st:
            for k, v in (("tasks", s["tasks"]), ("task_run_s", s["run_ms"] / 1e3),
                         ("task_cpu_s", s["cpu_ns"] / 1e9), ("gc_s", s["gc_ms"] / 1e3),
                         ("shuffle_write_bytes", s["shuffle_write"]),
                         ("shuffle_read_bytes", s["shuffle_read"]), ("spill_bytes", s["spill"]),
                         ("Tables.input_bytes", s["input_bytes"]),
                         ("Tables.input_rows", s["input_rows"])):
                add(k, v, j["op"])
    wall = sum(weight[k] * o["s"] for k, o in ops.items())
    g = lambda k: tot.get(k, 0.0)
    ratio = lambda a, b: tot.get(a, 0.0) / tot[b] if tot.get(b) else 0.0
    # tracing overhead: each op index ran traced and untraced in ABBA order
    # over four passes, so a linear warm-up trend cancels
    by_j = {}
    for o in res["ops"]:
        by_j.setdefault(o["op"].split(".")[1], ([], []))[0 if o["traced"] else 1].append(o["s"])
    pairs = [(statistics.median(t), statistics.median(u)) for t, u in by_j.values() if t and u]
    overhead = sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1.0
    m = {
        "Session.build_s": (res["session_build_s"], "s"),
        "Tables.input_bytes": (g("Tables.input_bytes"), "bytes"),
        "Tables.input_rows": (g("Tables.input_rows"), "rows"),
        "SyncPipeline.validate_s": (g("SyncPipeline.validate_s"), "s"),
        "SyncPipeline.validate_jobs": (layer_jobs.get("SyncPipeline.validate", 0), "count"),
        "SnapshotDiff.diff_s": (g("SnapshotDiff.diff_s"), "s"),
        "SnapshotDiff.diff_shuffle_bytes": (g("SnapshotDiff.diff_shuffle_bytes"), "bytes"),
        "SnapshotDiff.apply_s": (g("SnapshotDiff.apply_s"), "s"),
        "PrettyPrint.preview_s": (g("PrettyPrint.preview_s"), "s"),
        "Connectors.read_s": (g("Connectors.read_s"), "s"),
        "Connectors.publish_s": (g("Connectors.publish_s"), "s"),
        "Connectors.bytes_written": (g("Connectors.bytes_written"), "bytes"),
        "Connectors.write_amp": (ratio("Connectors.bytes_written", "published_change_bytes"), "ratio"),
        "Connectors.upsert_s": (g("Connectors.upsert_s"), "s"),
        "sync.other_s": (g("other_s"), "s"),
        "sync.jobs_per_op": (ratio("sync.jobs", "sync.ops"), "count"),
        "sync.jobs_per_changed_sync": (ratio("sync.jobs_sync", "sync.n_sync"), "count"),
        "sync.jobs_per_noop_sync": (ratio("sync.jobs_noop", "sync.n_noop"), "count"),
        "sync.stages_per_op": (ratio("sync.stages", "sync.ops"), "count"),
        "sync.driver_gap_s": (g("sync.driver_gap_s"), "s"),
        "sync.schema_drift_cols": (g("sync.schema_drift_cols"), "count"),
        "construct_s": (g("construct_s"), "s"),
        "construct_jobs": (layer_jobs.get("construct", 0), "count"),
        "plan_s": (g("plan_s"), "s"),
        "exec_s": (g("exec_s"), "s"),
        "jobs": (g("jobs"), "count"),
        "stages": (g("stages"), "count"),
        "tasks": (g("tasks"), "count"),
        "task_run_s": (g("task_run_s"), "s"),
        "task_cpu_s": (g("task_cpu_s"), "s"),
        "gc_s": (g("gc_s"), "s"),
        "slot_busy_frac": (g("task_run_s") / (wall * res["cpus"]), "frac"),
        "shuffle_write_bytes": (g("shuffle_write_bytes"), "bytes"),
        "shuffle_read_bytes": (g("shuffle_read_bytes"), "bytes"),
        "spill_bytes": (g("spill_bytes"), "bytes"),
        "driver_gap_s": (g("driver_gap_s"), "s"),
        "trace_overhead_frac": (overhead, "frac"),
    }
    layer_names = ["SyncPipeline.validate", "SnapshotDiff.diff", "SnapshotDiff.apply",
                   "PrettyPrint.preview", "Connectors.read", "Connectors.publish",
                   "Connectors.upsert", "other", "construct", "plan", "exec"]
    rows = [(name, g(f"{name}_s"), layer_jobs.get(name, 0)) for name in layer_names
            if tot.get(f"{name}_s")]
    if tot.get("sync.ops"):  # verb layers are job unions: the rest is between jobs
        rows.append(("between jobs", g("driver_gap_s"), 0))
    rows.append(("pass (traced)", wall, g("jobs")))
    return m, rows


def print_table(rows):
    print("== layer self time per pass (traced ops)")
    for name, s, jobs in rows:
        print(f"  {name:24s} {s:10.4f} s  {jobs:8.1f} jobs")
