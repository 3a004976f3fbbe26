"""Metric arithmetic over one JVM run's records (see perfbench/src/Main.scala
for the phases): end-to-end metrics and output checks from the untimed
records, per-layer metrics from a traced run's listener records."""
import math
import statistics

E2E_UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "query_p50_s": "s",
    "query_gmean_s": "s", "query_tail_s": "s", "queries_per_s": "1/s",
    "input_rows_per_s": "rows/s", "batch_p50_s": "s", "pipeline_s": "s",
    "retained_heap_mb": "MB",
}
# In the report, not in the JSON line: the median of a few calls of
# different lengths jumps between neighbouring calls' times when one of
# them shifts, so on floor it spread twice as wide as warm_s run to run.
# The JSON line carries query_gmean_s instead.
REPORT_ONLY = ("query_p50_s",)


def by_kind(records):
    out = {}
    for r in records:
        out.setdefault(r["kind"], []).append(r)
    return out


def gmean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def attribute(recs):
    """Maps every listener record to the call it belongs to: a job by the
    job group the harness set around the call (streaming queries run
    their jobs under their own group) or else by time; a stage through its
    job; a SQL execution by the time its first planning phase started,
    which is inside the call that built the query; a micro-batch by its
    start time. Returns
    {call tag: {"jobs": [...], "stages": [...], "executions": [...],
    "batches": [...]}}."""
    calls = sorted(recs.get("call", []), key=lambda c: c["start_ms"])
    tags = {c["tag"] for c in calls}
    starts = [c["start_ms"] for c in calls]

    def at(t):
        if t is None:
            return None
        lo, hi = 0, len(calls)
        while lo < hi:  # last call starting at or before t
            mid = (lo + hi) // 2
            if starts[mid] <= t:
                lo = mid + 1
            else:
                hi = mid
        if lo and t <= calls[lo - 1]["end_ms"]:
            return calls[lo - 1]["tag"]
        return None

    out = {c["tag"]: {"jobs": [], "stages": [], "executions": [], "batches": []} for c in calls}
    ends = {j["job"]: j["t_ms"] for j in recs.get("job_end", [])}
    stage_tag = {}
    for j in recs.get("job_start", []):
        tag = j["group"] if j["group"] in tags else at(j["t_ms"])
        if tag is None:
            continue
        out[tag]["jobs"].append((j["t_ms"], ends.get(j["job"], j["t_ms"])))
        for s in j["stages"]:
            stage_tag.setdefault(s, tag)
    for s in recs.get("stage", []):
        tag = stage_tag.get(s["stage"])
        if tag is not None:
            out[tag]["stages"].append(s)
    for e in recs.get("execution", []):
        tag = at(e["start_ms"])
        if tag is not None:
            out[tag]["executions"].append(e)
    for b in recs.get("batch", []):
        tag = at(b["t_ms"])
        if tag is not None:
            out[tag]["batches"].append(b)
    return out


def union_ms(intervals):
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


def judge(recs, cfg, expect):
    """Counts failed and wrong executions; returns (failed, wrong, problems).
    A timed execution is wrong when its row count differs from the golden
    one; a check-pass execution when its output check fails."""
    problems = []
    failed = wrong = 0
    for c in recs.get("call", []):
        if "error" in c:
            failed += 1
            problems.append(f"{c['tag']} failed: {c['error']}: {c['message']}")
            continue
        if c["phase"] == "check":
            problem = check_problem(c, cfg, expect)
        elif cfg["kind"] == "registry" and c["rows"] != expect[c["name"]]["rows"]:
            problem = f"{c['tag']} returned {c['rows']} rows"
        elif c["name"] == "forecast" and c["rows"] != expect["series_admitted"]:
            problem = f"{c['tag']} admitted {c['rows']} series"
        else:
            problem = None
        if problem:
            wrong += 1
            problems.append(problem)
    return failed, wrong, problems


def check_problem(c, cfg, expect):
    if cfg["kind"] == "registry":
        want = expect[c["name"]]
        got = {"rows": c["rows"], "hash": c["hash"]}
        return None if got == want else f"check {c['name']}: got {got}, golden {want}"
    return covid_problem(c["name"], c, expect, cfg["horizon"])


def covid_problem(name, c, expect, horizon):
    admitted = expect["series_admitted"]
    want = {
        "forecast": {"series_total": expect["series_total"], "series_admitted": admitted,
                     "rmse_nonfinite": 0, "horizon_rows": admitted * horizon,
                     "horizon_bad_series": 0},
        "features": {"gov_action_values": 2},
        "coefficients": {"nonfinite": 0},
        "simulate": {"negative_pred_removed": 0},
    }.get(name, {})
    bad = {k: c.get(k) for k, v in want.items() if c.get(k) != v}
    if name == "compare" and not c.get("diff_removed_nonzero"):
        bad["diff_removed_nonzero"] = c.get("diff_removed_nonzero")
    if name in ("transform", "coefficients", "simulate", "compare") and not c.get("rows"):
        bad["rows"] = c.get("rows")
    return f"check {name}: {bad} (want {want})" if bad else None


def end_to_end(records, cfg, expect):
    recs = by_kind(records)
    if "fatal" in recs:
        f = recs["fatal"][0]
        raise RuntimeError(f"run died: {f['error']}: {f['message']}")
    calls = recs["call"]
    warm = [c for c in calls if c["phase"] == "warm" and "error" not in c]
    cold = [c for c in calls if c["phase"] == "cold" and "error" not in c]
    wrec = recs["warm"][0]
    if not warm:
        raise RuntimeError("no warm call succeeded")
    per_call = {}
    for c in warm:
        per_call.setdefault(c["name"], []).append(c["wall_s"])
    medians = [statistics.median(v) for v in per_call.values()]
    warm_s = sum(medians)
    walls = [c["wall_s"] for c in warm]
    pass_walls = {}  # a warm pass's calls and cleanups
    for c in warm:
        pass_walls[c["pass"]] = pass_walls.get(c["pass"], 0) + c["wall_s"] + c["cleanup_s"]
    for e in recs["pass_end"]:
        if e["phase"] == "warm":
            pass_walls[e["pass"]] = pass_walls.get(e["pass"], 0) + e["cleanup_s"]

    layers = attribute(recs)
    checked = [c for c in calls if c["phase"] == "check"]
    input_rows = sum(s["input_rows"] for c in checked for s in layers[c["tag"]]["stages"])
    # A micro-batch trigger on streaming rows; elsewhere the batch query
    # itself is the batch, so the typical warm call.
    triggers = [b["trigger_ms"] / 1000 for c in warm for b in layers[c["tag"]]["batches"]]
    p = cfg["tail_percentile"]
    values = {
        "setup_s": statistics.median(s["s"] for s in recs["setup"]),
        "cold_s": sum(c["wall_s"] for c in cold),
        "warm_s": warm_s,
        "query_p50_s": statistics.median(walls),
        "query_gmean_s": gmean(medians),
        "query_tail_s": percentile(walls, p),
        "queries_per_s": len(warm) / wrec["s"],
        "input_rows_per_s": input_rows / warm_s,
        "batch_p50_s": statistics.median(triggers) if triggers else gmean(medians),
        "pipeline_s": statistics.median(pass_walls.values()),
        "retained_heap_mb": wrec["retained_heap_bytes"] / 2 ** 20,
    }
    failed, wrong, problems = judge(recs, cfg, expect)
    beyond = len(walls) - math.ceil(p / 100 * len(walls))
    notes = {"untimed warm-up s": round(recs["warmup"][0]["s"], 2),
             "warm passes": wrec["passes"], "warm samples": len(walls),
             "tail": f"p{p} with {beyond} samples beyond"}
    if cfg["kind"] == "covid":
        transform = next(c for c in checked if c["name"] == "transform")
        notes["dataset_full locations"] = (f"{transform.get('locations')} of "
                                           f"{expect['series_admitted']} admitted series")
    every = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    return {
        "correct": failed == 0 and wrong == 0,
        "attempted": len(calls), "failed": failed, "wrong": wrong, "problems": problems,
        "metrics": {k: m for k, m in every.items() if k not in REPORT_ONLY},
        "report": every, "notes": notes,
    }


PER_LAYER_UNITS = {
    "queries.build_s": "s", "queries.executions": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s", "codegen.bytecode_bytes": "bytes",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_s": "s", "sched.driver_gap_s": "s",
    "runner.cleanup_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.slot_util": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_disk_bytes": "bytes",
    "shuffle.spill_mem_bytes": "bytes",
    "sources.input_rows": "rows", "sources.input_bytes": "bytes",
    "streaming.batches": "count", "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.commit_s": "s", "streaming.state_rows": "rows", "streaming.idle_s": "s",
    "pipelines.forecast_s": "s", "pipelines.transform_s": "s", "pipelines.features_s": "s",
    "pipelines.coefficients_s": "s", "pipelines.simulate_s": "s", "pipelines.compare_s": "s",
    "pipelines.handoff_s": "s", "pipelines.series_admitted": "count",
    "pipelines.series_rejected": "count",
    "jvm.driver_gc_s": "s",
}


# The layer metrics of a traced run's JSON line (BENCHMARK.json lists the
# same): those that every registry workload exercises, so none reads a
# constant zero; the report shows the rest too. The COVID chain adds the
# pipelines.* metrics.
REPORTED = (
    "queries.build_s", "queries.executions", "plans.analysis_s", "plans.optimization_s",
    "plans.planning_s", "codegen.compiles", "codegen.compile_s", "codegen.bytecode_bytes",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_s", "sched.driver_gap_s",
    "runner.cleanup_s", "exec.run_s", "exec.cpu_s", "exec.slot_util",
    "shuffle.write_bytes", "shuffle.read_bytes", "sources.input_rows", "sources.input_bytes",
    "streaming.batches", "streaming.state_rows", "jvm.driver_gc_s",
)


def reported(layers, kind):
    names = REPORTED + (tuple(k for k in layers if k.startswith("pipelines.")) if kind == "covid" else ())
    return {k: layers[k] for k in names}


def per_layer(records, cfg, cores):
    """Per-layer metrics of a traced run: codegen over the cold pass (the
    first execution of every call), everything else as the mean of one
    warm pass."""
    recs = by_kind(records)
    layers = attribute(recs)
    calls = recs["call"]
    warm = [c for c in calls if c["phase"] == "warm"]
    cold = [c for c in calls if c["phase"] == "cold"]
    passes = recs["warm"][0]["passes"]
    v = dict.fromkeys(PER_LAYER_UNITS, 0.0)

    for c in cold:
        v["codegen.compiles"] += c["compiles"]
        v["codegen.compile_s"] += c["compile_ms"] / 1000
        v["codegen.bytecode_bytes"] += c["bytecode_bytes"]
    wall = 0.0
    for c in warm:
        lay = layers[c["tag"]]
        wall += c["wall_s"]
        v["queries.build_s"] += c.get("build_s", 0.0)
        v["runner.cleanup_s"] += c["cleanup_s"]
        v["jvm.driver_gc_s"] += c["driver_gc_ms"] / 1000
        v["queries.executions"] += len(lay["executions"])
        for e in lay["executions"]:
            v["plans.analysis_s"] += e["analysis_ms"] / 1000
            v["plans.optimization_s"] += e["optimization_ms"] / 1000
            v["plans.planning_s"] += e["planning_ms"] / 1000
        v["sched.jobs"] += len(lay["jobs"])
        v["sched.driver_gap_s"] += max(0.0, c["wall_s"] - union_ms(lay["jobs"]) / 1000)
        for s in lay["stages"]:
            v["sched.stages"] += 1
            v["sched.tasks"] += s["tasks"]
            v["sched.delay_s"] += s["delay_ms"] / 1000
            v["exec.run_s"] += s["run_ms"] / 1000
            v["exec.cpu_s"] += s["cpu_ns"] / 1e9
            v["exec.gc_s"] += s["gc_ms"] / 1000
            v["shuffle.write_bytes"] += s["shuffle_write"]
            v["shuffle.read_bytes"] += s["shuffle_read"]
            v["shuffle.fetch_wait_s"] += s["fetch_wait_ms"] / 1000
            v["shuffle.spill_disk_bytes"] += s["spill_disk"]
            v["shuffle.spill_mem_bytes"] += s["spill_mem"]
            v["sources.input_rows"] += s["input_rows"]
            v["sources.input_bytes"] += s["input_bytes"]
        if lay["batches"]:
            trigger = sum(b["trigger_ms"] for b in lay["batches"]) / 1000
            v["streaming.batches"] += len(lay["batches"])
            v["streaming.trigger_s"] += trigger
            v["streaming.add_batch_s"] += sum(b["add_batch_ms"] for b in lay["batches"]) / 1000
            v["streaming.commit_s"] += sum(b["commit_ms"] for b in lay["batches"]) / 1000
            v["streaming.state_rows"] += sum(b["state_rows"] for b in lay["batches"])
            v["streaming.idle_s"] += max(0.0, c["wall_s"] - trigger)
        if cfg["kind"] == "covid":
            v[f"pipelines.{c['name']}_s"] += c.get("stage_s", 0.0)
            v["pipelines.handoff_s"] += c.get("handoff_s", 0.0)
    for p in recs["pass_end"]:
        if p["phase"] == "warm":
            v["runner.cleanup_s"] += p["cleanup_s"]
    for k in v:
        if not k.startswith("codegen."):
            v[k] /= passes
    v["exec.slot_util"] = v["exec.run_s"] / (wall / passes * cores)
    if cfg["kind"] == "covid":
        check = next(c for c in calls if c["phase"] == "check" and c["name"] == "forecast")
        v["pipelines.series_admitted"] = check.get("series_admitted", 0)
        v["pipelines.series_rejected"] = check.get("series_total", 0) - check.get("series_admitted", 0)
    return {k: {"value": x, "unit": PER_LAYER_UNITS[k]} for k, x in v.items()
            if cfg["kind"] == "covid" or not k.startswith("pipelines.")}
