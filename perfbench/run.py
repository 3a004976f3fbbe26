#!/usr/bin/env python3
"""The repository benchmark: runs one workload of the engine in one JVM,
checks its outputs and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload all ...   # every workload in turn

Workloads, run posture and output goldens live in perfbench/workloads.json
and perfbench/goldens.json. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics; with --trace 1 the run is repeated with
the layer listeners attached and the metrics are the per-layer ones, plus
the tracing overhead (traced minus untraced) of every end-to-end metric;
both JVMs of a traced run measure half the window.
A human-readable report goes to standard error.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import fixtures  # noqa: E402
import metrics  # noqa: E402

# A run must end within 180 s; the COVID chain, not a BENCHMARK.json
# workload, sets its own limit in workloads.json.
DEADLINE_S = 178


def load(name):
    with open(os.path.join(BENCH, name)) as fh:
        return json.load(fh)


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def spec_lines(workload, cfg, posture, args, run_dir, records, trace):
    n = cores()
    # Both JVMs of a traced run, untraced and traced, measure half the
    # window, so the pair ends well inside a run's deadline; the overhead
    # compares the two at that posture.
    spec = {
        "workload": workload, "kind": cfg["kind"], "seed": args.seed,
        "seconds": args.seconds / 2 if args.trace else args.seconds, "trace": int(trace),
        "setups": posture["setups"],
        "master": f"local[{n}]", "records": records,
    }
    for k, v in posture["confs"].items():
        spec["conf." + k] = str(v).replace("{cores}", str(n))
    spec["conf.spark.local.dir"] = os.path.join(run_dir, "local")
    spec["conf.spark.sql.warehouse.dir"] = os.path.join(run_dir, "warehouse")
    if cfg["kind"] == "registry":
        spec["data_dir"] = os.path.join(BENCH, "data", cfg["data"])
        spec["calls"] = ",".join(cfg["rows"])
    else:
        spec["fixture_dir"] = os.path.join(run_dir, "fixtures")
        spec["work_dir"] = os.path.join(run_dir, "work")
        spec["horizon"] = cfg["horizon"]
        spec["min_rows"] = cfg["min_rows"]
        for k, v in cfg["lstm"].items():
            spec["lstm." + k] = v
    # java.util.Properties escaping: backslashes only matter on Windows paths
    return [f"{k}={str(v).replace(chr(92), chr(92) * 2)}" for k, v in spec.items()]


def run_jvm(workload, cfg, posture, args, classpath, run_dir, trace, deadline):
    """One JVM run; returns its records, or raises RuntimeError."""
    tag = "traced" if trace else "untraced"
    records = os.path.join(run_dir, f"records_{tag}.jsonl")
    spec = os.path.join(run_dir, f"spec_{tag}.properties")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(spec, "w") as fh:
        fh.write("\n".join(spec_lines(workload, cfg, posture, args, run_dir, records, trace)) + "\n")
    heap = posture["heap"]
    jvm = posture["jvm_options"] + cfg.get("jvm_options", [])
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}"] + jvm + [
        f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in posture["add_opens"]] + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", classpath, "perfbench.Main", spec]
    log_path = os.path.join(run_dir, f"jvm_{tag}.log")
    with open(log_path, "w") as log:
        # Spark's scratch space must stay in the run directory.
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"{tag} JVM passed the run's deadline")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"{tag} JVM exited with {rc}:\n{tail}")
    with open(records) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def cpu_times():
    """The host's aggregate CPU times (Linux /proc/stat), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def record_goldens(workload, cfg, records, goldens):
    got = {c["name"]: {"rows": c["rows"], "hash": c["hash"]}
           for c in records if c["kind"] == "call" and c["phase"] == "check" and "hash" in c}
    if set(got) != set(cfg["rows"]):
        raise RuntimeError(f"cannot record goldens: checks missing for {set(cfg['rows']) - set(got)}")
    goldens.setdefault(cfg["data"], {}).update(got)
    with open(os.path.join(BENCH, "goldens.json"), "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"[perfbench] recorded {len(got)} goldens for {workload}", file=sys.stderr)


def run_workload(workload, args, classpath, cfgs, posture, goldens):
    cfg = cfgs[workload]
    deadline = time.monotonic() + cfg.get("deadline_s", DEADLINE_S)
    run_dir = os.path.join(build.OUT, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpu0 = cpu_times()
    try:
        expect = {}
        if cfg["kind"] == "registry":
            if args.record:
                base = run_jvm(workload, cfg, posture, args, classpath, run_dir, False, deadline)
                record_goldens(workload, cfg, base, goldens)
            expect = goldens.get(cfg["data"], {})
            missing = [r for r in cfg["rows"] if r not in expect]
            if missing:
                raise RuntimeError(f"no golden for rows {missing}")
        else:
            loc, days = (int(x) for x in cfg["size"].lower().split("x"))
            expect = fixtures.generate(os.path.join(run_dir, "fixtures"), args.seed, loc,
                                       days, cfg["history"], cfg["min_rows"])
        base = run_jvm(workload, cfg, posture, args, classpath, run_dir, False, deadline)
        result = metrics.end_to_end(base, cfg, expect)
        if args.trace:
            traced = run_jvm(workload, cfg, posture, args, classpath, run_dir, True, deadline)
            tr = metrics.end_to_end(traced, cfg, expect)
            layers = metrics.per_layer(traced, cfg, cores())
            overhead = {"overhead." + name: {"value": m["value"] - result["metrics"][name]["value"],
                                             "unit": m["unit"]}
                        for name, m in tr["metrics"].items()}
            result = {"correct": result["correct"] and tr["correct"],
                      "attempted": result["attempted"] + tr["attempted"],
                      "failed": result["failed"] + tr["failed"],
                      "wrong": result["wrong"] + tr["wrong"],
                      "problems": result["problems"] + tr["problems"],
                      "notes": tr["notes"], "report": {**layers, **overhead},
                      "metrics": {**metrics.reported(layers, cfg["kind"]), **overhead}}
        cpu1 = cpu_times()
        if cpu0 and cpu1 and len(cpu0) > 7:
            # Steal: time the hypervisor ran other guests while this host's
            # CPUs had work; it slows every timed number of the run alike.
            d = [b - a for a, b in zip(cpu0, cpu1)]
            busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
            result["notes"]["busy CPU time stolen"] = f"{d[7] / max(1, busy):.1%}"
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(workload, result, stable):
    err = sys.stderr
    att = result["attempted"]
    print(f"== {workload}: attempted {att}, failed_frac {result['failed'] / att:.4f}, "
          f"wrong_frac {result['wrong'] / att:.4f}, correct {result['correct']}", file=err)
    for p in result["problems"][:20]:
        print(f"   problem: {p}", file=err)
    for name, m in result.get("report", result["metrics"]).items():
        mark = ""
        if stable is not None and m["unit"] in ("count", "bytes", "rows"):
            mark = "  [exact]" if name in stable else "  [varies]"
        print(f"   {name:28s} {m['value']:>16.6g} {m['unit']}{mark}", file=err)
    for key, val in result.get("notes", {}).items():
        print(f"   ({key}: {val})", file=err)


def main():
    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the registry rows' check results to goldens.json "
                         "(only after graft.Verify and dev/check.py pass for them)")
    args = ap.parse_args()
    # A terminated run still unwinds, so the JVM it started is killed too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        cfg = load("workloads.json")
        goldens = load("goldens.json")
        classpath = build.build()
    except (build.BuildError, OSError, ValueError) as e:
        sys.exit(f"[perfbench] cannot build: {e}")
    cfgs, posture = cfg["workloads"], cfg["posture"]
    names = list(cfgs) if args.workload == "all" else [args.workload]
    if any(n not in cfgs for n in names):
        sys.exit(f"[perfbench] unknown workload {args.workload}; have {', '.join(cfgs)}")
    results = {}
    for name in names:
        try:
            res = run_workload(name, args, classpath, cfgs, posture, goldens)
        except RuntimeError as e:
            sys.exit(f"[perfbench] {name}: {e}")
        stable = cfgs[name].get("exact_counters") if args.trace else None
        report(name, res, stable)
        results[name] = res
    out = {k: results[names[0]][k] for k in ("correct", "attempted", "failed", "metrics")}
    if len(names) > 1:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{n}.{k}": v for n, r in results.items()
                           for k, v in r["metrics"].items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
