#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the harness from source
with sbt (offline) and freezes the classes; later runs reuse the frozen
copy until a source changes. Each run starts a fresh JVM at
`local[<cores>]`, runs the workload's calls one at a time from a single
client thread (closed loop), checks every call's output, and prints two
lines: a report with every metric's unit and sample count (plus, when
traced, the per-call reconciliation and the tracing overhead), then the
result object whose `metrics` are the end-to-end metrics (`--trace 0`)
or the per-layer metrics (`--trace 1`). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from pb import build, metrics, oracle  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
# harness options per workload; llm_data reads the corpus shipped with
# the benchmark
WORKLOADS = {
    "star_etl": {},
    "llm_data": {"data": os.path.join(HERE, "data", "sf0.01")},
}
# a run must end within 180 s once the build is done
RUN_LIMIT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host_facts(r=None):
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    facts = {"nproc": len(os.sched_getaffinity(0)), "loadavg": load}
    if r:
        facts.update(cores=r["cores"], java=r["java"], spark=r["spark"])
    return facts


def history_path(workload, trace):
    return os.path.join(STATE, "results", f"{workload}.trace{trace}.jsonl")


def untraced_history(workload, last=10):
    path = history_path(workload, 0)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()][-last:]


def tracing_overhead(workload, traced):
    """Traced minus untraced, per end-to-end metric, against the median of
    this checkout's latest untraced runs of the same workload."""
    hist = untraced_history(workload)
    if not hist:
        return None
    out = {}
    for name, (v, unit, _) in traced.items():
        xs = [h["metrics"][name] for h in hist if name in h["metrics"]]
        if xs:
            base = metrics.median(xs)
            out[name] = {"traced": v, "untraced": base, "delta": v - base,
                         "ratio": v / base if base else None, "unit": unit,
                         "untraced_runs": len(xs)}
    return out


def failures(r, oracles):
    """{call id: why} for every timed call that threw, failed its own
    check, or whose output differs from its gate's oracle; in a traced
    run also every call whose jobs do not reconcile with its span."""
    failed = {c["id"]: c["error"] or "check failed"
              for c in r["calls"] if not c["ok"]}
    for ch in r["checks"]:
        why = oracles.check(ch["gate"], ch["oracle"], ch["path"])
        if why:
            failed.setdefault(ch["call"], f"{ch['gate']}: {why}")
    if r.get("traced"):
        for cid, why in metrics.reconciliation(r)["failures"].items():
            failed.setdefault(cid, f"reconciliation: {why}")
    return failed


def spans(r, layers):
    """The run's spans, workload -> pass -> call -> job."""
    jobs = {}
    for j in r["jobs"]:
        jobs.setdefault(j["call"], []).append(j)
    passes = []
    for p in r["passes"]:
        calls = [dict(c, self_s=layers[c["id"]]["gap_ms"] / 1e3,
                      jobs=jobs.get(c["id"], []))
                 for c in r["calls"] if c["pass"] == p["pass"]]
        passes.append(dict(p, calls=calls))
    return {"workload": r["workload"], "seed": r["seed"],
            "start_ms": r["loop_start_ms"], "end_ms": r["loop_end_ms"],
            "passes": passes}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated runner still stops the JVM or sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources (build.sbt, src/main/scala) in {ROOT}")
    try:
        cp, build_s = build.frozen_classpath(ROOT, STATE)
    except build.BuildError as e:
        fail(str(e))
    t_start = time.time()
    others = build.wait_for_quiet_host()
    if others:
        fail(f"another Spark JVM is alive (pids {others}); refusing to time",
             code=3)

    spec = WORKLOADS[args.workload]
    work = os.path.join(STATE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_json = os.path.join(work, "result.json")
    hargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", work, "--out", out_json]
    if "data" in spec:
        hargs += ["--data", spec["data"]]
    cmd = build.java_cmd(cp, "perfbench.Main", hargs, props={
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "graft.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC"})
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "GRAFT_WAREHOUSE_DIR",
                        "GRAFT_WAREHOUSE_REBUILD")}
    env["GRAFT_FIXTURE_DIR"] = os.path.join(work, "fixtures")
    host = host_facts()
    log = os.path.join(STATE, f"{args.workload}.log")
    launch_ms = time.time() * 1e3
    with open(log, "w") as lf:
        try:
            rc = build.run_group(cmd, RUN_LIMIT_S - (time.time() - t_start),
                                 cwd=work, env=env, stdin=subprocess.DEVNULL,
                                 stdout=lf, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail(f"the harness did not finish in time; see {log}")
        except FileNotFoundError:
            fail("java is not on the PATH")
    if rc != 0 or not os.path.exists(out_json):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-20:]))
        fail(f"the harness exited with {rc}; see {log}")
    harness_s = time.time() - launch_ms / 1e3
    with open(out_json) as f:
        r = json.load(f)

    t_checks = time.time()
    failed = failures(r, oracle.Oracles(spec.get("data")))
    checks_s = time.time() - t_checks
    for cid, why in sorted(failed.items()):
        print(f"perfbench: call {cid} failed: {why}", file=sys.stderr)
    attempted = len(r["calls"])

    e2e = metrics.end_to_end(r, launch_ms)
    figures = dict(e2e)
    figures.update(metrics.workload_report(r))
    figures["failed_ratio"] = (len(failed) / attempted, "ratio", attempted)
    report = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "build_s": build_s,
              "harness_s": harness_s, "checks_s": checks_s,
              "host": host_facts(r) | {"loadavg_at_start": host["loadavg"]},
              "figures": {k: {"value": v, "unit": u, "n": n}
                          for k, (v, u, n) in figures.items()}}
    if args.trace:
        layers = metrics.per_layer(r)
        result_metrics = {n: {"value": layers[n], "unit": u}
                          for n, u in metrics.PER_LAYER}
        recon = metrics.reconciliation(r)
        report["reconciliation"] = {k: v for k, v in recon.items()
                                    if k not in ("self_s", "failures")}
        report["self_s"] = recon["self_s"]
        report["trace_overhead"] = tracing_overhead(args.workload, e2e)
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        with open(os.path.join(STATE, "traces",
                               f"{args.workload}-seed{args.seed}.json"),
                  "w") as f:
            json.dump(spans(r, metrics.per_call_layers(r)), f)
    else:
        result_metrics = {n: {"value": e2e[n][0], "unit": u}
                          for n, u in metrics.END_TO_END}

    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(history_path(args.workload, args.trace), "a") as f:
        f.write(json.dumps({
            "seed": args.seed, "time": time.time(), "host": report["host"],
            "failed": len(failed), "attempted": attempted,
            "metrics": {k: v["value"] for k, v in
                        (report["figures"] | result_metrics).items()},
        }) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(report))
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": result_metrics}))


if __name__ == "__main__":
    main()
