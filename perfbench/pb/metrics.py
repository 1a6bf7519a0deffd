"""From the harness's raw samples to metrics.

Samples are call spans (workload -> pass -> call, wall clock in epoch ms)
and, in a traced run, the jobs, stages and query executions that the
listeners attributed to each call through the `perfbench.call` local
property.

Definitions:
- end-to-end metrics come from untraced runs (see `end_to_end`);
- per-layer `spark.*` metrics are per-pass totals over the pass's calls,
  reported as the median over the run's passes;
- per-layer module metrics (`queries.*`, `refstar.*`, `streaming.*`,
  `sources.*`) are medians per call of the named function;
- a call's self time is its wall time minus the union of its jobs'
  intervals: driver-side work with no job running. Summed per pass it is
  `spark.job_gap_s`. Job-busy union + self time = call wall holds by
  this definition; what is checked (`reconciliation`) is that the jobs
  laid over a call are the call's own.
"""
import math
import statistics

# A job's interval may reach past its call's span by at most this much
# before the call fails reconciliation: Spark stamps job events in whole
# milliseconds on the same wall clock as the call spans.
RECONCILE_TOLERANCE_MS = 5.0

STAR_GATES = [
    "qr01_dim_location", "qr02_dim_channel", "qr03_dim_customer",
    "qr04_dim_reseller", "qr05_dim_store", "qr06_dim_product",
    "qr07_dim_date", "qr08_fact_sales", "qr09_fact_product_target",
    "qr10_fact_src_target", "qv01_sales_performance",
    "qv02_customer_analysis", "qv03_target_vs_actual",
    "qv04_store58_performance", "qv05_store_bonus", "qv06_store58_dayofweek",
    "qv07_multistore_analysis"]
CORPUS_GATES = [
    "qd05_minhash_lsh",         # operators.Dedup
    "qs09_pq_recall",           # operators.Pq
    "qt18_bpe_encode",          # operators.Bpe, expressions.BpeMergeAll
    "qg04_pagerank_deep",       # operators.Graph
    "qp13_dedup_fusion_scale",  # operators.Dedup, operators.Similarity
]
STAGING = ["stg_channel", "stg_channelcategory", "stg_customer",
           "stg_product", "stg_productcategory", "stg_producttype",
           "stg_reseller", "stg_salesdetail", "stg_salesheader", "stg_store",
           "stg_targetdatachannel", "stg_targetdataproduct"]
WAVES = {
    "staging": STAGING,
    "dims": ["dim_date", "dim_channel", "dim_product", "dim_location"],
    "location_dims": ["dim_customer", "dim_reseller", "dim_store"],
    "facts": ["fact_salesactual", "fact_productsalestarget",
              "fact_srcsalestarget"],
}
TABLES = [t for ts in WAVES.values() for t in ts]

SPARK_LAYER = [
    ("spark.plan.analysis_s", "s"), ("spark.plan.optimization_s", "s"),
    ("spark.plan.planning_s", "s"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.stages_skipped", "count"),
    ("spark.tasks", "count"), ("spark.job_gap_s", "s"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.task_gc_s", "s"), ("spark.sched_delay_s", "s"),
    ("spark.cpu_util", "ratio"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.exchanges", "count"), ("spark.bnlj", "count"),
    ("spark.input_bytes", "bytes"), ("spark.scan_files", "count"),
    ("spark.output_bytes", "bytes"), ("spark.empty_task_ratio", "ratio"),
]
MODULE_LAYER = (
    [(f"refstar.Warehouse.step.{t}_s", "s") for t in TABLES]
    + [(f"refstar.Warehouse.wave.{w}_s", "s") for w in WAVES]
    + [("refstar.Warehouse.stored_bytes_per_input_byte", "ratio")]
    + [(f"queries.{g}_s", "s") for g in STAR_GATES]
    + [(f"queries.{g}_s", "s") for g in CORPUS_GATES]
    + [("streaming.SnapshotIngest.ingestBatch_s", "s"),
       ("streaming.SnapshotIngest.replay_s", "s"),
       ("sources.Snapshots.read_s", "s"),
       ("sources.Snapshots.compactIncremental_s", "s"),
       ("sources.Snapshots.versions", "count"),
       ("sources.Snapshots.files_per_version", "count"),
       ("sources.bytes_written_per_user_byte", "ratio")])
PER_LAYER = SPARK_LAYER + MODULE_LAYER

# The result line's end-to-end metrics, all in CPU time of the JVM or in
# memory. Wall times (`setup_wall_s`, `pass_s`, `build_s`, the per-call
# medians) are in the report line only: the host's CPU steal moves them by
# up to 2x between runs of the same code, which no bound that still
# catches a regression can absorb.
END_TO_END = [("setup_s", "s"), ("pass_cpu_s", "s"), ("heap_after_gc_mb", "MB")]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs, min_beyond=10):
    """Nearest-rank 90th percentile, or None when fewer than `min_beyond`
    samples lie beyond it (a p90 needs at least 100 samples)."""
    if not xs:
        return None
    s = sorted(xs)
    rank = math.ceil(0.9 * len(s))
    if len(s) - rank < min_beyond:
        return None
    return s[rank - 1]


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else 0.0


def merge(intervals, lo, hi):
    """Intervals clipped to [lo, hi], sorted and merged."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    out = []
    for a, b in clipped:
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def busy_and_gap(intervals, lo, hi):
    """(job-busy union, gap) of a call span [lo, hi], in ms: the gap, the
    call's self time, is the span minus the union."""
    busy = sum(b - a for a, b in merge(intervals, lo, hi))
    return busy, (hi - lo) - busy


def outside(intervals, lo, hi):
    """Job time attributed to the call but lying outside its span, ms."""
    return sum(max(0.0, lo - a) + max(0.0, b - hi) for a, b in intervals)


def call_seconds(c):
    return (c["end_ms"] - c["start_ms"]) / 1e3


def end_to_end(r, launch_ms):
    """The untraced metrics of one harness result, each as
    (value, unit, sample count)."""
    walls = [p["wall_s"] for p in r["passes"]]
    cpus = [p["cpu_s"] for p in r["passes"]]
    n = len(r["setup_repeated_s"])
    # JVM CPU from launch to the workload being built, plus the median
    # CPU of the repeated input generation
    setup = r["setup_once_cpu_s"] + median(r["setup_repeated_cpu_s"])
    setup_wall = ((r["session_ready_ms"] - launch_ms) / 1e3
                  + median(r["setup_repeated_s"]))
    return {
        "setup_s": (setup, "s", n),
        "setup_wall_s": (setup_wall, "s", n),
        "pass_s": (median(walls), "s", len(walls)),
        "pass_cpu_s": (median(cpus), "s", len(cpus)),
        "heap_after_gc_mb": (r["heap_after_gc_mb"], "MB", 1),
    }


def workload_report(r):
    """The workload's own end-to-end figures, by the names later claims
    use, each as (value, unit, sample count); a p90 is present only when
    ten samples lie beyond it."""
    by_kind = {}
    for c in r["calls"]:
        by_kind.setdefault(c["kind"], []).append(call_seconds(c))
    out = {}

    def add(name, xs):
        out[f"{name}_p50_s"] = (median(xs), "s", len(xs))
        v = p90(xs)
        if v is not None:
            out[f"{name}_p90_s"] = (v, "s", len(xs))

    if "build" in by_kind:
        xs = by_kind["build"]
        out["build_s"] = (median(xs), "s", len(xs))
        ex = r["extra"]
        out["stored_bytes_per_input_byte"] = (
            ex["stored_bytes"] / ex["input_bytes"], "ratio", 1)
    if "query" in by_kind:
        add("query", by_kind["query"])
    if "commit" in by_kind:
        add("commit", by_kind["commit"])
        add("read", by_kind["read"])
        xs = by_kind.get("compact", [])
        out["compact_s"] = (median(xs), "s", len(xs))
    return out


def per_call_layers(r):
    """Per timed call: its Spark counters, its job-busy union and its
    self time (the gap), and whether its jobs reconcile with its span."""
    jobs, stages, queries = {}, {}, {}
    for j in r["jobs"]:
        jobs.setdefault(j["call"], []).append(j)
    for s in r["stages"]:
        stages.setdefault(s["call"], []).append(s)
    for q in r["queries"]:
        queries.setdefault(q["call"], []).append(q)
    submitted = {s["id"] for s in r["stages"]}
    out = {}
    for c in r["calls"]:
        cid, lo, hi = c["id"], c["start_ms"], c["end_ms"]
        js = jobs.get(cid, [])
        iv = [(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else hi)
              for j in js]
        busy, gap = busy_and_gap(iv, lo, hi)
        st = stages.get(cid, [])
        qs = queries.get(cid, [])
        tot = lambda k: sum(s[k] for s in st)
        out[cid] = {
            "wall_ms": hi - lo, "busy_ms": busy, "gap_ms": gap,
            "outside_ms": outside(iv, lo, hi),
            "jobs": len(js),
            "stages": len(st),
            "stages_skipped": sum(1 for j in js for s in j["stages"]
                                  if s not in submitted),
            "tasks": tot("tasks"), "empty_tasks": tot("empty_tasks"),
            "run_ms": tot("run_ms"), "cpu_ns": tot("cpu_ns"),
            "gc_ms": tot("gc_ms"), "sched_ms": tot("sched_ms"),
            "shuffle_write": tot("shuffle_write"),
            "shuffle_read": tot("shuffle_read"), "spill": tot("spill"),
            "input": tot("input"), "output": tot("output"),
            "analysis_ms": sum(q["analysis_ms"] for q in qs),
            "optimization_ms": sum(q["optimization_ms"] for q in qs),
            "planning_ms": sum(q["planning_ms"] for q in qs),
            "exchanges": sum(q["exchanges"] for q in qs),
            "bnlj": sum(q["bnlj"] for q in qs),
            "scan_files": sum(q["scan_files"] for q in qs),
        }
    return out


def per_layer(r):
    """Every per-layer metric of a traced result; layers the workload
    does not touch read 0."""
    layers = per_call_layers(r)
    cores = r["cores"]
    passes = {}
    for c in r["calls"]:
        passes.setdefault(c["pass"], []).append(layers[c["id"]])
    walls = {p["pass"]: p["wall_s"] for p in r["passes"]}

    def per_pass(f):
        return median([f(ls, walls[p]) for p, ls in passes.items()])

    def total(k, scale=1.0):
        return per_pass(lambda ls, _: sum(l[k] for l in ls) * scale)

    m = {
        "spark.plan.analysis_s": total("analysis_ms", 1e-3),
        "spark.plan.optimization_s": total("optimization_ms", 1e-3),
        "spark.plan.planning_s": total("planning_ms", 1e-3),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.stages_skipped": total("stages_skipped"),
        "spark.tasks": total("tasks"),
        "spark.job_gap_s": total("gap_ms", 1e-3),
        "spark.task_run_s": total("run_ms", 1e-3),
        "spark.task_cpu_s": total("cpu_ns", 1e-9),
        "spark.task_gc_s": total("gc_ms", 1e-3),
        "spark.sched_delay_s": total("sched_ms", 1e-3),
        "spark.cpu_util": per_pass(
            lambda ls, wall: sum(l["cpu_ns"] for l in ls) / 1e9
            / (wall * cores)),
        "spark.shuffle_write_bytes": total("shuffle_write"),
        "spark.shuffle_read_bytes": total("shuffle_read"),
        "spark.spill_bytes": total("spill"),
        "spark.exchanges": total("exchanges"),
        "spark.bnlj": total("bnlj"),
        "spark.input_bytes": total("input"),
        "spark.scan_files": total("scan_files"),
        "spark.output_bytes": total("output"),
        "spark.empty_task_ratio": per_pass(
            lambda ls, _: sum(l["empty_tasks"] for l in ls)
            / max(1, sum(l["tasks"] for l in ls))),
    }
    by_name = {}
    for c in r["calls"]:
        by_name.setdefault(c["name"], []).append(call_seconds(c))
    for g in STAR_GATES + CORPUS_GATES:
        m[f"queries.{g}_s"] = median(by_name.get(g, []))
    for name, key in [("SnapshotIngest.ingestBatch", "streaming"),
                      ("SnapshotIngest.replay", "streaming"),
                      ("Snapshots.read", "sources"),
                      ("Snapshots.compactIncremental", "sources")]:
        m[f"{key}.{name}_s"] = median(by_name.get(name, []))
    ex = r.get("extra", {})
    m["sources.Snapshots.versions"] = median(ex.get("versions", []))
    fpv = ex.get("files_per_version", [])
    m["sources.Snapshots.files_per_version"] = (
        sum(fpv) / len(fpv) if fpv else 0.0)
    m["sources.bytes_written_per_user_byte"] = median(
        ex.get("bytes_written_per_user_byte", []))
    steps = {}
    for s in ex.get("steps", []):
        steps.setdefault(s["call"], {})[s["table"]] = s["seconds"]
    for t in TABLES:
        m[f"refstar.Warehouse.step.{t}_s"] = median(
            [st[t] for st in steps.values() if t in st])
    for w, ts in WAVES.items():
        # the slowest step of a wave sets the wave's wall time
        m[f"refstar.Warehouse.wave.{w}_s"] = median(
            [max(st.get(t, 0.0) for t in ts) for st in steps.values()])
    m["refstar.Warehouse.stored_bytes_per_input_byte"] = (
        ex["stored_bytes"] / ex["input_bytes"] if ex.get("input_bytes")
        else 0.0)
    return m


def reconciliation(r):
    """Checks that the listeners laid the right jobs over each call:
    no job attributed to a call lies outside the call's span by more than
    the tolerance, and every job of the timed loop is attributed (jobs of
    untimed spans carry their own mark). `failures` maps each call that
    fails either check to why; a traced run counts those calls failed.
    """
    layers = per_call_layers(r)
    failures = {cid: f"its jobs reach {l['outside_ms']:.0f} ms outside it"
                for cid, l in layers.items()
                if l["outside_ms"] > RECONCILE_TOLERANCE_MS}
    calls = sorted(r["calls"], key=lambda c: c["start_ms"])
    stray = [j for j in r["jobs"] if j["call"] == ""
             and r["loop_start_ms"] <= j["start_ms"] <= r["loop_end_ms"]]
    for j in stray:
        # the call it ran in, else the last one started before it
        before = [c for c in calls if c["start_ms"] <= j["start_ms"]]
        host = before[-1] if before else calls[0]
        failures.setdefault(host["id"], f"job {j['id']} ran in the loop "
                                        "attributed to no call")
    timed = {c["id"] for c in r["calls"]}
    return {
        "tolerance_ms": RECONCILE_TOLERANCE_MS,
        "calls": len(layers),
        "calls_outside_tolerance": sorted(
            cid for cid, l in layers.items()
            if l["outside_ms"] > RECONCILE_TOLERANCE_MS),
        "max_outside_ms": max((l["outside_ms"] for l in layers.values()),
                              default=0.0),
        "jobs_in_timed_calls": sum(1 for j in r["jobs"] if j["call"] in timed),
        "unattributed_jobs_in_loop": len(stray),
        "failures": failures,
        "self_s": {cid: l["gap_ms"] / 1e3 for cid, l in layers.items()},
    }
