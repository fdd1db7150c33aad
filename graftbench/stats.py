"""Turns what one benchmark run recorded into its metrics.

The Scala side (graftbench.Main) writes every operation it attempted and,
in a traced run, every span. This module holds all the arithmetic on
them, so that it can be tested without a JVM.
"""

import json
import math
import os
import statistics

SCAN_TEMPLATES = ("prune", "stats", "full", "meta", "travel")
DML_KINDS = ("insert", "delete", "update", "merge")
LAYERS = ("core.meta", "core.expr", "spark", "spark.procedures", "exec", "jvm")
BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def declared(group):
    """[(name, unit)] of the metrics BENCHMARK.json declares in `group`."""
    with open(BENCHMARK_JSON) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[group]]


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). With nearest-rank percentiles the
    value at 0-based rank r of n sorted samples has n - 1 - r samples
    above it, so the answer is rank n - 11. When that rank is not above
    the median, the median (percentile 50) stands in.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return (0.0, 0.0, 0)
    r = n - 11
    if r <= (n - 1) // 2:
        return (median(xs), 50.0, n)
    return (xs[r], 100.0 * (r + 1) / n, n)


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    vs = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in vs) / len(vs)) if vs else 0.0


def failed(op):
    """An op fails when it raised or its result differs from the expected one."""
    return op["error"] is not None or op["expected"] != op["actual"]


def duration(x):
    return x["t1"] - x["t0"]


def self_times(spans):
    """Span id -> its duration minus the part its children cover.

    Children are clipped to the parent's interval and their union is
    taken, so overlapping children (jobs running side by side) count once.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["t0"], s["t1"]
        ivs = sorted((max(a, c["t0"]), min(b, c["t1"]))
                     for c in kids.get(s["id"], []))
        covered, end = 0.0, a
        for lo, hi in ivs:
            lo = max(lo, end)
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = max(0.0, (b - a) - covered)
    return out


def accounting(ops):
    """(attempted, failed, first failures) over every op, warm-up and
    control ops included.

    When a native twin that checks a graft op fails, the graft op gets a
    mismatched expected result and fails with it.
    """
    bad = [o for o in ops if failed(o)]
    return len(ops), len(bad), bad[:5]


def measured(ops, side="graft", traced=None):
    return [o for o in ops if o["side"] == side and not o["warmup"]
            and (traced is None or o["traced"] == traced)]


def kind_medians(ops):
    by = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(duration(o))
    return {k: median(v) for k, v in by.items()}


def mix(ops):
    """Op kind -> its count in one round, from the warm-up round.

    A run can stop mid-round, so the measured ops do not always hold the
    round's mix; the warm-up round always does.
    """
    counts = {}
    for o in ops:
        if o["side"] == "graft" and o["warmup"]:
            counts[o["kind"]] = counts.get(o["kind"], 0) + 1
    return counts


def latencies(raw):
    """Raw figures of the untraced ops: (ops/s, p50 ms, tail ms, control ms).

    Each kind of op is summarized by its own median (and tail) first, so
    that neither where a run stopped nor a single slow op moves a figure.
    ops/s is the throughput of the workload's mix at those medians; the
    p50 and tail are geometric means over the kinds; the control is the
    geometric mean of the control kinds' medians.
    """
    ops = measured(raw["ops"], traced=False)
    meds = kind_medians(ops)
    weights = mix(raw["ops"]) or {k: 1 for k in meds}
    round_ms = sum(w * meds[k] for k, w in weights.items() if k in meds)
    round_ops = sum(w for k, w in weights.items() if k in meds)
    tails = [tail([duration(o) for o in ops if o["kind"] == k])[0] for k in meds]
    control = geomean(kind_medians(measured(raw["ops"], side="control", traced=False)).values())
    return (1000.0 * round_ops / round_ms if round_ms > 0 else 0.0,
            geomean(meds.values()), geomean(tails), control)


def warm_setups(times):
    """The setup times after the first two. The first setups also load
    and compile graft's write path; the second still took 18-48% longer
    than the fifth."""
    return times[2:] or times


def end_to_end(raw):
    """The end-to-end metrics: graft's latency and throughput in units
    of the control measured beside it in the same run, set-up time and
    storage. The machine is shared, so a bare millisecond moves with the
    load of other tenants; the control moves with it.
    """
    ops_per_s, p50, tail_ms, control = latencies(raw)

    def per_control(x):
        return x / control if control > 0 else 0.0
    return {
        "setup_s": (median(warm_setups(raw["setup_s"])), "s"),
        "ops_per_s_vs_control": (ops_per_s * control / 1000.0, "ratio"),
        "op_p50_vs_control": (per_control(p50), "ratio"),
        "op_tail_vs_control": (per_control(tail_ms), "ratio"),
        "storage_amp": (raw["storage_amp"], "ratio"),
    }


def details(raw):
    """Per-kind latencies and the figures the end-to-end set leaves out."""
    ops = measured(raw["ops"], traced=False)
    attempted, nfailed, _ = accounting(raw["ops"])
    ops_per_s, p50, tail_ms, control = latencies(raw)
    out = {"error_rate": nfailed / attempted if attempted else 0.0,
           "rounds": raw["rounds"], "loop_s": raw["loop_s"],
           "setup_s_all": raw["setup_s"], "ops_per_s": ops_per_s,
           "op_p50_ms": p50, "op_tail_ms": tail_ms, "control_ms": control,
           "kinds": {}}
    for kind in sorted({o["kind"] for o in ops}):
        ds = [duration(o) for o in ops if o["kind"] == kind]
        v, p, n = tail(ds)
        out["kinds"][kind] = {"p50_ms": median(ds), "tail_ms": v,
                              "tail_pct": p, "n": n}
    pairs = native_pairs(raw["ops"], traced=False)
    if pairs:
        out["vs_native_twin"] = median([g / n for g, n, _ in pairs])
    return out


def native_pairs(ops, traced=None):
    """(graft ms, twin ms, kind) for each graft op followed by its twin."""
    by_id = {o["id"]: o for o in ops}
    out = []
    for o in measured(ops, side="control", traced=traced):
        g = by_id.get(o["id"] - 1)
        if g and g["side"] == "graft" and not failed(g) and o["error"] is None:
            out.append((duration(g), duration(o), o["kind"]))
    return out


def per_layer(raw):
    """The per-layer metrics, from the traced ops' spans of a traced run."""
    ops = raw["ops"]
    by_id = {o["id"]: o for o in ops}
    traced = measured(ops, traced=True)
    traced_ids = {o["id"] for o in traced}
    spans = [s for s in raw["spans"] if s["op"] in traced_ids]
    sid = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    n_ops = max(1, len(traced))

    def named(layer, name=None):
        return [s for s in spans if s["layer"] == layer
                and (name is None or s["name"] == name)]

    def attr(ss, key):
        return sum(s["attrs"].get(key, 0.0) for s in ss)

    def ratio(a, b):
        return a / b if b else 0.0

    def op_kind(s):
        return by_id[s["op"]]["kind"]

    m = {}
    plans = named("core.meta", "plan")
    commits = named("core.meta", "commit")
    m["core.meta.plan_ms"] = median([duration(s) for s in plans])
    m["core.meta.manifests_read_per_plan"] = ratio(attr(plans, "manifests_scanned"), len(plans))
    m["core.meta.manifests_max"] = max([s["attrs"].get("manifests_total", 0.0)
                                        for s in plans] + [0.0])
    m["core.meta.manifest_skip_ratio"] = (
        1.0 - ratio(attr(plans, "manifests_scanned"), attr(plans, "manifests_total"))
        if plans else 0.0)
    m["core.meta.commit_ms"] = median([duration(s) for s in commits])
    m["core.meta.commit_attempts"] = ratio(attr(commits, "attempts"), len(commits))
    m["core.meta.manifests_per_snapshot"] = ratio(attr(commits, "manifests"), len(commits))
    roots = [s for s in spans if s["parent"] == -1]
    written = [s for s in roots if "metadata_bytes" in s["attrs"]]
    written_commits = [c for c in commits if c["op"] in {s["op"] for s in written}]
    m["core.meta.metadata_bytes_per_commit"] = ratio(
        attr(written, "metadata_bytes"), len(written_commits))
    m["core.meta.refresh_ms"] = median([duration(s) for s in named("core.meta", "refresh")])
    m["core.expr.file_keep_ratio"] = ratio(attr(plans, "tasks"), attr(plans, "live_files"))

    graft_roots = [s for s in roots if by_id[s["op"]]["side"] == "graft"]
    m["spark.plan_ms"] = median([selfs[s["id"]] for s in named("spark", "plan")
                                 if by_id[s["op"]]["side"] == "graft"])
    scans = [s for s in graft_roots if "input_partitions" in s["attrs"]]
    m["spark.input_partitions"] = ratio(attr(scans, "input_partitions"), len(scans))
    in_spark = [s for s in plans if s["parent"] in sid and sid[s["parent"]]["layer"] == "spark"]
    m["spark.delete_files_per_task"] = ratio(attr(in_spark, "delete_files"), attr(in_spark, "tasks"))
    dml_commits = [c for c in commits if op_kind(c) in DML_KINDS]
    m["spark.write_files"] = ratio(attr(dml_commits, "added_files"), len(dml_commits))
    m["spark.write_bytes"] = ratio(attr(dml_commits, "added_bytes"), len(dml_commits))
    for kind in DML_KINDS:
        m["spark.dml_ms." + kind] = median([duration(s) for s in named("spark", "dml." + kind)])
    rewrites = named("spark.procedures", "dml.rewrite")
    rewrite_commits = [c for c in commits if op_kind(c) == "rewrite"]
    m["spark.procedures.rewrite_ms"] = median([duration(s) for s in rewrites])
    m["spark.procedures.bytes_rewritten"] = ratio(attr(rewrite_commits, "added_bytes"), len(rewrites))
    m["spark.procedures.delete_files_removed"] = ratio(
        attr(rewrite_commits, "removed_delete_files"), len(rewrites))

    graft_ops = {o["id"] for o in traced}
    jobs = [s for s in named("exec", "job") if s["op"] in graft_ops]
    m["exec.ms"] = ratio(sum(duration(s) for s in jobs), n_ops)
    m["exec.jobs"] = ratio(len(jobs), n_ops)
    for key in ("stages", "tasks", "input_bytes", "task_busy_ms",
                "scheduler_delay_ms", "shuffle_bytes", "spill_bytes"):
        m["exec." + key] = ratio(attr(jobs, key), n_ops)
    scan_ops = {s["op"] for s in scans}
    m["exec.rows_read_per_row_out"] = ratio(
        attr([j for j in jobs if j["op"] in scan_ops], "records_read"),
        attr(scans, "rows_out"))

    gcs = [s for s in named("jvm", "gc") if s["op"] in graft_ops]
    m["jvm.gc_ms"] = ratio(sum(duration(s) for s in gcs), n_ops)
    m["jvm.heap_after_gc_mb"] = max([s["attrs"].get("old_after_gc_mb", 0.0)
                                     for s in spans if s["layer"] == "jvm"] + [0.0])

    for layer in LAYERS:
        m[layer + ".self_ms"] = ratio(
            sum(selfs[s["id"]] for s in named(layer) if s["op"] in graft_ops), n_ops)
    m["client.self_ms"] = ratio(sum(selfs[s["id"]] for s in graft_roots), n_ops)

    pairs = native_pairs(ops, traced=False)
    for t in SCAN_TEMPLATES:
        m["control.native_ms." + t] = median([n for _, n, k in pairs if k == t])
    m["control.scan_vs_native"] = median([g / n for g, n, k in pairs if k in SCAN_TEMPLATES])
    m["control.ms"] = latencies(raw)[3]

    # the same op kinds, traced against untraced, within one run
    on = kind_medians(traced)
    off = kind_medians(measured(ops, traced=False))
    both = [on[k] / off[k] for k in on if off.get(k)]
    m["trace.overhead_pct"] = 100.0 * (geomean(both) - 1.0) if both else 0.0
    return m


def summarize(raw, trace):
    """(the result line, the full record) of one run.

    The result line has exactly the keys correct, attempted, failed and
    metrics; --trace 0 reports the end-to-end metrics and --trace 1 the
    per-layer ones.
    """
    attempted, nfailed, bad = accounting(raw["ops"])
    e2e = end_to_end(raw)
    layers = per_layer(raw) if trace else {}
    metrics = ({k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
               if not trace else
               {k: {"value": layers[k], "unit": u} for k, u in declared("per_layer")})
    result = {"correct": nfailed == 0 and attempted > 0, "attempted": attempted,
              "failed": nfailed, "metrics": metrics}
    record = dict(result, workload=raw["workload"], seed=raw["seed"], trace=trace,
                  details=details(raw), failures=bad,
                  end_to_end={k: v for k, (v, _) in e2e.items()}, per_layer=layers,
                  phases_s=raw["phases_s"],
                  ops=[[o["kind"], o["side"], o["warmup"], o["traced"],
                        round(duration(o), 3)] for o in raw["ops"]])
    return result, record

