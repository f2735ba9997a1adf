"""Layer attribution of a traced run.

The harness records, from outside the library, a span around every public
call it makes, the time of each boosting round (from a TrainingCallback),
and every Spark job with its task counts (from a SparkListener). This
module builds the span tree

    pass -> public call -> phase (materialize, round r, finish) -> job

assigns each job to a layer by the call it ran under, its job group and
its call site, and reduces the tree to the per-layer metrics listed in
BENCHMARK.json. All times in a report are epoch milliseconds.
"""

import re

from . import stats

TRAIN_GROUP_PREFIX = "graft-train-"
MIB = float(1 << 20)

# public call -> layer; the corpus calls all belong to `ops`, and each is
# one `ops.<op>` entry (the bigram fit and its scoring share one)
OPS = {"clean": "clean", "minhash": "minhash", "linededup": "linededup",
       "bigram_fit": "bigram", "bigram_score": "bigram"}

_HIST = re.compile(r"^(tree)?[aA]ggregate at Trainer\.scala")


def layer_of(call, job):
    """Layer of a job started inside public call `call`."""
    if call == "train":
        if job["group"].startswith(TRAIN_GROUP_PREFIX):
            return "boost"
        return "materialize"
    if call == "predict":
        return "predict"
    if call in OPS:
        return "ops"
    return "harness"


def job_kind(layer, job):
    """Finer role of a job inside its layer, from its call site.

    materialize: `cuts` (Binner sample/sketch), `pack` (the bin+pack pass
    that fills the TrainBlock cache) or `scan` (row count and other
    scans). boost: `hist` (a histogram level), `eval` (an eval metric) or
    `margin` (anything else in the rounds' job group).
    """
    name = job["name"]
    if layer == "materialize":
        if "Binner.scala" in name:
            return "cuts"
        if name.startswith("foreachPartition at GraftBoost.scala"):
            return "pack"
        return "scan"
    if layer == "boost":
        if _HIST.match(name):
            return "hist"
        if "Metrics.scala" in name:
            return "eval"
        return "margin"
    return layer


def covered(intervals, lo=None, hi=None):
    """Total length of the union of (start, end) intervals, clipped to
    [lo, hi] when given."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    segs.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span(name, kind, start, end, **attrs):
    d = {"name": name, "kind": kind, "start": start, "end": end,
         "children": []}
    d.update(attrs)
    return d


def self_time(sp):
    """A span's duration minus the part of it its children cover."""
    return (sp["end"] - sp["start"]) - covered(
        [(c["start"], c["end"]) for c in sp["children"]],
        sp["start"], sp["end"])


def train_phases(call, marks, jobs):
    """Phases of one train call: materialize (up to the first job of the
    boosting job group), one span per round (ending at its callback
    mark), and finish (after the last round)."""
    boost = [j["start_ms"] for j in jobs
             if j["group"].startswith(TRAIN_GROUP_PREFIX)]
    first = min(boost) if boost else call["end_ms"]
    phases = [span("materialize", "phase", call["start_ms"], first)]
    prev = first
    for m in marks:
        phases.append(span("round %d" % m["round"], "phase", prev, m["t_ms"],
                           round=m["round"], cached_bytes=m.get(
                               "cached_bytes", 0)))
        prev = m["t_ms"]
    phases.append(span("finish", "phase", prev, call["end_ms"]))
    return phases


def pass_tree(p, jobs):
    """Span tree of one pass; every job lands in the innermost span whose
    interval holds its start."""
    root = span("pass", "pass", p["start_ms"], p["end_ms"])
    mine = [j for j in jobs if p["start_ms"] <= j["start_ms"] < p["end_ms"]]
    for i, c in enumerate(p["calls"]):
        cs = span(c["name"], "call", c["start_ms"], c["end_ms"])
        inside = [j for j in mine if c["start_ms"] <= j["start_ms"]
                  < c["end_ms"]]
        if c["name"] == "train":
            marks = [m for m in p["rounds"] if m["call"] == i]
            cs["children"] = train_phases(c, marks, inside)
        parents = cs["children"] or [cs]
        for j in inside:
            layer = layer_of(c["name"], j)
            js = span(j["name"], "job", j["start_ms"], j["end_ms"], job=j,
                      layer=layer, job_kind=job_kind(layer, j))
            host = next((ph for ph in parents
                         if ph["start"] <= j["start_ms"] < ph["end"]),
                        parents[-1])
            host["children"].append(js)
        root["children"].append(cs)
    return root


def walk(sp):
    yield sp
    for c in sp["children"]:
        yield from walk(c)


def round_durations(passes):
    """Seconds between consecutive round marks of each train call: rounds
    1 onwards (round 0's start is only known from the job trace)."""
    out = []
    for p in passes:
        by_call = {}
        for m in p["rounds"]:
            by_call.setdefault(m["call"], []).append(m["t_ms"])
        for ts in by_call.values():
            out += [(b - a) / 1e3 for a, b in zip(ts, ts[1:])]
    return out


def _sum(jobs, key):
    return sum(j["job"][key] for j in jobs)


def _wall(jobs):
    return covered([(j["start"], j["end"]) for j in jobs]) / 1e3


def pass_metrics(tree):
    """Per-layer metrics of one traced pass."""
    m = {}
    calls = tree["children"]
    jobs = [s for s in walk(tree) if s["kind"] == "job"]
    by_layer = {}
    for j in jobs:
        by_layer.setdefault(j["layer"], []).append(j)

    def layer(name, kind=None):
        return [j for j in by_layer.get(name, [])
                if kind is None or j["job_kind"] == kind]

    # parquet input as Spark's input metrics report it (the vectorized
    # reader counts only part of the file bytes; rows are exact). The
    # rounds count their cached-block reads as input too, so only the
    # layers that scan the files are summed.
    scans = layer("materialize") + layer("predict")
    m["data.input_mb"] = _sum(scans, "input_bytes") / MIB
    m["data.input_rows"] = _sum(scans, "input_records")
    m["data.count_s"] = _wall(layer("materialize", "scan"))

    trains = [c for c in calls if c["name"] == "train"]
    train_s = sum(c["end"] - c["start"] for c in trains) / 1e3
    mats = [ph for c in trains for ph in c["children"]
            if ph["name"] == "materialize"]
    rounds = [ph for c in trains for ph in c["children"]
              if ph["kind"] == "phase" and ph["name"].startswith("round")]
    mat_s = sum(ph["end"] - ph["start"] for ph in mats) / 1e3
    rounds_s = sum(ph["end"] - ph["start"] for ph in rounds) / 1e3
    mj = layer("materialize")
    m["materialize.s"] = mat_s
    m["materialize.jobs"] = len(mj)
    m["materialize.tasks"] = _sum(mj, "tasks")
    m["materialize.cuts_s"] = _wall(layer("materialize", "cuts"))
    m["materialize.pack_s"] = _wall(layer("materialize", "pack"))
    m["materialize.cached_mb"] = (rounds[0]["cached_bytes"] / MIB
                                  if rounds else 0.0)
    m["materialize.share_of_train"] = mat_s / train_s if train_s else 0.0

    per_round = []
    for r in rounds:
        rj = [c for c in r["children"] if c["kind"] == "job"]
        kinds = {k: [j for j in rj if j["job_kind"] == k]
                 for k in ("hist", "eval", "margin")}
        per_round.append({
            "s": (r["end"] - r["start"]) / 1e3,
            "jobs": len(rj),
            "tasks": _sum(rj, "tasks"),
            "hist_s": _wall(kinds["hist"]),
            "eval_s": _wall(kinds["eval"]),
            "margin_s": _wall(kinds["margin"]),
            "result_mb": _sum(rj, "result_bytes") / MIB,
            "driver_s": self_time(r) / 1e3,
            "cpu_s": _sum(rj, "cpu_ns") / 1e9,
        })

    def med(key):
        return stats.median(x[key] for x in per_round) if per_round else 0.0

    durations = [x["s"] for x in per_round]
    t = stats.tail(durations)
    m["boost.round_first_s"] = durations[0] if durations else 0.0
    m["boost.round_median_s"] = med("s")
    m["boost.round_tail_s"] = t[1] if t else 0.0
    m["boost.round_n"] = len(per_round)
    m["boost.jobs_per_round"] = med("jobs")
    m["boost.tasks_per_round"] = med("tasks")
    m["boost.hist_s_per_round"] = med("hist_s")
    m["boost.result_mb_per_round"] = med("result_mb")
    m["boost.driver_s_per_round"] = med("driver_s")
    m["boost.margin_s_per_round"] = med("margin_s")
    m["boost.eval_s_per_round"] = med("eval_s")
    m["boost.executor_cpu_s_per_round"] = med("cpu_s")
    m["boost.share_of_train"] = rounds_s / train_s if train_s else 0.0
    m["boost.group_jobs"] = len(layer("boost"))

    # per predict call (a pass makes several)
    pj = layer("predict")
    preds = [c for c in calls if c["name"] == "predict"]
    k = max(1, len(preds))
    m["predict.s"] = sum(c["end"] - c["start"] for c in preds) / 1e3 / k
    m["predict.tasks"] = _sum(pj, "tasks") / k
    m["predict.executor_cpu_s"] = _sum(pj, "cpu_ns") / 1e9 / k
    m["predict.input_mb"] = _sum(pj, "input_bytes") / MIB / k

    for op in sorted(set(OPS.values())):
        cs = [c for c in calls if OPS.get(c["name"]) == op]
        oj = [s for c in cs for s in walk(c) if s["kind"] == "job"]
        m["ops.%s_s" % op] = sum(c["end"] - c["start"] for c in cs) / 1e3
        m["ops.%s.jobs" % op] = len(oj)
        m["ops.%s.shuffle_mb" % op] = _sum(oj, "shuffle_write_bytes") / MIB
        m["ops.%s.spill_mb" % op] = _sum(oj, "spill_bytes") / MIB

    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = _sum(jobs, "stages")
    m["spark.tasks"] = _sum(jobs, "tasks")
    m["spark.driver_gap_s"] = self_time_deep(tree) / 1e3
    m["spark.gc_s"] = _sum(jobs, "gc_ms") / 1e3
    m["spark.shuffle_write_mb"] = _sum(jobs, "shuffle_write_bytes") / MIB
    m["spark.spill_mb"] = _sum(jobs, "spill_bytes") / MIB
    return m


def self_time_deep(tree):
    """Time of a span not covered by any Spark job under it: the driver
    gap."""
    jobs = [(s["start"], s["end"]) for s in walk(tree) if s["kind"] == "job"]
    return (tree["end"] - tree["start"]) - covered(
        jobs, tree["start"], tree["end"])


# every per-layer metric and its unit; BENCHMARK.json lists the same
UNITS = {
    "data.input_mb": "MiB", "data.input_rows": "count", "data.count_s": "s",
    "materialize.s": "s", "materialize.jobs": "count",
    "materialize.tasks": "count", "materialize.cuts_s": "s",
    "materialize.pack_s": "s", "materialize.cached_mb": "MiB",
    "materialize.share_of_train": "ratio",
    "boost.round_first_s": "s", "boost.round_median_s": "s",
    "boost.round_tail_s": "s", "boost.round_n": "count",
    "boost.jobs_per_round": "count", "boost.tasks_per_round": "count",
    "boost.hist_s_per_round": "s", "boost.result_mb_per_round": "MiB",
    "boost.driver_s_per_round": "s", "boost.margin_s_per_round": "s",
    "boost.eval_s_per_round": "s", "boost.executor_cpu_s_per_round": "s",
    "boost.share_of_train": "ratio", "boost.group_jobs": "count",
    "boost.time_to_target_s": "s", "boost.scaling_eff": "ratio",
    "predict.s": "s", "predict.tasks": "count",
    "predict.executor_cpu_s": "s", "predict.input_mb": "MiB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MiB", "spark.spill_mb": "MiB",
    "jvm.peak_heap_mb": "MiB", "trace.overhead_share": "ratio",
}
for _op in sorted(set(OPS.values())):
    UNITS.update({"ops.%s_s" % _op: "s", "ops.%s.jobs" % _op: "count",
                  "ops.%s.shuffle_mb" % _op: "MiB",
                  "ops.%s.spill_mb" % _op: "MiB"})


def pass_seconds(passes):
    return [(p["end_ms"] - p["start_ms"]) / 1e3 for p in passes]


def per_layer(report):
    """Per-layer metrics of a traced report: the median over traced
    passes of each pass's metrics, plus run-level figures."""
    traced = [p for p in report["traced"] if p["failed"] == 0] or \
        report["traced"]
    per_pass = [pass_metrics(pass_tree(p, report["jobs"])) for p in traced]
    out = {k: stats.median(x[k] for x in per_pass) for k in per_pass[0]}

    ttt = [p["values"].get("time_to_target_s") for p in traced]
    ttt = [x for x in ttt if x is not None]
    out["boost.time_to_target_s"] = stats.median(ttt) if ttt else 0.0
    out["boost.scaling_eff"] = scaling_eff(report)
    out["jvm.peak_heap_mb"] = report["peak_heap_bytes"] / MIB
    # the timed passes of a traced run alternate with the traced ones;
    # the first, the first full-size pass of the JVM, is left out
    untraced = stats.median(pass_seconds(report["timed"][1:] or
                                         report["timed"]))
    out["trace.overhead_share"] = (
        stats.median(pass_seconds(report["traced"])) / untraced - 1.0)
    return {k: (out[k], unit) for k, unit in UNITS.items()}


def scaling_eff(report):
    """round_median(1 worker) / (n x round_median(n workers)), over the
    rounds the single-worker baseline ran (0 when there is none)."""
    one = report.get("single_worker")
    if not one:
        return 0.0
    k = len(one["rounds"])
    med1 = stats.median(round_durations([one]))
    n_rounds = []
    for p in report["traced"]:
        trimmed = dict(p, rounds=[m for m in p["rounds"] if m["round"] < k])
        n_rounds += round_durations([trimmed])
    medn = stats.median(n_rounds)
    if not med1 or not medn:
        return 0.0
    return med1 / (report["threads"] * medn)
