#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the harness from the sources of this checkout (once
per source state), runs one workload in a fresh JVM and prints one JSON
line with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Everything it writes stays under perfbench/.work and
perfbench/target. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import layers, stats  # noqa: E402

WORKLOADS = ("boost_wide", "ingest_predict", "corpus_dedup")
WORK = os.path.join(HERE, ".work")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(WORK, "classpath.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
# fixtures kept per workload; older seeds are regenerated on demand
KEEP_FIXTURES = 4
MIB = float(1 << 20)

# the JVM flags sbt's forked run adds for Spark on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the library's own build compiles against
    (its `unmanagedBase`)."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        fail("build.sbt sets no unmanagedBase (the Spark jar directory)")
    return m.group(1)


def build(digest):
    """Compiles library + harness with sbt (offline) unless the classpath
    recorded for source state `digest` exists. Returns the classpath."""
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=spark_jars())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                timeout=BUILD_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail("build timed out; log in " + log)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        fail("build failed; log in " + log)
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(digest + "\n" + cp + "\n")
    return cp


def run_harness(cp, args, threads, fingerprints, out):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + HEAP, "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + tmp, "-cp", cp, "graft.perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--threads", str(threads), "--work", WORK,
            "--fingerprints", fingerprints, "--out", out]
    log = os.path.join(WORK, "logs", "%s-s%d-t%d.log"
                       % (args.workload, args.seed, args.trace))
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("harness timed out; log in " + log)
    if code != 0 or not os.path.exists(out):
        fail("harness exited with %d; log in %s" % (code, log))
    with open(out) as fh:
        return json.load(fh)


def evict_fixtures(workload):
    root = os.path.join(WORK, "fixtures")
    dirs = [os.path.join(root, d) for d in os.listdir(root)
            if d.startswith(workload + "-")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_FIXTURES:]:
        subprocess.run(["rm", "-rf", d], check=True)


def end_to_end(report):
    """The BENCHMARK.json end-to-end metrics of the timed passes, plus the
    per-workload detail lines they come from."""
    passes = report["timed"]
    ok = [p for p in passes if p["failed"] == 0]
    # a traced run's output checks count as well
    checked = passes + report.get("traced", [])
    attempted = sum(p["attempted"] for p in checked)
    failed = sum(p["failed"] for p in checked)
    v = [p["values"] for p in ok]
    corpus = report["workload"] == "corpus_dedup"
    if corpus:
        work = [x["docs_in"] / x["pipeline_s"] for x in v]
    else:
        work = [x["train_rows"] * x["rounds"] / x["train_s"] for x in v]
    pred = [x["predict_rows"] / t for x in v for t in x["predict_s"]]
    metrics = {
        "setup_s": (stats.median(report["setup_s"]), "s"),
        "work_per_s": (stats.median(work), "1/s"),
        "predict_rows_per_s": (stats.median(pred), "rows/s"),
        "final_loss": (stats.median(x["final_loss"] for x in v), "nats"),
        "cached_mb": (max(p["cached_bytes"] for p in passes) / MIB, "MiB"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
    }
    detail = {
        "setup_s": stats.summary(report["setup_s"]),
        "failed_ratio": failed / attempted,
        "cached_mb": metrics["cached_mb"][0],
        "predict_rows_per_s": stats.summary(pred),
    }
    if corpus:
        detail["corpus_docs_per_s"] = stats.summary(work)
        detail["pipeline_s"] = stats.summary(x["pipeline_s"] for x in v)
        detail["bigram_nll_per_token"] = metrics["final_loss"][0]
        detail["planted"] = {k: v[0][k] for k in (
            "planted_exact", "planted_near_above", "planted_minhash_only",
            "minhash_missed", "planted_low", "minhash_dups")} if v else {}
    else:
        ttt = [x["time_to_target_s"] for x in v
               if x.get("time_to_target_s") is not None]
        detail["train_rows_per_s"] = stats.summary(work)
        detail["train_s"] = stats.summary(x["train_s"] for x in v)
        detail["final_logloss"] = metrics["final_loss"][0]
        detail["time_to_target_s"] = stats.summary(ttt) if ttt else None
        detail["round_s"] = stats.summary(layers.round_durations(passes))
    return metrics, detail, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail("library sources not found under " + LIB_SRC)
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    cp = build(digest)
    # model and output fingerprints, per source state and kept across
    # fixture evictions
    fingerprints = os.path.join(WORK, "fingerprints", digest[:16])
    threads = max(1, min(4, os.cpu_count() or 1))
    out = os.path.join(WORK, "report-%s-s%d-t%d.json"
                       % (args.workload, args.seed, args.trace))
    report = run_harness(cp, args, threads, fingerprints, out)
    os.utime(report["fixture"])
    evict_fixtures(args.workload)

    metrics, detail, attempted, failed = end_to_end(report)
    for p in report["timed"]:
        for f in p["failures"]:
            print("perfbench: FAILED " + f)
    print("perfbench: %s seed=%d threads=%d shape=%s passes=%d"
          % (args.workload, args.seed, threads, report["shape"],
             len(report["timed"])))
    print("perfbench: detail " + json.dumps(detail, sort_keys=True))
    if args.trace:
        per_layer = layers.per_layer(report)
        print("perfbench: tracing overhead %.1f%% (median of traced vs "
              "interleaved untraced passes)"
              % (100 * per_layer["trace.overhead_share"][0]))
        for k in sorted(per_layer):
            print("perfbench: layer %s = %s %s" % (k, per_layer[k][0],
                                                    per_layer[k][1]))
        out_metrics = per_layer
    else:
        out_metrics = metrics
        for k, (val, unit) in metrics.items():
            print("perfbench: %s = %s %s" % (k, val, unit))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": val, "unit": unit}
                    for k, (val, unit) in out_metrics.items()},
    }))


if __name__ == "__main__":
    main()
