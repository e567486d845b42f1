"""graft benchmark: one command, three workloads.

    python3 perfbench/run.py --workload fe_panel --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness from source (`perfbench/build.sbt`); later runs reuse the build
while no source file changed. A run generates its inputs from the seed
(`gen.py`), launches one JVM (`Main.scala`) that sets up, warms and then
measures passes for `--seconds`, checks every op outcome (`checks.py`)
and prints, as its last stdout line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics (`pass_s`, `setup_s`); the
line before it names them with units and adds `error_rate`, the sample
count and provenance. `--trace 1` reports the per-layer metrics that
`BENCHMARK.json` lists, from the spans of a traced run (`report.py`); the
line before it has every per-layer figure, per-op ones included, and
`--save DIR` also writes the spans, the per-layer table and the metrics
there.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = {
    # the Poisson and distributed-regime fits get smaller panels: on the
    # 1M-row panel the Poisson fit alone ran 39 s (9 IRLS iterations), and
    # the distributed regime costs ~0.7 s a sweep whatever the panel size
    "fe_panel": dict(workers=100000, firms=2000, pois_workers=10000, pois_firms=200,
                     pois_movers=0.3, small_workers=200, small_firms=2, small_movers=1.0),
    "iter_loops": dict(tpch_scale=0.5, documents=300),
    "prep_pipeline": dict(workers=20000, firms=500, documents=500),
}
XMX = "3g"
RUN_BUDGET_S = 170
# Spark on JDK 17 outside spark-submit needs these (the repo's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_files(root):
    files = glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(files + [os.path.join(HERE, "build.sbt")])


def digest(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile once per source state; returns the runtime classpath."""
    files = source_files(root)
    stamp = os.path.join(HERE, "target", "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    want = digest(files)
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read().strip(), want
    log("[perfbench] building library + harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    r = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit("[perfbench] build failed")
    with open(stamp, "w") as f:
        f.write(want)
    return open(cp_file).read().strip(), want


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work, data_dir, deadline):
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", *ADD_OPENS, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(os.cpu_count()), "--data", data_dir, "--out", work,
           "--local-dir", f"{work}/spark-local"]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    logf = os.path.join(work, "jvm.log")
    t0 = time.perf_counter()
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    wall = time.perf_counter() - t0
    out = os.path.join(work, "run.json")
    if p.returncode != 0 or not os.path.exists(out):
        with open(logf) as lf:
            log(lf.read()[-4000:])
        raise SystemExit(f"[perfbench] JVM exited with {p.returncode} after {wall:.1f}s, no result")
    with open(out) as f:
        return json.load(f)


def percentile_line(xs):
    """Median, plus the highest percentile with at least ten samples
    beyond it; with fewer than 20 samples that is the median itself."""
    xs = sorted(xs)
    n = len(xs)
    best = 50
    for p in (90, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    q = xs[min(n - 1, int(n * best / 100))]
    return f"n={n} p50={statistics.median(xs):.4f}" + (f" p{best:g}={q:.4f}" if best != 50 else "")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="directory for the traced run's spans and tables")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] run from the root of a graft checkout: no src/main/scala/graft here")
    cp, src_digest = build(root)
    start = time.monotonic()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir, exist_ok=True)
    try:
        t0 = time.perf_counter()
        facts = gen.generate(args.workload, args.seed, data_dir, WORKLOADS[args.workload])
        gen_s = time.perf_counter() - t0
        run = run_jvm(cp, args, work, data_dir, start + RUN_BUDGET_S - 15)
        attempted, failures = checks.check_runs(run, facts, data_dir)
        for p, op, why in failures:
            log(f"[perfbench] FAILED pass {p} {op}: {why}")
        measured = [p["s"] for p in run["passes"] if p["pass"] > 0 and not p["traced"]]
        setup_s = gen_s + run["ready_s"]
        prov = dict(workload=args.workload, seed=args.seed, cpus=run["cpus"], xmx=XMX,
                    spark=run["spark_version"], commit=git_commit(root), source_sha256=src_digest,
                    input_rows={k: v.get("rows", v) for k, v in facts.items()},
                    passes=len(measured), ops_per_pass=len(run["ops"]))
        summary = dict(
            setup_s=dict(value=setup_s, unit="s",
                         parts=dict(generate_s=gen_s, session_s=run["session_s"],
                                    warm_pass_s=run["warm_s"],
                                    jvm_other_s=run["ready_s"] - run["session_s"] - run["warm_s"])),
            pass_s=dict(value=statistics.median(measured) if measured else None, unit="s",
                        samples=percentile_line(measured) if measured else "n=0"),
            error_rate=dict(value=len(failures) / attempted, unit="ratio",
                            failed=len(failures), attempted=attempted),
            jvm_heap_peak_mb=run["heap_peak_mb"], spark_storage_used_mb=run["storage_peak_mb"],
            provenance=prov)
        if args.trace:
            index = report.layer_index(os.path.join(root, "src", "main", "scala"))
            bridge = report.bridge_entries(os.path.join(root, "src", "main", "scala"))
            own = {os.path.basename(f)[:-6] for f in glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                                                               recursive=True)}
            sp = report.self_times(report.spans(run, index, bridge, own))
            per_layer = report.per_layer(run, sp, run["ops"])
            traced_n = len({r["pass"] for r in run["op_runs"] if r["traced"]})
            table = report.format_table(report.layer_table(sp), max(1, traced_n))
            untraced = [p["s"] for p in run["passes"] if p["pass"] > 0 and not p["traced"]]
            overhead = (f"tracing overhead: traced pass median / untraced pass median = "
                        f"{per_layer['trace.overhead']:.3f} (base: {len(untraced)} untraced passes, "
                        f"median {statistics.median(untraced) if untraced else float('nan'):.3f} s)")
            log(table)
            log(overhead)
            if args.save:
                os.makedirs(args.save, exist_ok=True)
                stem = os.path.join(args.save, f"{args.workload}-seed{args.seed}")
                with open(stem + ".spans.json", "w") as f:
                    json.dump(sp, f)
                with open(stem + ".layers.txt", "w") as f:
                    f.write(f"{args.workload} seed {args.seed}, cpus {run['cpus']}, "
                            f"{traced_n} traced passes; seconds per traced pass\n")
                    f.write(table + "\n" + overhead + "\n")
                with open(stem + ".metrics.json", "w") as f:
                    json.dump(dict(per_layer=per_layer, summary=summary), f, indent=1, sort_keys=True)
            # the last line carries the gated per-layer metrics; per-op and
            # ungated-layer figures are on the line before it and in --save
            summary["per_layer"] = per_layer
            metrics = {k: dict(value=per_layer[k], unit=unit_of(k)) for k in gated_layer_metrics(root)}
        else:
            metrics = {"pass_s": dict(value=summary["pass_s"]["value"], unit="s"),
                       "setup_s": dict(value=setup_s, unit="s")}
        print(json.dumps(summary, sort_keys=True))
        print(json.dumps(dict(correct=not failures, attempted=attempted, failed=len(failures),
                              metrics=metrics)))
    finally:
        for name, ext in (("run.json", "json"), ("jvm.log", "log")):
            if os.path.exists(os.path.join(work, name)):
                shutil.copy(os.path.join(work, name),
                            os.path.join(HERE, ".work", f"last-{args.workload}.{ext}"))
        shutil.rmtree(work, ignore_errors=True)


def gated_layer_metrics(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def unit_of(name):
    tail = name.rsplit(".", 1)[-1]
    if tail == "s" or tail.endswith("_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    if name in ("spark.core_busy", "trace.overhead"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
