"""Per-layer figures from the spans of a traced run.

The JVM side (`Main.scala`, `Tracer.scala`) records four levels of span
and computes nothing:

  op    one benchmark op (a public graft call plus its consuming action)
  call  a call the harness makes into one layer (`ml`, `ops`, `queries`)
  exec  a SQL execution, or a job that ran outside any execution; its
        layer comes from its call site (`iterCheckpointKeyed at
        KCore.scala:74` -> graph, and a graftbridge materialization)
  job   a Spark job, with its stage, task and byte counters

A span's self time is its duration minus the part of it that deeper
spans cover. Every time here is wall-clock seconds per traced pass.
"""
import os
import re
import statistics

CALL_SITE = re.compile(r"^(\w+) at (\w+)\.scala:\d+")
CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint")
LEVELS = ("op", "call", "exec", "job")
CALL_LAYERS = ("ml", "graph", "dedup", "text", "ops")


def union(intervals):
    """Merged, sorted, non-overlapping (start, end) pairs."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            if e > out[-1][1]:
                out[-1] = (out[-1][0], e)
        else:
            out.append((s, e))
    return out


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def minus(intervals, cover):
    """Length of the union of `intervals` not covered by `cover`."""
    a, b = union(intervals), union(cover)
    total, j = 0, 0
    for s, e in a:
        cur = s
        while j < len(b) and b[j][1] <= cur:
            j += 1
        k = j
        while k < len(b) and b[k][0] < e:
            if b[k][0] > cur:
                total += b[k][0] - cur
            cur = max(cur, b[k][1])
            k += 1
        if cur < e:
            total += e - cur
    return total


def layer_index(src_root):
    """Scala file basename -> layer, from the library's source tree: the
    package directory under `graft/`, `graftbridge` for the Bridge, and
    `graft` for files at the package root."""
    index = {}
    for d, _, files in os.walk(src_root):
        rel = os.path.relpath(d, src_root).split(os.sep)
        for f in files:
            if not f.endswith(".scala"):
                continue
            if "graftbridge" in rel:
                layer = "graftbridge"
            elif rel[:1] == ["graft"]:
                layer = rel[1] if len(rel) > 1 else "graft"
            else:
                layer = rel[-1]
            index[f[:-len(".scala")]] = layer
    return index


def bridge_entries(src_root):
    """Names of the Bridge's public methods; a call site naming one of
    them is a materialization through the Bridge."""
    path = os.path.join(src_root, "org", "apache", "spark", "sql", "graftbridge", "Bridge.scala")
    with open(path) as f:
        return set(re.findall(r"^\s*def (\w+)", f.read(), re.M))


def classify(desc, index, bridge, own_files):
    """(layer, kind) of a call site. `kind` is "bridge" for a Bridge
    materialization, "checkpoint" for a raw checkpoint call outside the
    Bridge, else "action"."""
    m = CALL_SITE.match(desc or "")
    if not m:
        return "other", "action"
    method, file = m.groups()
    layer = "bench" if file in own_files else index.get(file, "other")
    if method in bridge:
        return layer, "bridge"
    if method in CHECKPOINT_METHODS:
        return layer, "checkpoint"
    return layer, "action"


def spans(run, index, bridge, own_files):
    """Flat span list of the traced passes, each a dict with level,
    layer, name, start/end (s), op, pass and, for jobs, the counters."""
    tr = run["trace"]
    ops = [r for r in run["op_runs"] if r["traced"]]
    windows = [(r["start"], r["end"], r["op"], r["pass"]) for r in ops]

    def owner(t):
        for s, e, op, p in windows:
            if s <= t <= e:
                return op, p
        return None, None

    out = []
    for s, e, op, p in windows:
        out.append(dict(level="op", layer="bench", name=op, start=s / 1e3, end=e / 1e3, op=op, pass_=p))
    for c in tr["calls"]:
        p, op, layer, name, s, e = c
        out.append(dict(level="call", layer=layer, name=f"{layer}.{name}", start=s / 1e3,
                        end=e / 1e3, op=op, pass_=p))
    jf = tr["job_fields"]
    jobs = [dict(zip(jf, j)) for j in tr["jobs"]]
    xf = tr["exec_fields"]
    for x in (dict(zip(xf, x)) for x in tr["execs"]):
        op, p = owner(x["start"])
        if op is None or x["end"] < 0:
            continue
        layer, kind = classify(x["desc"], index, bridge, own_files)
        out.append(dict(level="exec", layer=layer, kind=kind, name=x["desc"], start=x["start"] / 1e3,
                        end=x["end"] / 1e3, op=op, pass_=p, root=x["root"] == x["id"]))
    for j in jobs:
        op, p = owner(j["start"])
        if op is None or j["end"] < 0:
            continue
        if j["exec"] < 0:
            # a job outside any SQL execution (an RDD action) stands for
            # its own execution span
            layer, kind = classify(j["call_site"], index, bridge, own_files)
            out.append(dict(level="exec", layer=layer, kind=kind, name=j["call_site"],
                            start=j["start"] / 1e3, end=j["end"] / 1e3, op=op, pass_=p, root=True))
        out.append(dict(level="job", layer="spark", name=j["call_site"], start=j["start"] / 1e3,
                        end=j["end"] / 1e3, op=op, pass_=p, **{k: j[k] for k in jf[5:]}))
    return out


def self_times(sp):
    """Each span's duration minus what deeper spans of its op cover."""
    by_op = {}
    for s in sp:
        by_op.setdefault((s["pass_"], s["op"]), []).append(s)
    for group in by_op.values():
        for s in group:
            depth = LEVELS.index(s["level"])
            kids = [(c["start"], c["end"]) for c in group if LEVELS.index(c["level"]) > depth]
            s["self"] = minus([(s["start"], s["end"])], clip(kids, s["start"], s["end"]))
    return sp


def layer_table(sp):
    """{(level, layer): (count, total_s, self_s)} over all traced passes."""
    table = {}
    for s in sp:
        k = (s["level"], s["layer"])
        n, tot, slf = table.get(k, (0, 0.0, 0.0))
        table[k] = (n + 1, tot + s["end"] - s["start"], slf + s["self"])
    return table


def per_layer(run, sp, op_names):
    """Every per-layer metric, as a value per traced pass; per-op figures
    for the ops in `op_names`."""
    traced = sorted({r["pass"] for r in run["op_runs"] if r["traced"]})
    n = max(1, len(traced))
    cpus = run["cpus"]
    ops = [r for r in run["op_runs"] if r["traced"]]
    jobs = [s for s in sp if s["level"] == "job"]
    execs = [s for s in sp if s["level"] == "exec"]
    calls = [s for s in sp if s["level"] == "call"]
    iv = lambda xs: [(x["start"], x["end"]) for x in xs]
    job_iv = iv(jobs)
    m = {}

    job_s = gap_s = 0.0
    for r in ops:
        lo, hi = r["start"] / 1e3, r["end"] / 1e3
        covered = length(clip(job_iv, lo, hi))
        job_s += covered
        gap_s += max(0.0, r["s"] - covered)
    m["spark.jobs"] = len(jobs) / n
    m["spark.stages"] = sum(j["stages"] for j in jobs) / n
    m["spark.tasks"] = sum(j["tasks"] for j in jobs) / n
    m["spark.job_s"] = job_s / n
    m["spark.driver_gap_s"] = gap_s / n
    m["spark.task_run_s"] = sum(j["run_ms"] for j in jobs) / 1e3 / n
    m["spark.task_cpu_s"] = sum(j["cpu_ns"] for j in jobs) / 1e9 / n
    m["spark.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1e3 / n
    m["spark.core_busy"] = m["spark.task_run_s"] / (m["spark.job_s"] * cpus) if job_s else 0.0
    m["spark.shuffle_read_mb"] = sum(j["shuffle_read_b"] for j in jobs) / 2**20 / n
    m["spark.shuffle_write_mb"] = sum(j["shuffle_write_b"] for j in jobs) / 2**20 / n
    m["spark.spill_mb"] = sum(j["spill_b"] for j in jobs) / 2**20 / n

    mat = [x for x in execs if x["kind"] == "bridge"]
    m["graftbridge.materializations"] = len(mat) / n
    m["graftbridge.materialize_s"] = length(iv(mat)) / n
    m["graftbridge.direct_checkpoints"] = sum(x["kind"] == "checkpoint" for x in execs) / n

    for layer in CALL_LAYERS:
        mine = iv([x for x in execs if x["layer"] == layer]) + iv([c for c in calls if c["layer"] == layer])
        m[f"{layer}.call_s"] = length(mine) / n
        m[f"{layer}.driver_s"] = minus(mine, job_iv) / n
        m[f"{layer}.actions"] = sum(x["layer"] == layer and x["root"] for x in execs) / n
    outs = [r["outcome"] or {} for r in ops]
    m["ml.sweeps"] = sum(o.get("sweeps", 0) for o in outs) / n
    m["ml.irls_iters"] = sum(o.get("irls_iters", 0) for o in outs) / n

    m["queries.build_s"] = length(iv([c for c in calls if c["name"] == "queries.build"])) / n
    m["queries.action_s"] = length(iv([c for c in calls if c["name"] == "queries.action"])) / n
    m["queries.memo_hits"] = sum(r["memo_live"] for r in ops) / n

    for op in op_names:
        rs = [r for r in ops if r["op"] == op]
        k = max(1, len(rs))
        oj = [j for j in jobs if j["op"] == op]
        m[f"op.{op}.s"] = sum(r["s"] for r in rs) / k
        m[f"op.{op}.jobs"] = len(oj) / k
        m[f"op.{op}.driver_gap_s"] = sum(
            max(0.0, r["s"] - length(clip(iv([j for j in oj if j["pass_"] == r["pass"]]),
                                           r["start"] / 1e3, r["end"] / 1e3)))
            for r in rs) / k

    m["jvm.heap_peak_mb"] = run["heap_peak_mb"]
    m["spark.storage_used_mb"] = run["storage_peak_mb"]
    untraced = [p["s"] for p in run["passes"] if p["pass"] > 0 and not p["traced"]]
    traced_s = [p["s"] for p in run["passes"] if p["traced"]]
    m["trace.overhead"] = (statistics.median(traced_s) / statistics.median(untraced)
                           if untraced and traced_s else 0.0)
    return m


def format_table(table, n_passes):
    """Per-layer count / inclusive / self-time table, per traced pass."""
    lines = [f"{'level':<5} {'layer':<12} {'count':>8} {'total_s':>9} {'self_s':>9}"]
    for (level, layer), (cnt, tot, slf) in sorted(
            table.items(), key=lambda kv: (LEVELS.index(kv[0][0]), -kv[1][2])):
        lines.append(f"{level:<5} {layer:<12} {cnt / n_passes:>8.1f} "
                     f"{tot / n_passes:>9.3f} {slf / n_passes:>9.3f}")
    return "\n".join(lines)
