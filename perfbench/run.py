#!/usr/bin/env python3
"""The repository benchmark: one named workload, one seed, one JSON line.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
engine and this package from source with sbt (perfbench/build.sbt pulls
in the repository build), generates the registry corpus and caches both
under perfbench/.work; later runs reuse them until a source file changes.

Workloads (see BENCHMARK.json): registry_streams and registry_batch, each
a fixed sample of the query registry drawn from registry_times.json, run
in a seed-permuted order. With --trace 0 the last stdout line carries
every end-to-end metric; with --trace 1 it carries every per-layer metric
and the run also records spans. Every run checks the program's outputs,
records host interference, and writes its full artifact to
perfbench/.work/results/. Exit code 0 means a result line was printed.
"""
import argparse
import hashlib
import json
import math
import os
import random
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402

RUN_DEADLINE_S = 170          # the whole run, build excluded
BUILD_DEADLINE_S = 840
CORPUS_SF = 0.01
CORPUS_SEED = 7
SETUP_REPEATS = 2             # JVM set-ups per run, the run's own included
HEAP = "3g"
ENTRY_TIMEOUT_S = 60
# Registry samples, drawn from the full-pass times in registry_times.json:
# entries at evenly spaced quantiles of their full-pass time, so a sample
# keeps the spread of cheap and costly entries. registry_streams takes
# STREAM_PICKS stream entries plus the two that run the AIS chain;
# registry_batch takes one entry per BATCH_PER_PICK entries of each other
# module, at least one per module. Each sampled entry stands for the
# entries of its module it was drawn from (its weight), so the end-to-end
# metrics estimate the whole half of the registry, with each module's
# share of time. The sample sizes keep one run near a minute on 4 cores.
STREAM_PICKS = 6
STREAM_PINNED = ["s34_chained_flagship", "s8_ais_preprocess"]
BATCH_PER_PICK = 16
MODULES = ["RelationalOps", "TemporalJoinOps", "SpatialJoinOps", "FuzzyJoinOps",
           "AisOps", "WindowOps", "AnalyticsOps", "TextOps", "CurationOps",
           "DedupOps", "SimilarityOps", "MultimodalOps", "GraphOps", "MiningOps",
           "ScaleOps", "SurfaceOps", "SourceOps", "StreamingOps"]

WORKLOADS = ["registry_streams", "registry_batch"]
# (name, unit); peak_rss_mb stays in the artifact only: its run-to-run
# spread is wider than any allowed bound
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("query_geomean_ms", "ms")]
PER_LAYER = (
    [("source.latestOffset_ms", "ms"), ("source.getBatch_ms", "ms"),
     ("microbatch.queryPlanning_ms", "ms"), ("microbatch.walCommit_ms", "ms"),
     ("microbatch.commitOffsets_ms", "ms"), ("microbatch.addBatch_ms", "ms"),
     ("microbatch.rows_per_batch_p50", "count"), ("microbatch.batches", "count"),
     ("state.commit_ms", "ms"), ("state.load_ms", "ms"), ("state.update_ms", "ms"),
     ("state.instances", "count"), ("state.rows_updated", "count"),
     ("state.bytes", "bytes"),
     ("build.s", "s"), ("build.jobs", "count"), ("plan.s", "s"),
     ("exec.s", "s"), ("exec.jobs", "count"), ("exec.tasks", "count"),
     ("exec.task_s", "s"), ("exec.core_util", "ratio"),
     ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
     ("exec.failed_tasks", "count")]
    + [(f"{m}.{k}", u) for m in MODULES
       for k, u in (("wall_s", "s"), ("jobs", "count"), ("core_util", "ratio"))]
    + [("host.steal_s", "s"), ("host.other_s", "s"), ("jvm.gc_s", "s"),
       ("trace.overhead_pct", "%")])


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- helpers

def percentile(values, q):
    """q-th percentile (0-100) with linear interpolation between order
    statistics, the same definition as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values, weights):
    """Weighted geometric mean of name -> value."""
    return math.exp(sum(weights[n] * math.log(max(v, 1e-9)) for n, v in values.items())
                    / sum(weights[n] for n in values))


def sha_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def tree_files(*dirs, exts=(".scala", ".sbt", ".properties", ".java")):
    out = []
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = [s for s in subdirs if s not in ("target", ".work")]
            out += [os.path.join(base, f) for f in files if f.endswith(exts)]
    return out


def reset_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


# ------------------------------------------------------------------ build

def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the engine and this package unless the sources are unchanged
    since the last build; returns (classpath, jvm module options, listing)."""
    for need in ("build.sbt", "src/main/scala", "project/build.properties"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from a full checkout of the repository")
    stamp = sha_files(
        tree_files(os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                   HERE)
        + [os.path.join(ROOT, "build.sbt")])
    bdir = os.path.join(WORK, "build")
    meta = os.path.join(bdir, "build.json")
    if os.path.exists(meta):
        m = json.load(open(meta))
        if m.get("stamp") == stamp:
            return m
    reset_dir(bdir)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_DEADLINE_S)
    with open(os.path.join(bdir, "sbt.log"), "w") as f:
        f.write(p.stdout)
    cps = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        die(f"build failed (see {bdir}/sbt.log)")
    cp = cps[-1].strip()
    o = subprocess.run(["java", "-cp", cp, "graft.JvmOpens"], capture_output=True,
                       text=True, timeout=120)
    opens = [l for l in o.stdout.splitlines() if "--add-opens" in l]
    if o.returncode != 0 or not opens:
        die("could not read the JVM module options from graft.JvmOpens")
    m = {"stamp": stamp, "classpath": cp, "opens": opens[-1].split(),
         "build_s": time.time() - t0}
    listing = os.path.join(bdir, "listing.json")
    jvm_run(m, ["mode=list", f"out={listing}"], timeout=120)
    m["listing"] = json.load(open(listing))
    with open(meta, "w") as f:
        json.dump(m, f)
    return m


def corpus(sf):
    """The registry corpus, generated once per generator version."""
    tag = sha_files([os.path.join(HERE, "gen_tables.py")])
    d = os.path.join(WORK, "corpus", f"sf{sf}-seed{CORPUS_SEED}-{tag}")
    if not os.path.exists(os.path.join(d, "complete")):
        reset_dir(d)
        gen_tables.write(d, sf, CORPUS_SEED)
        open(os.path.join(d, "complete"), "w").close()
    return d


# -------------------------------------------------------------------- JVM

class Jvm:
    """The Spark JVM of one run; always stopped and reaped on exit."""

    def __init__(self, m, args, log):
        self.log = open(log, "w")
        cmd = (["java"] + m["opens"] +
               [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
                "-cp", m["classpath"], "graft.perfbench.Main"] + args)
        os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
        self.t0 = time.time()
        self.p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.log,
                                  text=True, cwd=WORK)

    def wait_ready(self, deadline):
        while True:
            left = deadline - time.time()
            if left <= 0 or not select.select([self.p.stdout], [], [], left)[0]:
                break
            line = self.p.stdout.readline()
            if not line:
                break
            if line.strip() == "PERFBENCH_READY":
                return time.time() - self.t0
        raise RuntimeError("the JVM did not become ready (see its log)")

    def finish(self, deadline):
        try:
            self.p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            self.stop()
        return self.p.returncode

    def stop(self):
        if self.p.poll() is None:
            self.p.kill()
            self.p.wait()
        self.log.close()


def jvm_run(m, args, timeout):
    """Run the JVM to completion for a mode that prints no ready line."""
    j = Jvm(m, args, os.path.join(WORK, "build", "list.log"))
    if j.finish(time.time() + timeout) != 0:
        die("JVM listing run failed")


# --------------------------------------------------------------- workloads

def quantile_pick(names, times, n):
    """n of names at evenly spaced quantiles of their times."""
    xs = sorted(names, key=lambda e: (times[e], e))
    return [xs[int((i + 0.5) * len(xs) / n)] for i in range(n)]


def full_pass_times():
    with open(os.path.join(HERE, "registry_times.json")) as f:
        return json.load(f)["entries"]


def registry_sample(workload, spec):
    """The fixed sample of a registry workload (see STREAM_PICKS) from the
    full-pass times, as entry -> weight: the number of registry entries it
    stands for."""
    t = {n: total_s(e) for n, e in spec.items()}
    if workload == "registry_streams":
        rest = [n for n, e in spec.items()
                if e["module"] == "StreamingOps" and n not in STREAM_PINNED]
        out = dict.fromkeys(quantile_pick(rest, t, STREAM_PICKS), len(rest) / STREAM_PICKS)
        out.update(dict.fromkeys(STREAM_PINNED, 1.0))
        return dict(sorted(out.items()))
    by_module = {}
    for n, e in spec.items():
        if e["module"] != "StreamingOps":
            by_module.setdefault(e["module"], []).append(n)
    out = {}
    for ns in by_module.values():
        k = max(1, round(len(ns) / BATCH_PER_PICK))
        out.update(dict.fromkeys(quantile_pick(ns, t, k), len(ns) / k))
    return dict(sorted(out.items()))


def sample_shares(weights, spec):
    """Share of build, plan and exec in the weighted full-pass time of a
    sample (entry -> weight), and that time in seconds."""
    tot = sum(w * total_s(spec[n]) for n, w in weights.items())
    out = {k: sum(w * spec[n][f"{k}_s"] for n, w in weights.items()) / tot
           for k in ("build", "plan", "exec")}
    out["seconds"] = tot
    return out


def run_registry(m, a, rdir, deadline):
    sf_dir = corpus(CORPUS_SF)
    spec = full_pass_times()
    weights = registry_sample(a.workload, spec)
    names = list(weights)
    if a.inject_throw:
        names.append("perfbench_throw_selftest")

    def stage():
        order = list(names)
        random.Random(a.seed).shuffle(order)
        with open(os.path.join(rdir, "entries.txt"), "w") as f:
            f.write("\n".join(order))
        return order
    t = time.time()
    order = stage()
    stage_s = time.time() - t
    probes = [setup_probe(m, a, rdir, deadline) for _ in range(SETUP_REPEATS - 1)]
    check_dir = os.path.join(rdir, "check")
    out = os.path.join(rdir, "jvm.json")
    j = Jvm(m, ["mode=registry", f"cores={a.cores}", f"work={rdir}",
                f"trace={a.trace}", f"sf={sf_dir}", f"entries={rdir}/entries.txt",
                f"check={check_dir}", f"out={out}", f"seconds={a.seconds}",
                f"timeout_s={ENTRY_TIMEOUT_S}"],
            os.path.join(rdir, "jvm.log"))
    try:
        ready_s = j.wait_ready(deadline)
        rc = j.finish(deadline)
    finally:
        j.stop()
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"JVM exited with {rc}")
    r = json.load(open(out))
    checks = check_registry(m, sf_dir, check_dir, [e for e in r["entries"]
                                                    if e["pass"] == 0 and e["status"] == "ok"])
    setup_s = statistics.median(probes + [ready_s]) + stage_s
    res = summarize_registry(a, r, setup_s, order, checks, weights)
    res["setup"] = {"jvm_ready_s": probes + [ready_s], "stage_s": stage_s}
    res["sample"] = {"weights": weights, "shares": sample_shares(weights, spec),
                     "full_shares": sample_shares(
                         {n: 1.0 for n in spec if (spec[n]["module"] == "StreamingOps")
                          == (a.workload == "registry_streams")}, spec)}
    return res


def total_s(e):
    return e["build_s"] + e["plan_s"] + e["exec_s"]


def setup_probe(m, a, rdir, deadline):
    """Seconds from launch to a ready session, in a JVM that is stopped as
    soon as it is ready."""
    j = Jvm(m, ["mode=setup", f"cores={a.cores}", f"work={rdir}"],
            os.path.join(rdir, "setup.log"))
    try:
        return j.wait_ready(deadline)
    finally:
        j.stop()


def check_registry(m, sf_dir, check_dir, entries):
    """Compare each entry's output with its DuckDB oracle under the rules of
    tools/check.py; entries without an oracle get a rows-only check."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check as rules
    oracles = m["listing"]["oracles"]
    fp = rules.corpus_fp(sf_dir)
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in rules.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    import pandas as pd
    out = {}
    for e in entries:
        name = e["name"]
        d = os.path.join(check_dir, name)
        files = sorted(os.path.join(d, f) for f in os.listdir(d)
                       if f.endswith(".parquet")) if os.path.isdir(d) else []
        if not files:
            out[name] = "MISSING-OUTPUT"
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        got = got[sorted(got.columns)]
        if name not in oracles:
            out[name] = f"ROWS-ONLY({len(got)})"
            continue
        key = hashlib.sha256(oracles[name].encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}.{key}.{fp}.pkl")
        try:
            if os.path.exists(path):
                exp = pd.read_pickle(path)
            else:
                exp = con.sql(oracles[name]).df()
                pd.to_pickle(exp, path + ".tmp")
                os.replace(path + ".tmp", path)
        except Exception as ex:  # an oracle that cannot run is a failed check
            out[name] = f"ORACLE-ERR: {ex}"
            continue
        out[name] = compare_frames(rules, got, exp[sorted(exp.columns)])
    return out


def compare_frames(rules, got, exp):
    """tools/check.py's compare: same columns, rows, dtype kinds, values."""
    import pandas as pd
    if list(got.columns) != list(exp.columns):
        return f"COLS got={list(got.columns)} exp={list(exp.columns)}"
    if len(got) != len(exp):
        return f"ROWS got={len(got)} exp={len(exp)}"

    def kind(d):
        k = d.kind if hasattr(d, "kind") else "O"
        return "i" if k in "iu" else k
    dt = [c for c in got.columns if kind(got[c].dtype) != kind(exp[c].dtype)]
    if dt:
        return "DTYPE " + ", ".join(dt[:3])
    for c in got.columns:
        g, e = got[c], exp[c]
        if str(g.dtype) == "object":
            bad = any(not rules.veq(x, y) for x, y in zip(g, e))
        else:
            bad = bool((~((g == e) | (g.isna() & e.isna()))).any())
        if bad:
            return f"DIFF {c}"
    return "PASS"


def summarize_registry(a, r, setup_s, order, checks, weights=None):
    """Failures, checks and end-to-end metrics of one registry run. Each
    entry's time is its median over the timed passes, counted with its
    sample weight (1 if it has none); an entry that failed or went missing
    in any pass is left out of every timing."""
    calls = r["entries"]
    passes = 1 + r["timed_passes"]
    seen = {}
    for e in calls:
        seen[e["name"]] = seen.get(e["name"], 0) + 1
    failures = {f"{e['name']} (pass {e['pass']})": e["status"]
                for e in calls if e["status"] != "ok"}
    failures.update({n: "missing" for n in order if seen.get(n, 0) < passes})
    failed_names = ({e["name"] for e in calls if e["status"] != "ok"}
                    | {n for n in order if seen.get(n, 0) < passes})
    ok = [e for e in calls if e["pass"] > 0 and e["name"] not in failed_names]
    per_entry = {}
    for e in ok:
        per_entry.setdefault(e["name"], []).append(total_s(e))
    times = {n: statistics.median(ts) for n, ts in per_entry.items()}
    w = {n: (weights or {}).get(n, 1.0) for n in times}
    bad = {n: c for n, c in checks.items()
           if not (c.startswith("PASS") or c.startswith("ROWS-ONLY"))}
    e2e = {"setup_s": setup_s, "peak_rss_mb": r["peak_rss_mb"]}
    if times:
        e2e.update(wall_s=sum(w[n] * t for n, t in times.items()),
                   query_geomean_ms=geomean({n: t * 1000 for n, t in times.items()}, w))
    missing_calls = sum(passes - seen.get(n, 0) for n in order if seen.get(n, 0) < passes)
    return dict(attempted=len(order) * passes,
                failed=sum(1 for e in calls if e["status"] != "ok") + missing_calls,
                failures=failures, correct=not bad and not failures, check=checks,
                check_failures=bad, e2e=e2e,
                layers=registry_layers(r, ok, passes - 1) if a.trace else {},
                interference=r["interference"], timed_wall_s=r["timed_wall_s"], raw=r)


def registry_layers(r, ok, passes):
    """Per-layer figures of one timed pass (totals over the timed passes
    divided by their number)."""
    tags = r.get("layers", {})

    def over(es, phases, key):
        return sum(tags.get(f"{e['name']}/{p}/{e['pass']}", {}).get(key, 0)
                   for e in es for p in phases) / passes
    cores = r["cores"]
    exec_s = sum(e["exec_s"] for e in ok) / passes
    x = {"build.s": sum(e["build_s"] for e in ok) / passes,
         "build.jobs": over(ok, ["build"], "jobs"),
         "plan.s": sum(e["plan_s"] for e in ok) / passes,
         "exec.s": exec_s,
         "exec.jobs": over(ok, ["exec"], "jobs"),
         "exec.tasks": over(ok, ["exec"], "tasks"),
         "exec.task_s": over(ok, ["exec"], "task_s"),
         "exec.shuffle_write_mb": over(ok, ["exec"], "shuffle_write_bytes") / 1e6,
         "exec.spill_mb": over(ok, ["exec"], "spill_bytes") / 1e6,
         "exec.failed_tasks": over(ok, ["exec"], "failed_tasks")}
    x["exec.core_util"] = x["exec.task_s"] / (exec_s * cores) if exec_s else 0.0
    phases = ["build", "plan", "exec"]
    for mod in MODULES:
        es = [e for e in ok if e["module"] == mod]
        wall = sum(total_s(e) for e in es) / passes
        x[f"{mod}.wall_s"] = wall
        x[f"{mod}.jobs"] = over(es, phases, "jobs")
        x[f"{mod}.core_util"] = over(es, phases, "task_s") / (wall * cores) if wall else 0.0
    x.update(stream_layers([e["stream"] for e in ok if "stream" in e], passes))
    return x


def stream_layers(streams, passes):
    """Micro-batch, source and state figures of one timed pass, from the
    progress reports of the stream entries' queries."""
    def total(k):
        return sum(s[k] for s in streams) / passes

    def phase(k):
        return sum(s["duration_ms"].get(k, 0) for s in streams) / passes
    rows = [n for s in streams for n in s["rows_per_batch"]]
    return {
        "source.latestOffset_ms": phase("latestOffset"),
        "source.getBatch_ms": phase("getBatch"),
        "microbatch.queryPlanning_ms": phase("queryPlanning"),
        "microbatch.walCommit_ms": phase("walCommit"),
        "microbatch.commitOffsets_ms": phase("commitOffsets"),
        "microbatch.addBatch_ms": phase("addBatch"),
        "microbatch.rows_per_batch_p50": percentile(rows, 50) if rows else 0,
        "microbatch.batches": total("batches"),
        "state.commit_ms": total("state_commit_ms"),
        "state.load_ms": total("state_load_ms"),
        "state.update_ms": total("state_update_ms"),
        "state.instances": total("state_instances"),
        "state.rows_updated": total("state_rows_updated"),
        "state.bytes": total("state_bytes"),
    }


# ------------------------------------------------------------------ result

def interference_flags(res, cores):
    i = res["interference"]
    wall = max(res["timed_wall_s"], 1e-9)
    flags = []
    if i.get("steal_s", 0) > 0.05 * wall * cores:
        flags.append(f"steal {i['steal_s']:.1f} cpu-s")
    if i.get("other_s", 0) > 0.25 * wall * cores:
        flags.append(f"other processes {i['other_s']:.1f} cpu-s")
    if i.get("load1_start", 0) > 1.5 * cores:
        flags.append(f"load average {i['load1_start']:.1f} at start")
    return flags


def metrics_line(a, res):
    if a.trace:
        x = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
        x.update(res.get("layers", {}))
        i = res["interference"]
        x.update({"host.steal_s": i["steal_s"], "host.other_s": i["other_s"],
                  "jvm.gc_s": i["gc_s"],
                  "trace.overhead_pct": 100.0 * res["raw"]["trace_overhead_ns"] / 1e9
                  / max(res["timed_wall_s"], 1e-9)})
        metrics = {n: {"value": float(x[n]), "unit": u} for n, u in PER_LAYER}
    else:
        missing = [n for n, _ in END_TO_END if n not in res["e2e"]]
        if missing:
            raise RuntimeError(f"no measurement for {missing}: every operation failed")
        metrics = {n: {"value": float(res["e2e"][n]), "unit": u} for n, u in END_TO_END}
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def main(argv=None):
    # a termination signal unwinds through the finally blocks that stop the
    # JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="minimum timed work: timed passes repeat until it is reached")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-throw", action="store_true",
                    help="add an entry that throws (self-test)")
    a = ap.parse_args(argv)
    a.cores = len(os.sched_getaffinity(0))   # Spark runs as local[nproc]
    m = build()
    t_start = time.time()
    deadline = t_start + RUN_DEADLINE_S
    rdir = os.path.join(WORK, "run", f"{a.workload}-{a.seed}-{a.trace}")
    reset_dir(rdir)
    try:
        res = run_registry(m, a, rdir, deadline)
    except Exception as e:
        die(f"{a.workload} run failed: {e}", code=1)
    line = metrics_line(a, res)
    flags = interference_flags(res, a.cores)
    artifact = dict(res, workload=a.workload, seed=a.seed, trace=a.trace, cores=a.cores,
                    seconds=a.seconds, contended=bool(flags), contention=flags,
                    error_rate=res["failed"] / max(1, res["attempted"]),
                    result=line, wall_s=time.time() - t_start)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f)
    for name, why in list(res["failures"].items())[:20]:
        print(f"failed: {name}: {why}")
    for name, why in list(res.get("check_failures", {}).items())[:20]:
        print(f"check failed: {name}: {why}")
    if flags:
        print("contended run: " + "; ".join(flags))
    print(f"artifact: {os.path.relpath(path, ROOT)}")
    shutil.copy(os.path.join(rdir, "jvm.log"), path[:-len(".json")] + ".log")
    shutil.rmtree(rdir, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
