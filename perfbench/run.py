#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload registry_sf01 --seed 1 --seconds 18 --trace 0

Run from the root of a graft checkout. The first run builds the library and
the benchmark from source with sbt and generates the input tables with
`graft.dev.GenSf`; later runs in the same checkout reuse both. The last line
of standard output is one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
XMX = "4g"
WARMUP = "q1_pricing_summary"
# what a run spends besides its timed passes: JVM start and set-up, the
# untimed passes, the last whole pass past --seconds and the checks; the
# runner must still end well inside the 180 s a run may take once built
RUNNER_ALLOWANCE_S = 135

with open(os.path.join(HERE, "workloads.json")) as f:
    WORKLOADS = json.load(f)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)
UNITS = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, cwd, timeout, env=None, stdout=None):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT
                         if stdout else None, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"timed out after {timeout:.0f} s: {cmd[0]} ... {cmd[-1]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- build

def source_files():
    """Every file the build reads, from the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "src", "test", "scala", "graft", "dev", "GenSf.scala")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build():
    """Compile the library and the benchmark; returns the runtime classpath."""
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, f)):
            raise BenchError(f"not a graft checkout: {f} is missing under {ROOT}")
    os.makedirs(STATE, exist_ok=True)
    stamp, cp_file = os.path.join(STATE, "build.stamp"), os.path.join(STATE, "classpath.txt")
    digest = source_digest()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh, open(cp_file) as cp:
            if fh.read() == digest:
                return cp.read().strip(), digest
    log("building library and benchmark with sbt")
    out = os.path.join(STATE, "build.log")
    with open(out, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export perfbench/Runtime/fullClasspath"],
                         cwd=HERE, timeout=840, env=sbt_env(), stdout=fh)
    with open(out) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise BenchError(f"sbt build failed (exit {rc}); log in {out}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1], digest


def java_cmd(cp, work, main, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + flags + [f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main] + args)


def ensure_data(cp):
    """The star-schema tables, generated once per checkout by the program's
    own generator at one times sf0.1."""
    d = os.path.join(STATE, "data", "gensf-x1")
    if os.path.isfile(os.path.join(d, ".done")):
        return d
    log("generating input tables with graft.dev.GenSf")
    shutil.rmtree(d, ignore_errors=True)
    work = os.path.join(STATE, "work", "gensf")
    os.makedirs(work, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 4))
    with open(os.path.join(STATE, "gensf.log"), "w") as fh:
        rc = run_bounded(java_cmd(cp, work, "graft.dev.GenSf", [d, "1"]), cwd=work,
                         timeout=600, env=env, stdout=fh)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        raise BenchError("data generation failed; see perfbench/.state/gensf.log")
    open(os.path.join(d, ".done"), "w").close()
    return d


# ---------------------------------------------------------------- inputs

def op_order(workload, seed):
    """The seed fixes the order in which a query workload runs its list."""
    names = list(WORKLOADS[workload].get("queries", []))
    random.Random(seed).shuffle(names)
    return names


def data_stamp(data_dir):
    files = {}
    h = hashlib.sha256()
    for n in sorted(os.listdir(data_dir)):
        if n.endswith(".parquet"):
            p = os.path.join(data_dir, n)
            files[n] = os.path.getsize(p)
            with open(p, "rb") as fh:
                h.update(n.encode() + hashlib.sha256(fh.read()).digest())
    return {"dir": os.path.relpath(data_dir, ROOT), "bytes": files, "sha256": h.hexdigest()}


# ---------------------------------------------------------------- checks

def oracle_checker(data_dir, data_sha):
    """Compares a query's output with DuckDB's answer to its oracle SQL, by
    the program's own rendering and compare rules (dev/check.py). Oracle
    answers are cached per data content and SQL text."""
    sys.path.insert(0, os.path.join(ROOT, "dev"))
    import check as oracle  # dev/check.py
    import duckdb
    import pandas as pd
    import pickle
    oracle.selftest()
    cache = os.path.join(STATE, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = []

    def expected(sql):
        key = hashlib.sha256((data_sha + "\0" + sql).encode()).hexdigest()
        path = os.path.join(cache, key + ".pkl")
        if os.path.isfile(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        if not con:
            con.append(duckdb.connect())
            for t in oracle.TABLES:
                con[0].sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        df = con[0].sql(sql).df()
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(df, fh)
        os.replace(path + ".tmp", path)
        return df

    def check(sql, out_path):
        """None when the output matches the oracle, else the reason."""
        e = expected(sql)
        a = pd.read_parquet(out_path)
        e = e.reindex(sorted(e.columns), axis=1).reset_index(drop=True)
        a = a.reindex(sorted(a.columns), axis=1).reset_index(drop=True)
        if list(e.columns) != list(a.columns):
            return f"columns {list(a.columns)} != {list(e.columns)}"
        if len(e) != len(a):
            return f"rows {len(a)} != {len(e)}"
        bad = oracle.compare(e, a, False)
        return f"{[f'{c} ({why})' for c, why in bad]}" if bad else None

    return check


def query_failures(res, check):
    """(name, reason) for every written output, of a query's first or last
    call, that threw or is wrong and every timed operation that threw."""
    fails = []
    for c in res["checks"]:
        name = f"{c['name']} ({c['call']} call)"
        if c["error"] is not None:
            fails.append((name, "threw: " + c["error"]))
        elif c["sql"] is None:
            fails.append((name, "no oracle SQL"))
        else:
            why = check(c["sql"], c["path"])
            if why:
                fails.append((name, "wrong output: " + why))
    fails += [(o["name"], "threw: " + o["error"]) for o in res["ops"] if o["error"]]
    return fails


def curate_failures(res, seed):
    """Violated invariants and summaries that differ between runs of the
    same seed, in this process and across processes in this checkout."""
    fails = []
    summaries = []
    for c in res["checks"]:
        if c.get("error"):
            fails.append((c["name"], "threw: " + c["error"]))
            continue
        bad = {k: v for k, v in c["violations"].items() if v}
        if bad:
            fails.append((c["name"], f"violations {bad}"))
        summaries.append((c["name"], c["summary"]))
    path = os.path.join(STATE, "summaries", f"curate-seed{seed}.json")
    if summaries:
        if os.path.isfile(path):
            with open(path) as fh:
                ref = ("earlier run", json.load(fh))
        else:
            ref = summaries[0]
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                json.dump(ref[1], fh, sort_keys=True)
        fails += [(name, f"summary {s} != {ref[0]} {ref[1]}")
                  for name, s in summaries if s != ref[1]]
    return fails


# ---------------------------------------------------------------- metrics

def percentile(values, q, min_beyond=10):
    """The q-quantile, or None unless at least `min_beyond` samples lie
    beyond it (so p90 needs 100 samples)."""
    if len(values) * (1 - q) < min_beyond - 1e-9:
        return None
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def op_p50_geomean(ops):
    """Each operation's median latency, geometric mean over the distinct
    operations. Unlike the median of all samples, it does not jump from one
    query's latency to the next as the samples near the middle change."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["latency"])
    if not by_name:
        return 0.0
    return statistics.geometric_mean(statistics.median(v) for v in by_name.values())


def end_to_end(res):
    done = [o for o in res["ops"] if not o["error"] and not o["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    wall = sum(p["wall"] for p in untraced)
    lat = [o["latency"] for o in done]
    return {
        "setup_s": res["setup_s"],
        "ops_per_s": sum(p["completed"] for p in untraced) / wall if wall else 0.0,
        "op_p50_geomean_s": op_p50_geomean(done),
    }, lat


def per_layer(res):
    m = dict(res["layers"])
    rate = {}
    for traced in (False, True):
        ps = [p for p in res["passes"] if p["traced"] == traced]
        wall = sum(p["wall"] for p in ps)
        rate[traced] = sum(p["completed"] for p in ps) / wall if wall else 0.0
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    m["trace.ops_per_s"] = rate[True]
    m["trace.overhead_frac"] = 1 - rate[True] / rate[False] if rate[False] else 0.0
    files = res.get("curate", {}).get("files_written", [])
    traced_files = [n for n, o in zip(files, res["ops"]) if o["traced"]]
    m["sources.files_written"] = statistics.mean(traced_files) if traced_files else 0.0
    return m


# ---------------------------------------------------------------- stamp

def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def loadavg():
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def comparable(stamp):
    """Flags earlier results of this workload in this checkout that were
    taken on a different core count or different data."""
    d = os.path.join(STATE, "results")
    os.makedirs(d, exist_ok=True)
    notes = []
    for n in sorted(os.listdir(d)):
        if not n.startswith(stamp["workload"] + "-"):
            continue
        with open(os.path.join(d, n)) as fh:
            other = json.load(fh)["stamp"]
        diff = [k for k in ("nproc", "data") if other.get(k) != stamp.get(k)]
        if diff:
            notes.append(f"NOT COMPARABLE with {n}: differs in {', '.join(diff)}")
    return notes


# ---------------------------------------------------------------- main

def run(args):
    t_start = time.time()
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        raise BenchError(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    load_start = loadavg()
    cp, digest = build()
    data = ensure_data(cp)
    dstamp = data_stamp(data)
    cores = os.cpu_count() or 4
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    spans_file = os.path.join(STATE, "spans", f"{args.workload}-seed{args.seed}-trace{args.trace}.jsonl")
    os.makedirs(os.path.dirname(spans_file), exist_ok=True)
    names = args.ops.split(",") if args.ops else op_order(args.workload, args.seed)
    jargs = ["--mode", wl["kind"], "--data", data, "--work", work, "--out", result_file,
             "--spans", spans_file, "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--cores", str(cores), "--warmup", WARMUP,
             "--seed", str(args.seed), "--ops", ",".join(names),
             "--inject-throw", args.inject_throw or "", "--inject-wrong", args.inject_wrong or ""]
    try:
        t_jvm = time.time()
        with open(os.path.join(STATE, "runner.log"), "w") as fh:
            rc = run_bounded(java_cmd(cp, work, "perfbench.Runner", jargs), cwd=work,
                             timeout=args.seconds + RUNNER_ALLOWANCE_S, stdout=fh)
        if rc != 0 or not os.path.isfile(result_file):
            with open(os.path.join(STATE, "runner.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            raise BenchError(f"runner exited with {rc}")
        jvm_s = time.time() - t_jvm
        with open(result_file) as fh:
            res = json.load(fh)
        if wl["kind"] == "queries":
            fails = query_failures(res, oracle_checker(data, dstamp["sha256"]))
            attempted = len(res["checks"]) + len(res["ops"])
        else:
            fails = curate_failures(res, args.seed)
            attempted = len(res["checks"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "nproc": cores, "loadavg_start": load_start, "loadavg_end": loadavg(),
             "xmx_mb": res["xmx_mb"], "git_commit": git_commit(), "source_sha256": digest,
             "data": dstamp, "ops": len(names) if wl["kind"] == "queries" else 1}
    for note in comparable(stamp):
        print(note)
    e2e, lat = end_to_end(res)
    metrics = e2e if args.trace == 0 else per_layer(res)
    listed = [m["name"] for m in BENCHMARK["end_to_end" if args.trace == 0 else "per_layer"]]
    if sorted(metrics) != sorted(listed):
        raise BenchError(f"metrics {sorted(set(metrics) ^ set(listed))} are not both "
                         "measured and listed in BENCHMARK.json")

    print(f"stamp {json.dumps(stamp, sort_keys=True)}")
    for name, reason in fails:
        print(f"FAILED {name}: {reason}")
    failed = len(fails)
    print(f"fail_frac {failed / attempted:.4f} ratio ({failed} of {attempted} operations)")
    print(f"phases: run {time.time() - t_start:.1f} s, runner {jvm_s:.1f} s, setup "
          f"{res['setup_s']:.2f} s, first-call pass {res.get('check_pass_s', 0):.1f} s, "
          f"timed {res['timed_wall']:.1f} s")
    print(f"samples {len(lat)} op latencies over {len(res['passes'])} passes, "
          f"timed wall {res['timed_wall']:.2f} s")
    print(f"peak_rss_mb {res['peak_rss_mb']:.1f} MB (JVM VmHWM)")
    p90 = percentile(lat, 0.9)
    print(f"op_p90_s {p90:.4f} s ({len(lat)} samples)" if p90 is not None else
          f"op_p90_s omitted: {len(lat)} samples, 100 needed")
    if wl["kind"] == "curate":
        c = res["curate"]
        print(f"docs_per_s {e2e['ops_per_s'] * res['checks'][0].get('summary', {}).get('n_input', 0):.1f} 1/s")
        print(f"out_bytes_per_in_byte {c['out_bytes'] / c['in_bytes']:.4f} ratio")
        print(f"corpus_s {c['corpus_s']:.2f} s (seed-ordered input, outside setup)")
    if args.trace == 1:
        print("recon per op: latency = build + plan + jobs + remainder (s)")
        for r in res["recon"]:
            print(f"  {r['name']:<28} {r['latency']:8.3f} = {r['build']:.3f} + {r['plan']:.3f}"
                  f" + {r['jobs']:.3f} + {r['remainder']:.3f}   task_s {r['task_s']:.3f}")
        print(f"trace overhead {metrics['trace.overhead_frac']:.4f} of untraced ops_per_s "
              f"({metrics['trace.ops_per_s']:.4f} traced)")
    for k in sorted(metrics):
        print(f"{k} {metrics[k]:.6g} {UNITS[k]}")

    with open(os.path.join(STATE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({"stamp": stamp, "metrics": metrics, "failed": fails, "ops": res["ops"],
                   "passes": res["passes"], "setup_s": res["setup_s"],
                   "checks": res["checks"]}, fh, sort_keys=True)
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in metrics.items()}}
    print(json.dumps(out))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=BENCHMARK["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the benchmark's own tests: run a given list, inject failures
    ap.add_argument("--ops", help=argparse.SUPPRESS)
    ap.add_argument("--inject-throw", help=argparse.SUPPRESS)
    ap.add_argument("--inject-wrong", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    try:
        run(args)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
