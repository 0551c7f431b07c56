#!/usr/bin/env python3
"""Benchmark for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 12 --trace 0

It builds the engine and the harness from source (sbt; the classpath is
cached under perfbench/.build by a hash of the sources), writes the
fixture tables, and drives the engine from one JVM with one client
thread at local[4], a closed loop. Each request builds a query with
`SparkEntry.queries(name)` and executes it with a noop write. A run makes
one untimed pass over the workload's menu, then times whole passes until
`--seconds` have gone by; each pass is a seeded permutation of the menu,
so the seed orders requests and the engine sees only query names. After
the timed passes every distinct query runs once more, untimed, and its
output is compared with its DuckDB oracle the way tools/check_oracle.py
compares it. Each run gets its own temp, artifact, warehouse and Spark
local directories, deleted when it ends.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end ones, measured with no listener attached. With `--trace 1` a
Spark listener and a query-execution listener record every request as
spans (request, build, execute, job, stage, task) and counters; the run
reports the per-layer metrics of the untimed pass plus the first timed
pass, and each end-to-end metric's tracing overhead against the median
of the untraced runs made in this checkout (or of an untraced execution
made in the same run, when there are none). The lines before the last give the
base of every number; per-request times go to standard error.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import metrics  # noqa: E402

CORES = 4
# a fixed young generation keeps the peak resident set from following GC
# timing, so peak_rss_mb tracks retained memory
JVM_HEAP = ["-Xmx3g", "-Xmn1g"]
SCALE = 0.1
JVM_TIMEOUT_S = 170
ROUNDS_AHEAD = 200
SLO_MS = 500

# Why each workload exists is in BENCHMARK.json.
WORKLOADS = {
    "interactive": ["q60_rumor_pipeline", "q61_rumor_relational", "q16_offset_limit",
                    "q05_anti_join", "q27_case_when", "q58_stratified_sample",
                    "q245_snapshot_partitioned"],
    "iterative": ["q94_triangles", "q116_assoc_rules", "q117_bfs_hops"],
}

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "throughput_qps": "1/s",
              "peak_rss_mb": "MB"}
HIGHER_IS_BETTER = {"throughput_qps"}

PER_LAYER = {
    "operators.build_ms": "ms", "operators.build_jobs": "count",
    "sources.artifact_write_bytes": "bytes", "sources.builds": "count",
    "sources.reuse_ratio": "ratio",
    "sources.artifact_bytes_per_input_byte": "ratio",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.idle_ms": "ms",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "executor.gc_ms": "ms",
    "executor.shuffle_read_bytes": "bytes", "executor.shuffle_write_bytes": "bytes",
    "executor.spill_bytes": "bytes", "executor.input_bytes": "bytes",
    "executor.core_util": "ratio", "executor.execute_wall_ms": "ms",
    "cache.persisted_bytes": "bytes", "cache.persisted_rdds": "count",
    "cache.evicted_blocks": "count",
    "driver.gc_ms": "ms", "driver.heap_after_gc_mb": "MB",
    "conf.keys_changed": "count",
    "spans.request_self_ms": "ms", "spans.build_self_ms": "ms",
    "spans.execute_self_ms": "ms", "spans.job_self_ms": "ms",
    "spans.stage_self_ms": "ms", "spans.task_ms": "ms",
    **{f"overhead.{k}": "ratio" for k in END_TO_END},
}

# the module opens Spark needs on JDK 17, as in the root build.sbt
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---- build ------------------------------------------------------------

def source_stamp(root):
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, cache):
    """Compile the engine and the harness; return the JVM classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(cache, "classpath.txt")
    stamp_file = os.path.join(cache, "classpath.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("[perfbench] building the engine and the harness with sbt")
    # resolve only from the local caches, as the repository's own build does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx4g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if "perfbench/target" in ln and ":" in ln]
    if r.returncode != 0 or not lines:
        log(r.stdout[-4000:])
        raise BenchError("sbt build failed")
    os.makedirs(cache, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def fixture_dir(cache):
    """Generate the fixture tables once per checkout."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        key = hashlib.sha256(f.read() + str(SCALE).encode()).hexdigest()[:12]
    d = os.path.join(cache, f"data-{key}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, SCALE)
        open(os.path.join(d, ".done"), "w").close()
    return d


# ---- one execution -------------------------------------------------------

def execute(root, classpath, data, run_dir, menu, seed, seconds, traced):
    """One JVM: an untimed pass over the menu, whole timed passes until
    `seconds` have gone by, then the output-check pass. With `traced`, the
    listeners record every request but the output check. Returns the
    parsed records."""
    dirs = {d: os.path.join(run_dir, d) for d in ("artifacts", "tmp", "warehouse", "spark-local", "check")}
    for d in dirs.values():
        os.makedirs(d)
    rounds = metrics.request_rounds(menu, seed, ROUNDS_AHEAD)
    out = os.path.join(run_dir, "records.jsonl")
    plan = {"data": data, "cores": CORES, "seconds": seconds, "traced": traced,
            "artifact_dirs": [dirs["artifacts"], dirs["tmp"], dirs["warehouse"]],
            "out": out, "round_len": len(menu),
            "warmup": rounds[0], "requests": [n for r in rounds[1:] for n in r],
            "check": sorted(menu), "check_dir": dirs["check"]}
    plan_file = os.path.join(run_dir, "plan.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JVM_HEAP
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={dirs['tmp']}", f"-Dspark.local.dir={dirs['spark-local']}",
            f"-Dspark.sql.warehouse.dir={dirs['warehouse']}", "-cp", classpath,
            "perfbench.Harness", plan_file]
    env = dict(os.environ, GRAFT_INDEX_DIR=dirs["artifacts"],
               SPARK_LOCAL_DIRS=dirs["spark-local"], TMPDIR=dirs["tmp"])
    err_path = os.path.join(run_dir, "jvm.stderr")
    launched = time.time()
    with open(err_path, "w") as err:
        # q61 reads fixtures/ relative to the working directory
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.DEVNULL, stderr=err)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(err_path) as f:
            log(f.read()[-4000:])
        raise BenchError(f"harness exited with {rc}")
    x = {"recs": [], "spans": [], "launched": launched, "check_dir": dirs["check"]}
    with open(out) as f:
        for line in f:
            r = json.loads(line)
            if r["type"] == "request":
                x["recs"].append(r)
            elif r["type"] == "span":
                x["spans"].append(r)
            else:
                x["summary"] = r
    x["first"] = [r for r in x["recs"] if r["phase"] == "warmup"]
    x["window"] = [r for r in x["recs"] if r["phase"] == "window"]
    return x


# ---- output check --------------------------------------------------------

def oracle_result(con, sql, cache):
    """The DuckDB oracle's columns, rows and parquet round-trip types for
    `sql`, computed once per fixture set and kept under `cache`."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    path = os.path.join(cache, f"{key}.pickle")
    if not os.path.exists(path):
        os.makedirs(cache, exist_ok=True)
        exp = con.sql(sql)
        cols, rows = list(exp.columns), exp.fetchall()
        rt = os.path.join(cache, f"{key}.parquet")
        con.sql(f"COPY ({sql}) TO '{rt}' (FORMAT PARQUET)")
        types = {r[0]: r[1] for r in con.sql(f"DESCRIBE SELECT * FROM '{rt}'").fetchall()}
        with open(path + ".part", "wb") as f:
            pickle.dump((cols, rows, types), f)
        os.replace(path + ".part", path)
    with open(path, "rb") as f:
        return pickle.load(f)


def check_outputs(root, data, x):
    """Compare each checked query's output with its DuckDB oracle as
    tools/check_oracle.py does: same columns, same row count, equal rows in
    order, no numeric type-class drift. A query without an oracle must
    return rows. Returns the names that failed."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    import duckdb
    s = x["summary"]
    bad = set(s["check_errors"]) | {n for n, rows in s["check_rows"].items() if rows <= 0}
    with open(os.path.join(x["check_dir"], "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    norm, tc = check_oracle.norm, check_oracle.type_class
    for name, sql in sorted(oracles.items()):
        spark = f"'{x['check_dir']}/{name}/*.parquet'"
        try:
            exp_cols, exp_rows, exp_types = oracle_result(con, sql, data + "-oracle")
            got = con.sql(f"SELECT * FROM {spark}")
            got_cols, got_rows = list(got.columns), got.fetchall()
            got_types = {r[0]: r[1] for r in con.sql(f"DESCRIBE SELECT * FROM {spark}").fetchall()}
        except Exception as e:  # an unreadable output or a failing oracle
            log(f"[perfbench] {name}: {e}")
            bad.add(name)
            continue
        ok = sorted(exp_cols) == sorted(got_cols)
        if ok:
            idx = [got_cols.index(c) for c in exp_cols]
            got_rows = [tuple(r[i] for i in idx) for r in got_rows]
            ok = len(exp_rows) == len(got_rows) and all(
                tuple(map(norm, a)) == tuple(map(norm, b)) for a, b in zip(exp_rows, got_rows))
            ok = ok and all(tc(t) == tc(got_types[c]) for c, t in exp_types.items() if c in got_types)
        if not ok:
            bad.add(name)
    return bad


# ---- metrics --------------------------------------------------------------

def dur_s(r):
    return (r["end_us"] - r["start_us"]) / 1e6


def end_to_end(x):
    """The end-to-end metrics of one execution, and the bases behind them."""
    window, s = x["window"], x["summary"]
    wall = (s["window_end_us"] - s["window_start_us"]) / 1e6
    lat = [dur_s(r) * 1000 for r in window]
    values = {
        "setup_s": window[0]["start_us"] / 1e6 - x["launched"],
        "latency_p50_ms": metrics.median(lat),
        "throughput_qps": sum(r["ok"] for r in window) / wall,
        "peak_rss_mb": s["vmhwm_kb"] / 1024,
    }
    notes = [f"timed requests: n={len(lat)} in {len(window) // len(x['first'])} passes "
             f"over {wall:.3f} s",
             f"first touch: {sum(dur_s(r) for r in x['first']):.3f} s over the "
             f"{len(x['first'])} requests of the untimed pass"]
    level = metrics.tail_level(len(lat))
    if level is not None:
        notes.append(f"latency p{round(level * 100)} = {metrics.percentile(lat, level):.1f} ms "
                     f"(the highest level with >= 10 of {len(lat)} samples beyond)")
    within = sum(r["ok"] and dur_s(r) * 1000 <= SLO_MS for r in window)
    notes.append(f"slo_{SLO_MS}ms_ratio = {within / len(window):.4f} ({within}/{len(window)} "
                 f"timed requests done within {SLO_MS} ms; failures count as misses)")
    leaks = {r["name"]: r["conf_keys_changed"] for r in x["recs"] if r["conf_keys_changed"]}
    notes.append(f"session conf keys changed: {sum(leaks.values())} over {len(x['recs'])} "
                 f"requests {leaks}")
    return values, notes


def per_layer(x, input_bytes):
    """Per-layer metrics summed over a fixed amount of traced work: the
    untimed pass and the first timed pass over the menu."""
    recs = x["first"] + x["window"][:len(x["first"])]
    ids = {r["req"] for r in recs}
    tot = defaultdict(float)
    for r in recs:
        for k in ("jobs", "build_jobs", "stages", "tasks", "run_ms", "execute_run_ms", "cpu_ns",
                  "task_gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes", "analysis_ms", "optimization_ms", "planning_ms",
                  "evicted_blocks", "driver_gc_ms", "conf_keys_changed"):
            tot[k] += r[k]
    # a request touches a standing-artifact family when its query is
    # declared by a store (package graft.sources) or ever wrote under the
    # artifact roots; it reused the family when it wrote nothing
    writes = {r["req"]: max(0, r["artifact_bytes_after"] - r["artifact_bytes_before"]) for r in recs}
    writers = {r["name"] for r in recs if writes[r["req"]] > 0}
    family = [r for r in recs if r["name"] in writers
              or r["name"] in x["summary"]["source_queries"]]
    reused = sum(writes[r["req"]] == 0 for r in family)

    by_req = defaultdict(list)
    for s in (s for s in x["spans"] if s["req"] in ids):
        by_req[s["req"]].append({"id": s["id"], "parent": s["parent"], "kind": s["kind"],
                                 "start": s["start_us"] / 1000, "end": s["end_us"] / 1000})
    self_ms = defaultdict(float)
    idle_ms = execute_ms = 0.0
    for spans in by_req.values():
        st = metrics.self_times(spans)
        for s in spans:
            self_ms[s["kind"]] += st[s["id"]]
        ex = next(s for s in spans if s["kind"] == "execute")
        tasks = [(s["start"], s["end"]) for s in spans if s["kind"] == "task"]
        execute_ms += ex["end"] - ex["start"]
        idle_ms += ex["end"] - ex["start"] - metrics.union_ms(tasks, ex["start"], ex["end"])
    values = {
        "operators.build_ms": sum((r["built_us"] - r["start_us"]) / 1000 for r in recs),
        "operators.build_jobs": tot["build_jobs"],
        "sources.artifact_write_bytes": sum(writes.values()),
        "sources.builds": sum(w > 0 for w in writes.values()),
        "sources.reuse_ratio": reused / len(family) if family else 0.0,
        "sources.artifact_bytes_per_input_byte":
            max(r["artifact_bytes_after"] for r in recs) / input_bytes,
        "plans.analysis_ms": tot["analysis_ms"],
        "plans.optimization_ms": tot["optimization_ms"],
        "plans.planning_ms": tot["planning_ms"],
        "scheduler.jobs": tot["jobs"],
        "scheduler.stages": tot["stages"],
        "scheduler.tasks": tot["tasks"],
        "scheduler.idle_ms": idle_ms,
        "executor.run_ms": tot["run_ms"],
        "executor.cpu_ms": tot["cpu_ns"] / 1e6,
        "executor.gc_ms": tot["task_gc_ms"],
        "executor.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "executor.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "executor.spill_bytes": tot["spill_bytes"],
        "executor.input_bytes": tot["input_bytes"],
        "executor.core_util": tot["execute_run_ms"] / (execute_ms * CORES),
        "executor.execute_wall_ms": execute_ms,
        "cache.persisted_bytes": max(r["persisted_bytes"] for r in recs),
        "cache.persisted_rdds": max(r["persisted_rdds"] for r in recs),
        "cache.evicted_blocks": tot["evicted_blocks"],
        "driver.gc_ms": tot["driver_gc_ms"],
        "driver.heap_after_gc_mb": x["summary"]["heap_after_gc_bytes"] / 2**20,
        "conf.keys_changed": tot["conf_keys_changed"],
        "spans.request_self_ms": self_ms["request"],
        "spans.build_self_ms": self_ms["build"],
        "spans.execute_self_ms": self_ms["execute"],
        "spans.job_self_ms": self_ms["job"],
        "spans.stage_self_ms": self_ms["stage"],
        "spans.task_ms": self_ms["task"],
    }
    notes = [
        f"traced requests: n={len(recs)}, {len(x['spans'])} spans",
        f"sources.reuse_ratio base: {reused} of {len(family)} artifact-family requests "
        "wrote nothing",
        f"executor.core_util base: {tot['execute_run_ms']:.0f} ms task run time in "
        f"{execute_ms:.0f} ms of execute wall time x {CORES} cores",
    ]
    return values, notes


# ---- main ----------------------------------------------------------------

def history_median(path, key):
    """Median of `key` over the untraced runs recorded in `path`."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        values = [json.loads(line)[key] for line in f]
    return metrics.median(values) if values else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(root, need)):
            log(f"[perfbench] {need} not found: run from the root of a checkout of the engine")
            return 2
    cache = os.path.join(HERE, ".build")
    history = os.path.join(cache, f"untraced-{args.workload}.jsonl")
    run_dir = os.path.join(cache, "runs", f"{os.getpid()}-{time.time_ns()}")
    try:
        classpath = build(root, cache)
        data = fixture_dir(cache)
        menu = WORKLOADS[args.workload]
        started = time.time()

        def measure(name, traced):
            x = execute(root, classpath, data, os.path.join(run_dir, name),
                        menu, args.seed, args.seconds, traced)
            bad = check_outputs(root, data, x)
            for r in x["recs"]:
                log(f"[perfbench] {r['phase']:6s} {r['name']:28s} {dur_s(r):8.3f} s"
                    + ("" if r["ok"] else f"  FAILED {r['error']}"))
            for n in sorted(bad):
                log(f"[perfbench] output check failed: {n}")
            return x, len(x["recs"]) + len(menu), sum(not r["ok"] for r in x["recs"]) + len(bad)

        x, attempted, failed = measure("traced" if args.trace else "plain", bool(args.trace))
        e2e, notes = end_to_end(x)
        notes.append(f"fail_ratio = {failed / attempted:.4f} ({failed}/{attempted} "
                     "requests and output checks failed or were wrong)")
        if args.trace:
            values, layer_notes = per_layer(x, gen_data.input_bytes(data))
            notes += layer_notes
            # the overhead compares this traced run with the untraced runs
            # made in this checkout, or with an untraced run made now
            base = {k: history_median(history, k) for k in END_TO_END}
            if None in base.values():
                base, _ = end_to_end(measure("plain", False)[0])
                notes.append("tracing overhead base: an untraced execution in this run")
            else:
                notes.append(f"tracing overhead base: medians of the untraced runs in {history}")
            # overhead is the share by which tracing made each metric worse
            values.update({f"overhead.{k}": (base[k] / e2e[k] if k in HIGHER_IS_BETTER
                                             else e2e[k] / base[k]) - 1 for k in END_TO_END})
            units = PER_LAYER
        else:
            values, units = e2e, END_TO_END
            if failed == 0:
                with open(history, "a") as f:
                    f.write(json.dumps(e2e) + "\n")
        notes.append(f"run wall time {time.time() - started:.1f} s")
        for n in notes:
            print(f"[{args.workload}] {n}")
        out = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        for k, v in out.items():
            print(f"[{args.workload}] {k} = {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": out}))
        return 0
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"[perfbench] {e}")
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
