#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload ingest|curation \
        --seed N --seconds S --trace 0|1

Builds the program from this checkout's sources (once; later runs
reuse the build while the sources are unchanged), generates the
workload's inputs from the seed, runs the workload in one JVM on a
fixed ``local[N]`` with a fixed heap, checks the outputs and prints
one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics, read from Spark's listeners (see README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# fixed local[N], N <= the cores this process may use; PERFBENCH_CPUS
# overrides it only for the single-threaded baseline in README.md
CPUS = int(os.environ.get("PERFBENCH_CPUS",
                          min(4, len(os.sched_getaffinity(0)))))
HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850

# Inputs of the LLM-data workload: the ten registry tables at this
# scale (lineitem = 6M x SF rows, one row group each).
TABLE_SF = 0.02
CURATION_KEYS = ["q_sim_topk", "q_bpe_train"]
# The ingest backlog: files x blocks x events, and the fixed shares of
# gate-dropped events and redelivered blocks.
BACKLOG = dict(n_files=8, blocks_per_file=10, events_per_block=200,
               noise_per_block=20, redelivered_per_file=2)
FILES_PER_TRIGGER = 4
WORKLOADS = ("ingest", "curation")

JVM_OPTS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.level=error",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens",
                                               f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


# ── build ────────────────────────────────────────────────────────────

def _source_hash():
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark's Scala code; return the
    runtime classpath. Reused while no source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError(f"no program sources under {ROOT}/src/main/scala")
    stamp = os.path.join(WORK, "build.json")
    key = _source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("sources") == key:
            return got["classpath"]
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        fh.write(p.stdout)
    cp = [ln for ln in p.stdout.splitlines()
          if "scala-2.13" + os.sep + "classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cp:
        raise BenchError(f"build failed (exit {p.returncode}); see {log}")
    with open(stamp, "w") as fh:
        json.dump({"sources": key, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


# ── one JVM run ──────────────────────────────────────────────────────

def generate(workload, seed, in_dir):
    """The workload's inputs, made from the seed alone."""
    if workload == "ingest":
        return gen.make_backlog(in_dir, seed, **BACKLOG)
    gen.make_tables(in_dir, seed, TABLE_SF)
    return None


def run_jvm(classpath, workload, in_dir, run_dir, seconds, trace):
    spec = (str(FILES_PER_TRIGGER) if workload == "ingest"
            else ",".join(CURATION_KEYS))
    os.makedirs(run_dir, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath, "perfbench.Main",
        workload, in_dir, run_dir, str(seconds), str(trace), str(CPUS), spec]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError("workload JVM timed out")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"workload JVM exited {rc}:\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)
    res["setup_s"] = res["setup_done_ms"] / 1e3 - t_spawn
    return res


# ── checks ───────────────────────────────────────────────────────────

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _type_class(t, oracle):
    """The DuckDB type of a column mapped to the type classes the
    registry's comparison keeps apart. The oracle side goes through
    pandas in that comparison, which turns DECIMAL and HUGEINT into
    float64; the engine side keeps DECIMAL as decimal."""
    t = t.upper()
    if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "UNION")):
        return "nested"
    if t.startswith("DECIMAL"):
        return "float" if oracle else "decimal"
    if t in ("HUGEINT", "UHUGEINT"):
        return "float" if oracle else "int"
    if t.endswith("INT") or t in ("INTEGER", "BIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t.startswith(("DATE", "TIMESTAMP")):
        return "ts"
    return {"VARCHAR": "str", "BOOLEAN": "bool", "BLOB": "bytes"}.get(t, t)


def _columns(con, rel):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {rel}").fetchall()}


def compare(con, got_sql, want_sql, want_is_oracle=True):
    """None when the two relations hold the same rows (as multisets,
    columns matched by name, values exact within type class), else a
    one-line description of the first difference."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS {got_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {want_sql}")
    g, w = _columns(con, "got"), _columns(con, "want")
    if sorted(g) != sorted(w):
        return f"columns {sorted(g)} != {sorted(w)}"
    sel_g, sel_w = [], []
    for c in sorted(g):
        cg = _type_class(g[c], False)
        cw = _type_class(w[c], want_is_oracle)
        if cg != cw:
            return f"column {c}: type {g[c]} ({cg}) vs {w[c]} ({cw})"
        cast = {"ts": "TIMESTAMP", "float": "DOUBLE"}.get(cg)
        q = '"' + c.replace('"', '""') + '"'
        sel_g.append(f"CAST({q} AS {cast})" if cast else q)
        sel_w.append(f"CAST({q} AS {cast})" if cast else q)
    n_g = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_w = con.execute("SELECT count(*) FROM want").fetchone()[0]
    if n_g != n_w:
        return f"rows {n_g} != {n_w}"
    sg, sw = ", ".join(sel_g), ", ".join(sel_w)
    extra = con.execute(f"SELECT count(*) FROM (SELECT {sg} FROM got "
                        f"EXCEPT ALL SELECT {sw} FROM want)").fetchone()[0]
    if extra:
        return f"{extra}/{n_g} rows differ"
    return None


def _parquet(path_glob):
    return f"SELECT * FROM read_parquet('{path_glob}')"


def check_registry(res, in_dir, run_dir):
    """Each key's cold-pass output against DuckDB running the key's
    oracle SQL on the same parquet, and the memo-hit output of the
    same session against the build's."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM '{in_dir}/{t}.parquet'")
    problems = []
    for key, sql in sorted(res["oracle"].items()):
        first = f"{run_dir}/out/first/{key}/*.parquet"
        if not glob.glob(first):
            problems.append(f"{key}: no output")
            continue
        try:
            p = compare(con, _parquet(first), sql)
            if p is None:
                p = compare(con, _parquet(f"{run_dir}/out/repeat/{key}/*.parquet"),
                            _parquet(first), want_is_oracle=False)
                p = p and "memo hit differs from build: " + p
        except Exception as e:  # an unreadable output is a wrong one
            p = f"compare error {e!r}"
        if p:
            problems.append(f"{key}: {p}")
    return problems


def check_ingest(res, record, in_dir):
    """Every fresh drain's table must hold exactly the generator's
    expected rows, each id once; every redelivery drain must leave
    the table's file set, and so its rows, unchanged; and staged =
    committed + gate-dropped + duplicate-dropped, with the generator's
    own counts of the two kinds of drop."""
    con = duckdb.connect()
    want = _parquet(f"{in_dir}/expected.parquet")
    problems = []
    for i, d in enumerate(res["passes"]):
        if d["error"]:
            continue
        tag = f"drain {i} ({d['kind']})"
        if d["kind"].endswith("repeat"):
            if sorted(d["files"]) != sorted(d["files_before"]):
                problems.append(f"{tag}: redelivery changed the table's files")
            continue
        if not d["files"]:
            problems.append(f"{tag}: nothing committed")
            continue
        files = ", ".join(f"'{f}'" for f in d["files"])
        got = f"SELECT * FROM read_parquet([{files}])"
        p = compare(con, got, want, want_is_oracle=False)
        dup = con.execute(f"SELECT count(*) - count(DISTINCT id) FROM ({got})"
                          ).fetchone()[0]
        committed = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
        if p:
            problems.append(f"{tag}: {p}")
        if dup:
            problems.append(f"{tag}: {dup} ids committed more than once")
        if (committed + record["gate_dropped"] + record["dup_dropped"]
                != record["staged_events"]):
            problems.append(f"{tag}: conservation broken: {committed} "
                            f"committed + {record['gate_dropped']} gated + "
                            f"{record['dup_dropped']} duplicates != "
                            f"{record['staged_events']} staged")
    return problems


# ── metrics ──────────────────────────────────────────────────────────

def _med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    walls = lambda k: [p["wall_s"] for p in res["passes"] if p["kind"] == k]
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (_med(walls("pass")), "s"),
        "repeat_pass_s": (_med(walls("pass_repeat")), "s"),
    }


def per_layer(res, workload, record):
    passes = [p for p in res["passes"] if p["kind"] == "pass"]
    repeats = [p for p in res["passes"] if p["kind"] == "pass_repeat"]
    m = lambda f: _med([f(p) for p in passes])
    ratio = lambda a, b: a / b if b else 0.0
    out = {
        # one cold sample per JVM: too unsteady between runs to gate on
        "cold.first_pass_s": (next(p["wall_s"] for p in res["passes"]
                                   if p["kind"] == "first"), "s"),
        "traced.pass_s": (m(lambda p: p["wall_s"]), "s"),
        "exec.jobs": (m(lambda p: p["jobs"]), "count"),
        "exec.stages": (m(lambda p: p["stages"]), "count"),
        "exec.tasks": (m(lambda p: p["tasks"]), "count"),
        "exec.tasks_per_stage":
            (m(lambda p: ratio(p["tasks"], p["stages"])), "ratio"),
        "exec.busy_share":
            (m(lambda p: ratio(p["run_s"], p["window_s"] * CPUS)), "ratio"),
        "exec.run_s": (m(lambda p: p["run_s"]), "s"),
        "exec.cpu_s": (m(lambda p: p["cpu_s"]), "s"),
        "exec.gc_s": (m(lambda p: p["gc_s"]), "s"),
        "exec.input_bytes": (m(lambda p: p["input_bytes"]), "bytes"),
        "exec.shuffle_write_bytes":
            (m(lambda p: p["shuffle_write_bytes"]), "bytes"),
        "exec.spill_bytes": (m(lambda p: p["spill_bytes"]), "bytes"),
        "driver.no_task_s":
            (m(lambda p: p["window_s"] - p["busy_s"]), "s"),
        "plan.analysis_s": (m(lambda p: p["analysis_s"] + sum(
            k["analysis_s"] for k in p.get("keys", []))), "s"),
        "plan.optimization_s": (m(lambda p: p["optimization_s"]), "s"),
        "plan.planning_s": (m(lambda p: p["planning_s"]), "s"),
    }
    # layers a workload does not exercise report 0 on it
    layers = dict.fromkeys([
        "queries.construct_s", "queries.construct_jobs",
        "derived_cache.builds", "derived_cache.build_s",
        "firehose.decode_s", "firehose.gunzip_split_mb_per_s",
        "streaming.batches", "streaming.jobs_per_batch",
        "streaming.add_batch_s", "streaming.trigger_s",
        "streaming.read_amplification", "txtable.commits", "txtable.files",
        "txtable.append_s", "txtable.stored_bytes_per_event"], 0.0)
    if workload == "ingest":
        probes = res["layer_probes"]

        def stored(p):
            size = sum(os.path.getsize(f) for f in p["files"])
            return ratio(size, p["rows"])
        layers.update({
            "firehose.decode_s": probes["decode_s"],
            "firehose.gunzip_split_mb_per_s": probes["gunzip_split_mb_per_s"],
            "streaming.batches": m(lambda p: p["batches"]),
            "streaming.jobs_per_batch":
                m(lambda p: ratio(p["jobs"], p["batches"])),
            "streaming.add_batch_s": m(lambda p: p["add_batch_s"]),
            "streaming.trigger_s": m(lambda p: p["trigger_s"]),
            "streaming.read_amplification":
                m(lambda p: p["input_bytes"] / record["staged_bytes"]),
            "txtable.commits":
                m(lambda p: p["version_after"] - p["version_before"]),
            "txtable.files": m(lambda p: len(p["files"])),
            "txtable.append_s": probes["append_s"],
            "txtable.stored_bytes_per_event": m(stored),
        })
    else:
        def build_s(pair):
            p, r = pair
            return sum(kp["s"] - kr["s"] for kp, kr in zip(p["keys"], r["keys"])
                       if kp["builds"] > 0)
        layers.update({
            "queries.construct_s":
                m(lambda p: sum(k["construct_s"] for k in p["keys"])),
            "queries.construct_jobs": m(lambda p: p["construct_jobs"]),
            "derived_cache.builds":
                m(lambda p: sum(k["builds"] for k in p["keys"])),
            "derived_cache.build_s":
                _med([build_s(x) for x in zip(passes, repeats)]),
        })
    units = {"queries.construct_jobs": "count", "derived_cache.builds": "count",
             "firehose.gunzip_split_mb_per_s": "MB/s",
             "streaming.batches": "count", "streaming.jobs_per_batch": "ratio",
             "streaming.read_amplification": "ratio",
             "txtable.commits": "count", "txtable.files": "count",
             "txtable.stored_bytes_per_event": "bytes"}
    for k, v in layers.items():
        out[k] = (v, units.get(k, "s"))
    return out


# ── main ─────────────────────────────────────────────────────────────

def run_once(workload, seed, seconds, trace, keep=False):
    """Build, generate, run and check one workload. Returns (result
    JSON of the contract, raw JVM result, generator record, input
    dir, run dir); the directories are removed unless ``keep``."""
    classpath = build()
    tag = f"{workload}-s{seed}-t{trace}-p{os.getpid()}"
    in_dir = os.path.join(WORK, "inputs", tag)
    run_dir = os.path.join(WORK, "runs", tag)
    for d in (in_dir, run_dir):
        shutil.rmtree(d, ignore_errors=True)
    try:
        record = generate(workload, seed, in_dir)
        res = run_jvm(classpath, workload, in_dir, run_dir, seconds, trace)
        if workload == "ingest":
            attempted = len(res["passes"])
            failed = sum(1 for d in res["passes"] if d["error"])
            problems = check_ingest(res, record, in_dir)
        else:
            keys = [k for p in res["passes"] for k in p["keys"]]
            attempted = len(keys)
            failed = sum(1 for k in keys if k["error"])
            problems = check_registry(res, in_dir, run_dir)
        metrics = per_layer(res, workload, record) if trace else end_to_end(res)
        out = {"correct": not problems, "attempted": attempted,
               "failed": failed,
               "metrics": {k: {"value": v, "unit": u}
                           for k, (v, u) in metrics.items()}}
        for p in problems:
            print("CHECK FAILED:", p, file=sys.stderr)
        return out, res, record, in_dir, run_dir
    finally:
        if not keep:
            shutil.rmtree(in_dir, ignore_errors=True)
            shutil.rmtree(run_dir, ignore_errors=True)


def main():
    # a terminated benchmark still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        out = run_once(a.workload, a.seed, a.seconds, a.trace)[0]
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
