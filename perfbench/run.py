#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload wx_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness from source (sbt, offline) into the checkout; later runs reuse
the build. Inputs are generated from the seed (gen.py), the harness JVM
runs the workload in a fresh run directory that is removed afterwards,
outputs are checked, and the last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench-classpath.txt")
WORKLOADS = ["wx_backfill", "wx_serve", "wx_ticks", "corpus_dedup"]
CLIENTS = 2      # at most 2 client threads on a 4-core box
RUN_LIMIT_S = 170

# metric names and units, as BENCHMARK.json declares them
with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    _DECL = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _DECL["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _DECL["per_layer"]}
# what each generic end-to-end metric is on each workload
NAMED = {
    "wx_backfill": {"work_per_s": "backfill_rows_per_s",
                    "op_p50_ms": "backfill_run_p50_ms"},
    "wx_serve": {"work_per_s": "serve_rps", "op_p50_ms": "serve_p50_ms",
                 "op_tail_ms": "serve_tail_ms"},
    "wx_ticks": {"op_p50_ms": "tick_p50_ms"},
    "corpus_dedup": {"work_per_s": "curate_docs_per_s"},
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def newest_source():
    builds = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    return max([os.path.getmtime(p) for p in builds] +
               [os.path.getmtime(os.path.join(d, f))
                for top in (os.path.join(ROOT, "src", "main"),
                            os.path.join(HERE, "src"))
                for d, _, fs in os.walk(top) for f in fs])


def build():
    """Compile program + harness once per checkout; cache the classpath."""
    if os.path.exists(CLASSPATH) and newest_source() < os.path.getmtime(CLASSPATH):
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if l.count(os.pathsep) > 5 and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed")
    with open(CLASSPATH, "w") as f:
        f.write(cps[-1].strip())
    return cps[-1].strip()


def heap():
    """JVM heap from MemTotal, as the repository's test command sets it."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(max(g, 2), 8)}g"


ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, args, run_dir, budget_s):
    tmp = os.path.join(run_dir, "tmp")
    work = os.path.join(run_dir, "work")
    os.makedirs(tmp)
    os.makedirs(work)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += [f"-Xmx{heap()}", "-Xmn768m", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        raise RuntimeError(f"harness exited with {rc}")


def tail(xs):
    """The highest percentile with at least 10 samples beyond it, i.e.
    the 11th-slowest sample, and its label; the maximum when there are
    10 samples or fewer."""
    n = len(xs)
    if n <= 10:
        return max(xs), "max"
    return sorted(xs)[n - 11], f"p{100 * (n - 10) / n:.0f}"


# ----------------------------------------------------------------------
# correctness checks that run outside the JVM
# ----------------------------------------------------------------------

def _norm_hash(con, relation):
    """Row count and sha256 of a relation normalized as
    scripts/preflight.py compares results: columns sorted by name, rows
    sorted by all columns, every cell compared exactly (doubles by their
    shortest round-trip text)."""
    cols = sorted(c[0] for c in con.execute(f"DESCRIBE {relation}").fetchall())
    row = " || chr(31) || ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), '\\N')" for c in cols)
    n, text = con.execute(
        f"SELECT count(*), string_agg(r, chr(10) ORDER BY r) "
        f"FROM (SELECT {row} AS r FROM {relation})").fetchone()
    return hashlib.sha256((text or "").encode()).hexdigest(), n


def check_backfill(res, inputs, run_dir):
    """Gold against the program's DuckDB oracle SQL over the same inputs."""
    import duckdb
    sqls = json.load(open(os.path.join(run_dir, "oracle.json")))
    con = duckdb.connect()
    for t in ("events", "customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{t}.parquet')")
    gold = res["check_gold"]
    out = {}
    for kind, sql in sqls.items():
        con.execute(f"CREATE VIEW spark_{kind} AS SELECT * EXCLUDE (data_type) "
                    f"FROM read_parquet('{gold}/data_type={kind}/*.parquet')")
        # the oracle's types as Spark wrote them (DuckDB's date_trunc('day')
        # is a DATE where Spark keeps a TIMESTAMP), so equal values hash equal
        cast = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t, *_ in
                         con.execute(f"DESCRIBE spark_{kind}").fetchall())
        con.execute(f"CREATE VIEW oracle_{kind} AS SELECT {cast} FROM ({sql})")
        out[kind] = {"spark": _norm_hash(con, f"spark_{kind}"),
                     "oracle": _norm_hash(con, f"oracle_{kind}")}
        if out[kind]["spark"] != out[kind]["oracle"]:
            cols = ", ".join(sorted(
                f'"{c[0]}"' for c in
                con.execute(f"DESCRIBE spark_{kind}").fetchall()))
            out[kind]["spark_only"], out[kind]["oracle_only"] = (
                [str(t) for t in con.execute(
                    f"SELECT {cols} FROM {x} EXCEPT ALL "
                    f"SELECT {cols} FROM {y} LIMIT 3").fetchall()]
                for x, y in ((f"spark_{kind}", f"oracle_{kind}"),
                             (f"oracle_{kind}", f"spark_{kind}")))
    return all(v["spark"] == v["oracle"] for v in out.values()), out


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def expected_curated(truth):
    """CorpusPipeline's split and source-mixing rule over the planted
    unique docs (the quality gate passes every generated doc)."""
    kept = truth["kept_after_exact_dedup"]
    src = truth["sources"]
    split = {}
    for d in kept:
        h = _md5(str(d))[:2]
        split[d] = "train" if h < "cc" else ("val" if h < "e6" else "test")
    n = {}
    for d in kept:
        if split[d] == "train":
            n[src[d]] = n.get(src[d], 0) + 1
    min_n = min(n.values())
    thresh = {s: format(int(math.floor(
        min(1.0, math.sqrt(float(min_n) * c) / c) * 4294967296.0)), "x")
        .rjust(9, "0")[:9] for s, c in n.items()}
    return sorted(d for d in kept if split[d] != "train" or
                  _md5(f"mix|{d}")[:8].rjust(9, "0") < thresh[src[d]])


def check_corpus(res, inputs):
    import pyarrow.dataset as ds
    truth = json.load(open(os.path.join(inputs, "truth.json")))
    cur = ds.dataset(res["check_curated"], format="parquet",
                     partitioning="hive").to_table(columns=["doc_id"])
    got = sorted(cur.column("doc_id").to_pylist())
    exact_ok = got == expected_curated(truth)
    lab = ds.dataset(res["check_labels"], format="parquet").to_table()
    label = dict(zip(lab.column("id").to_pylist(),
                     lab.column("label").to_pylist()))
    pairs = truth["near_dup_pairs"]
    hit = sum(1 for a, b in pairs
              if a in label and b in label and label[a] == label[b])
    recall = hit / len(pairs)
    ok = exact_ok and recall >= gen.CORPUS_RECALL_FLOOR
    return ok, {"curated_docs": len(got), "exact_dedup_ok": exact_ok,
                "near_dup_recall": round(recall, 4),
                "recall_floor": gen.CORPUS_RECALL_FLOOR}


# ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the repository root: {need} not found")
    cp = build()
    started = time.time()  # a run's time limit starts after the build
    inputs = gen.generate(a.workload, a.seed, os.path.join(BUILD, "inputs"))

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result_path = os.path.join(run_dir, "result.json")
        budget = RUN_LIMIT_S - (time.time() - started)
        run_jvm(cp, ["--workload", a.workload, "--inputs", inputs,
                     "--run", run_dir, "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--seed", str(a.seed),
                     "--clients", str(CLIENTS),
                     "--out", result_path], run_dir, budget)
        res = json.load(open(result_path))
        detail = {"workload": a.workload, "seed": a.seed,
                  "failures": res["failures"]}
        checks_ok = True
        if a.workload == "wx_backfill":
            checks_ok, detail["oracle"] = check_backfill(res, inputs, run_dir)
        elif a.workload == "corpus_dedup":
            checks_ok, detail["corpus_check"] = check_corpus(res, inputs)
        attempted, failed = res["attempted"], res["failed"]
        if not checks_ok:
            failed = attempted  # a wrong output fails every op that made it
        if a.trace:
            keep = os.path.join(BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(
                keep, f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops, reads = res["op_ms"], res["read_ms"]
    tail_v, tail_label = tail(ops)
    if reads and a.workload != "wx_serve":  # there the reads are the ops
        detail["read_p50_ms"] = statistics.median(reads)
    detail["check_s"] = res["end_s"] - res["window_end_s"]
    detail.update({"ops": len(ops), "reads": len(reads),
                   "op_tail_label": tail_label,
                   "session_s": res["session_s"]})
    if a.trace:
        metrics = dict(res["layers"])
        curate = {k: metrics.pop(k) for k in list(metrics)
                  if k.startswith("curate.")}
        if curate:
            detail["curate"] = curate
        metrics["trace.op_p50_ms"] = statistics.median(ops)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": res["setup_s"],
            "work_per_s": res["work"] / res["work_wall_s"],
            "op_p50_ms": statistics.median(ops),
            "op_tail_ms": tail_v,
            "storage_bytes_per_input_byte":
                res["storage_bytes"] / res["input_bytes"],
            "peak_rss_mb": res["peak_rss_mb"],
            "ops_ok_frac": 1.0 - failed / attempted,
        }
        units = END_TO_END
        detail["named"] = {NAMED[a.workload][k]: metrics[k]
                           for k in NAMED[a.workload]}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0 and checks_ok,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))


if __name__ == "__main__":
    main()
