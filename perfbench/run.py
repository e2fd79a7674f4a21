#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload batch|catalog \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source (perfbench/
build.py), generates the seed's inputs under .bench_work/, runs one JVM
(perfbench.Main) that sets up, measures and checks, checks catalog row
counts against the DuckDB oracle SQL, and prints as its last line one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. Exits non-zero when a correctness check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen_catalog  # noqa: E402

# image corpus rows (batch and the traced pipeline and checkpoint walks) and the
# warm-up corpus, generated from a different seed. At 20000 rows both planted
# large families (rows/40 and rows/60) exceed refine's 300-row guard and pass
# through it, as at scale.
ROWS = 20000
WARM_ROWS = 500
# catalog scale factors: timed input and warm-up input
CATALOG_SF = 0.002
CATALOG_WARM_SF = 0.001
# catalog queries timed, in this order: one or two per family; the first
# three share QueryCache stages (cc_clusters is the slowest catalog query)
CATALOG_QUERIES = ["dd_ngram_jaccard", "cc_clusters", "fuse_canonical", "ann_topk", "emb_pairs",
                   "ev_sessionize", "ta_tokens", "ds_sample", "sim_collection", "q2_join"]
# oracles that enumerate document pairs in DuckDB: one is checked per run
SLOW_ORACLES = {"dd_ngram_jaccard", "cc_clusters", "fuse_canonical", "sim_collection"}
# --toy: the self-check's sizes
TOY = {"ROWS": 2000, "WARM_ROWS": 200, "CATALOG_SF": 0.001}
# a traced run fails when more executor CPU than this is outside every layer span
MAX_UNATTRIBUTED = 0.05
HEAP = "4g"
# the JVM's share of a run's 180 s; the DuckDB check follows it
DEADLINE_S = 160.0
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg: str, code: int = 2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def run_jvm(classes: str, args: list, log: str, deadline: float) -> int:
    tmp = os.path.join(os.path.dirname(log), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # fixed heap and the throughput collector: with G1 and a growing heap,
    # five back-to-back operations of one run fell from 9.1 s to 6.6 s; with
    # these, from 7.1 s to 5.8 s
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + opens + ["-cp", cp, "perfbench.Main"] + args)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9


def oracle_check(catalog_dir: str, oracle_sql: dict, counts: dict, seed: int) -> list:
    """Row counts must match the DuckDB oracle SQL: every cheap oracle on every
    run, and one of the slow ones (seconds each in DuckDB), chosen by seed.
    """
    slow = sorted(q for q in oracle_sql if q in SLOW_ORACLES)
    keep = [q for q in oracle_sql if q not in SLOW_ORACLES] + slow[seed % len(slow):][:1]
    oracle_sql = {q: oracle_sql[q] for q in keep}
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(catalog_dir, '.duckdb')}'")
    for f in os.listdir(catalog_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(catalog_dir, f)}'")
    problems = []
    for q, sql in oracle_sql.items():
        want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if counts.get(q) != want:
            problems.append(f"{q}: rows {counts.get(q)} != oracle {want}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["batch", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--toy", action="store_true", help="tiny inputs, for selfcheck.py")
    a = ap.parse_args()
    if a.toy:
        globals().update(TOY)
    t_start = time.time()
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("run from the repository root (BENCHMARK.json not found)")
    if shutil.which("java") is None:
        fail("java not found")
    try:
        classes = build.build(root)
    except SystemExit as e:
        fail(f"build failed: {e}")
    # the deadline starts after the build: the first run in a checkout builds
    deadline = time.time() + DEADLINE_S

    bench_work = os.path.join(root, ".bench_work")
    work = os.path.join(bench_work, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    catalog = os.path.join(work, "catalog")
    catalog_warm = os.path.join(work, "catalog-warm")
    if a.workload == "catalog" or a.trace:
        gen_catalog.generate(catalog, CATALOG_SF, a.seed)
        gen_catalog.generate(catalog_warm, CATALOG_WARM_SF, a.seed ^ 0x5DEECE66D)
    result_file = os.path.join(work, "result.json")
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--result", result_file,
                "--rows", str(ROWS), "--warm-rows", str(WARM_ROWS),
                "--catalog", catalog, "--catalog-warm", catalog_warm,
                "--queries", ",".join(CATALOG_QUERIES)]
    log = os.path.join(work, "jvm.log")
    code = run_jvm(classes, jvm_args, log, deadline)
    if code != 0 or not os.path.exists(result_file):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM exited with {code}", 1)
    with open(result_file) as f:
        res = json.load(f)

    problems = list(res["problems"])
    if "oracle_sql" in res:
        problems += oracle_check(catalog, res["oracle_sql"], res["counts"], a.seed)
    ops = res["ops"]
    if a.trace:
        layers = res["layers"]
        with open(res["trace_file"]) as f:
            spans = json.load(f)["spans"]
        traces = os.path.join(bench_work, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(res["trace_file"], os.path.join(traces, f"{res['run']}.json"))
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"] if m["name"] in layers}
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in layers]
        if missing or not spans:
            problems.append(f"trace lacks {missing[:5]} ({len(missing)} metrics), {len(spans)} spans")
        share = layers.get("trace.unattributed_cpu_share")
        if share is not None and share > MAX_UNATTRIBUTED:
            problems.append(f"unattributed executor CPU share {share:.4f} > {MAX_UNATTRIBUTED}")
    else:
        values = {"setup_s": res["setup_s"],
                  "op_s": median([o["wall_s"] for o in ops]) if ops else None,
                  "cpu_s": median([o["cpu_s"] for o in ops]) if ops else None,
                  "held_mb": median([o["held_mb"] for o in ops]) if ops else None}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    notes = res.get("notes", [])
    for p in problems + res["errors"] + notes:
        sys.stderr.write(f"perfbench: {p}\n")
    correct = not problems and all(v["value"] is not None for v in metrics.values())
    out = {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
           "metrics": metrics}
    host = {"run": res["run"], "steal_share": res["steal_share"],
            "loadavg_1m": res["loadavg_1m"], "setup_s": res["setup_s"],
            "generate_s": res["generate_s"], "phases_s": res["phases_s"], "wall_s": round(time.time() - t_start, 3)}
    with open(os.path.join(bench_work, "history.jsonl"), "a") as f:
        f.write(json.dumps({"args": vars(a), "host": host, "ops": ops,
                            "problems": problems, "notes": notes, "result": out}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print("host " + json.dumps(host))
    print(json.dumps(out))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
