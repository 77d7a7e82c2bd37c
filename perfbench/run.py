"""Medallion-day benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The run builds the program from source
(cached), generates the workload's inputs from the seed (cached), starts
one JVM that sets up a Spark session, warms up and measures the workload
for at least S seconds, checks every output, and prints as its last
stdout line {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it is the run's full artifact (context, samples, quartiles), also
appended to .bench_build/results.jsonl. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import build  # noqa: E402
import gen_bronze  # noqa: E402
import gen_lake  # noqa: E402

EVENTS_PER_HOUR = 2500
LAKE_SF = 0.01
JVM_HEAP = "3g"
RUN_LIMIT_S = 175
WORKLOADS = ("medallion_day", "curation_composites")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def cached(path, make):
    """Build `path` once with make(tmp_dir) -> manifest; reuse it after."""
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f), 0.0
    t = time.time()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    m = make(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(m, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return m, time.time() - t


def digest(module):
    """Short digest of a generator's source: cached inputs from an older
    generator are never reused."""
    with open(module.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def make_bronze(seed):
    def make(tmp):
        m = gen_bronze.generate(tmp, seed, EVENTS_PER_HOUR)
        gen_bronze.self_test(tmp, seed, EVENTS_PER_HOUR)
        return m
    return make


def jvm(root, classes, jars, args, work, log_path, timeout):
    """Run the harness JVM in its own process group; kill the group on
    timeout, so no process outlives the run."""
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{JVM_HEAP}"] + opens + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}/derby",
        "-cp", f"{classes}:{jars}/*", "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             cwd=root, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(1)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)


def load_check_module(root):
    """tools/check.py's canonicalization and cell comparison."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(root, lake, results):
    """Compare each dumped result with DuckDB running the query's oracle
    SQL on the same parquet files, with tools/check.py's canonicalization;
    returns (attempted, failure messages)."""
    check = load_check_module(root)
    con = duckdb.connect()
    for t in check.TABLES:
        p = os.path.join(lake, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name, sql in sorted(oracle.items()):
        d = os.path.join(results, name)
        files = sorted(os.path.join(d, x) for x in os.listdir(d)
                       if x.endswith(".parquet")) if os.path.isdir(d) else []
        if not files:
            failures.append(f"{name}: no result written")
            continue
        try:
            spark_df = check.canon(pd.concat([pd.read_parquet(f) for f in files]))
            err = check.cmp(spark_df, check.canon(con.execute(sql).fetchdf()))
        except Exception as e:  # an oracle error is a failed check, not a crash
            err = f"oracle error: {e}"
        if err:
            failures.append(f"{name}: {err}")
    return len(oracle), failures


def duckdb_reference(bronze_root, work, threads, day):
    """The reference's two statements on the same bronze day: per hour
    read_json_auto -> 9-column projection -> parquet, then GROUP BY ALL
    over the day's silver. Timed apart from every Spark window."""
    out = os.path.join(work, "duckdb_ref")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    silver_s = 0.0
    for h in range(24):
        hour = day.replace(hour=h)
        src = gen_bronze.hour_path(bronze_root, hour)
        t = time.perf_counter()
        con.execute(f"CREATE OR REPLACE TABLE events AS SELECT * FROM "
                    f"read_json_auto('{src}', ignore_errors=true)")
        con.execute(
            "COPY (SELECT id AS event_id, actor.id AS user_id, actor.login AS user_name, "
            "actor.display_login AS user_display_name, type AS event_type, repo.id AS repo_id, "
            "repo.name AS repo_name, repo.url AS repo_url, created_at AS event_date "
            f"FROM events) TO '{out}/clean_{h:02d}.parquet' (FORMAT PARQUET)")
        silver_s += time.perf_counter() - t
    t = time.perf_counter()
    con.execute(
        "COPY (SELECT event_type, repo_id, repo_name, repo_url, "
        "date_trunc('day', CAST(event_date AS TIMESTAMP)) AS event_date, count(*) AS event_count "
        f"FROM read_parquet('{out}/clean_*.parquet') GROUP BY ALL) TO '{out}/agg.parquet' (FORMAT PARQUET)")
    gold_s = time.perf_counter() - t
    rows = con.execute(f"SELECT count(*) FROM read_parquet('{out}/clean_*.parquet')").fetchone()[0]
    shutil.rmtree(out, ignore_errors=True)
    return silver_s, gold_s, rows


def summary(xs):
    """Median, quartiles and sample count of a list of samples."""
    xs = [x for x in xs if x == x]
    if not xs:
        return {"n": 0}
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"n": len(xs), "median": statistics.median(xs), "q1": q[0], "q3": q[2]}


def op_p50(op_s, passes):
    """Median over a pass's operations of each operation's median across
    passes. Pooling all samples instead would make the median jump between
    operations of very different length, such as two composites."""
    k = len(op_s) // passes
    per_op = [[x for x in op_s[j::k] if x == x] for j in range(k)]
    return statistics.median(statistics.median(xs) for xs in per_op if xs)


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    cpus = len(os.sched_getaffinity(0))
    loadavg = os.getloadavg()[0]

    classes, source_sha = build.build(root)
    jars = build.spark_jars(root)
    data = os.path.join(root, build.BUILD_DIR, "data")
    if a.workload == "medallion_day":
        inputs = os.path.join(data, f"bronze-s{a.seed}-n{EVENTS_PER_HOUR}-{digest(gen_bronze)}")
        manifest, gen_s = cached(inputs, make_bronze(a.seed))
        sizes = {k: manifest[k] for k in ("valid", "malformed", "gz_bytes", "raw_bytes")}
    else:
        inputs = os.path.join(data, f"lake-s{a.seed}-sf{LAKE_SF}-{digest(gen_lake)}")
        manifest, gen_s = cached(inputs, lambda tmp: gen_lake.generate(tmp, a.seed, LAKE_SF))
        sizes = manifest["rows"]
    log(f"inputs ready ({gen_s:.1f}s generating)")

    work = os.path.join(root, build.BUILD_DIR, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "out.json")
    args = ["--workload", a.workload, "--inputs", inputs, "--work", os.path.join(work, "lake"),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus),
            "--out", out, "--valid", str(manifest.get("valid", 0))]
    code = jvm(root, classes, jars, args, work, os.path.join(work, "jvm.log"),
               timeout=max(10.0, RUN_LIMIT_S - (time.time() - T0)))
    if code != 0 or not os.path.exists(out):
        log(f"harness JVM failed (exit {code}); log: {work}/jvm.log")
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        sys.exit(1)
    r = json.load(open(out))
    # a failed operation's time is NaN, which the JVM writes as "NaN"
    for k in ("op_s", "pass_s"):
        r[k] = [float(x) for x in r[k]]
    attempted, failures = r["attempted"], list(r["failures"])

    if a.workload != "medallion_day":
        n, bad = oracle_check(root, inputs, r["extra"]["results_dir"])
        attempted += n
        failures += bad

    op, ps = summary(r["op_s"]), summary(r["pass_s"])
    e2e = {"setup_s": r["setup_s"], "pass_s": ps.get("median"),
           "op_p50_s": op_p50(r["op_s"], len(r["pass_s"]))}
    ref_rows = None
    if a.trace:
        layers = {m["name"]: 0.0 for m in spec["per_layer"]}
        layers.update(r["layers"])
        # traced pass minus the mean of the untraced passes just before and
        # after it, which cancels the warming trend between passes
        x = r["extra"]
        layers["trace.overhead_pass_s"] = x["traced_pass_s"] - (r["pass_s"][-1] + x["post_pass_s"]) / 2
        n_op = len(x["traced_op_s"])
        layers["trace.overhead_op_p50_s"] = op_p50(x["traced_op_s"], 1) - (
            op_p50(r["op_s"][-n_op:], 1) + op_p50(x["post_op_s"], 1)) / 2
        if a.workload == "medallion_day":
            s, g, ref_rows = duckdb_reference(os.path.join(inputs, "day"), work, cpus,
                                              gen_bronze.DAY)
            layers["duckdb_ref.silver_s"] = s
            layers["duckdb_ref.gold_s"] = g
            layers["duckdb_ref.spark_ratio"] = layers["pipeline.cron_day_s"] / (s + g)
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus, "loadavg_entry": loadavg, "loadavg_exit": os.getloadavg()[0],
        "git_commit": git_commit(root), "source_sha256": source_sha,
        "versions": dict(r["versions"], duckdb=duckdb.__version__,
                         python=sys.version.split()[0]),
        "input_sizes": sizes, "generation_s": gen_s,
        "lake_fs": "local disk under .bench_build/work (lake roots, checkpoints, "
                   "SPARK_LOCAL_DIRS)",
        "samples": {"op_s": op, "pass_s": ps, "passes": r["pass_s"]},
        "failures": failures[:20], "duckdb_ref_silver_rows": ref_rows,
        "metrics": {k: v["value"] for k, v in metrics.items()},
        "wall_s": time.time() - T0}
    line = json.dumps(artifact)
    with open(os.path.join(root, build.BUILD_DIR, "results.jsonl"), "a") as f:
        f.write(line + "\n")
    print(line)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
