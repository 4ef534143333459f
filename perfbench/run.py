#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. Builds the program and the
benchmark driver from source (perfbench/build.sbt, cached under
.bench_build/ by a source fingerprint), generates the fixed seed-42
fixture, runs one workload in one JVM on `local[nproc]`, checks every
output, and prints the result as one JSON object on the last line of
stdout. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are its per-layer metrics, and the
spans are written next to the result file under .bench_build/results/.

Exit status: 0 when every output was correct; 1 on a wrong output (the
result line is still printed, with "correct": false); 2 when the
benchmark could not run at all (no result line).
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import fixture  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("medallion_batch", "serve_ingest")
# Scale factor of the generated base fixture (lineitem = 6 000 000 * SF).
FIXTURE_SF = 0.01
FIXTURE_SEED = 42
DRIVER_HEAP = "3g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600
MAIN_CLASS = "graftbench.Main"
MINT_SOURCES = [os.path.join("src", "main", "scala", "graft", f) for f in
                ("tools/MintSf.scala", "Tables.scala")]
E1_TWINS = {"b_performance_metrics": "q_performance_metrics",
            "b_product_performance": "q_product_performance",
            "b_profitability_kpi": "q_profitability_kpi",
            "b_sales_kpi": "q_sales_kpi",
            "b_customer_retention": "q_customer_retention"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_fingerprint(root):
    h = hashlib.sha256()
    files = []
    for top in (os.path.join(root, "src", "main"), HERE):
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")
                       or d != HERE]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt"))]
    files.append(os.path.join(HERE, "project", "build.properties"))
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            die("no SPARK_HOME and no spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(submit)))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, state):
    """Compile program + driver into a jar unless the source fingerprint
    is cached; returns the runtime classpath."""
    stamp = os.path.join(state, "build.json")
    fp = source_fingerprint(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            have = json.load(f)
        if have.get("fingerprint") == fp and os.path.isfile(
                have["classpath"].split(os.pathsep)[0]):
            return have["classpath"]
    log = os.path.join(state, "logs", "build.log")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    with open(log, "w") as out:
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        die(f"build failed (exit {p.returncode}); see {log}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def verify_fixture(base, rows):
    import pyarrow.parquet as pq
    for t, want in rows.items():
        got = pq.ParquetFile(os.path.join(base, f"{t}.parquet")).metadata.num_rows
        if got != want:
            die(f"fixture drift: {t} has {got} rows, expected {want}")


def run_jvm(classpath, args, state, tag):
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{DRIVER_HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath] + opens + [MAIN_CLASS] + args)
    log = os.path.join(state, "logs", f"{tag}.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"driver JVM timed out after {JVM_TIMEOUT_S} s; see {log}")
    if p.returncode != 0:
        die(f"driver JVM exited {p.returncode}; see {log}")


def cpu_steal():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def load_compare(root):
    """tools/compare.py, imported as-is: its normalisation and hash."""
    path = os.path.join(root, "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("graft_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frame_hash(compare, df):
    """compare.py's order-insensitive hash of a frame: its normalisation
    (`norm_df`, as-is), then the same row serialisation as its
    `df_hash`, read with itertuples instead of iterrows (same bytes,
    a fraction of the time on 10^5 rows)."""
    n = compare.norm_df(df)
    h = hashlib.sha256()
    for row in n.itertuples(index=False, name=None):
        h.update(("\x01".join("" if v is None else str(v) for v in row)
                  + "\n").encode())
    return {"rows": len(df), "columns": sorted(df.columns),
            "hash": h.hexdigest()}


def output_summary(compare, path):
    """Columns, row count and hash of a Spark output directory."""
    import pandas as pd
    files = sorted(f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                        recursive=True) if os.path.isfile(f))
    if not files:
        return None
    return frame_hash(compare, pd.concat(
        [pd.read_parquet(f) for f in files], ignore_index=True))


def twin_results(compare, mint, names_sql, key, state):
    """Row count and hash of each DuckDB twin over the mint, cached per
    (mint key, SQL)."""
    import duckdb
    out, todo = {}, {}
    cache = os.path.join(state, "twins")
    os.makedirs(cache, exist_ok=True)
    for name, sql in names_sql.items():
        k = hashlib.sha256((key + name + sql).encode()).hexdigest()[:24]
        f = os.path.join(cache, f"{name}-{k}.json")
        if os.path.exists(f):
            with open(f) as fh:
                out[name] = json.load(fh)
        else:
            todo[name] = (sql, f)
    if todo:
        con = duckdb.connect()
        for t in compare.TABLES:
            p = os.path.join(mint, f"{t}.parquet")
            if os.path.isdir(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{p}/*.parquet')")
            elif os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for name, (sql, f) in todo.items():
            r = frame_hash(compare, con.execute(sql).fetchdf())
            with open(f, "w") as fh:
                json.dump(r, fh)
            out[name] = r
    return out


def check_outputs(root, res, base_fp, state):
    """Oracle checks made outside the JVM. Returns failure messages and
    marks failed ops in `res`."""
    named = res["named"]
    outs = named.get("twin_outputs") or {}
    if not outs:
        return []
    compare = load_compare(root)
    # The mint is a deterministic function of the base fixture, the
    # multiplier and the minting code.
    h = hashlib.sha256(f"{base_fp}:{named['mult']}".encode())
    for src in MINT_SOURCES:
        with open(os.path.join(root, src), "rb") as f:
            h.update(f.read())
    twins = twin_results(compare, named["mint_dir"], named["oracle_sql"],
                         h.hexdigest(), state)
    fails = []
    for name, path in sorted(outs.items()):
        got = output_summary(compare, path)
        want = twins[name]
        if got is None:
            fails.append(f"{name}: no output")
        elif got["columns"] != want["columns"]:
            fails.append(f"{name}: columns {got['columns']} vs "
                         f"{want['columns']}")
        elif got["rows"] != want["rows"]:
            fails.append(f"{name}: {got['rows']} rows vs twin {want['rows']}")
        elif got["hash"] != want["hash"]:
            fails.append(f"{name}: hash differs from its DuckDB twin")
    if fails:
        # The checked output stands for every operation (each was
        # compared to it by digest inside the JVM).
        for op in res["ops"]:
            op["ok"] = False
    # E1 layer counts (of the checked run; every timed run matched them
    # inside the JVM) against the twins' row counts.
    for c in named.get("counts", []):
        want = {"r_campaigns": 1000, "r_transactions": 1000,
                "m_data_model": twins["q_master_model"]["rows"]}
        for b, q in E1_TWINS.items():
            want[b] = twins[q]["rows"]
        if c != want:
            fails.append(f"layer counts {c} != expected {want}")
            for op in res["ops"]:
                op["ok"] = False
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in (os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "compare.py")):
        if not os.path.exists(os.path.join(root, need)):
            die(f"not a graft checkout (no {need} under {root})")
    state = os.path.join(root, ".bench_build")
    for d in ("logs", "results"):
        os.makedirs(os.path.join(state, d), exist_ok=True)

    t_start = time.time()
    classpath = build(root, state)
    build_s = time.time() - t_start

    t_fix = time.time()
    base = os.path.join(state, "fixture", f"sf{FIXTURE_SF}")
    _, base_fp = fixture.ensure(base, FIXTURE_SF, FIXTURE_SEED)
    verify_fixture(base, fixture.row_counts(FIXTURE_SF))
    fixture_s = time.time() - t_fix

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(state, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "jvm_result.json")
    cores = nproc()
    t_jvm = time.time()
    steal0 = cpu_steal()
    try:
        run_jvm(classpath, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--base", base, "--work", work, "--out", out,
            "--cores", str(cores)],
            state, tag)
        jvm_s = time.time() - t_jvm
        steal1 = cpu_steal()
        with open(out) as f:
            res = json.load(f)
        fails = res["failures"] + check_outputs(root, res, base_fp, state)
    finally:
        # Keep only the result; the run's data directories go.
        keep = os.path.join(state, "results", f"{tag}.json")
        if os.path.exists(out):
            shutil.copy(out, keep)
        shutil.rmtree(work, ignore_errors=True)

    res["harness_s"] = {"build": build_s, "fixture": fixture_s,
                        "jvm": jvm_s, "total": time.time() - t_start}
    # Share of the machine's CPU time the hypervisor gave to others while
    # the JVM ran: context for a slow run.
    res["cpu_steal"] = ((steal1[0] - steal0[0]) /
                        max(1, steal1[1] - steal0[1]))
    res["driver_heap"] = DRIVER_HEAP
    res["check_failures"] = fails
    summary = metrics.summarize(res, traced=bool(a.trace))
    res["summary"] = summary
    with open(keep, "w") as f:
        json.dump(res, f, indent=1)

    print(metrics.render(a.workload, summary))
    for msg in fails[:20]:
        print(f"check failed: {msg}")
    counted = [op for op in res["ops"]
               if op["phase"] in ("", "baseline", "traced")]
    attempted = len(counted)
    failed = sum(1 for op in counted if not op["ok"])
    correct = not fails and failed == 0
    print(f"result file: {os.path.relpath(keep, root)}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": summary["contract"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
