#!/usr/bin/env python3
"""Benchmark of the extraction job and the query catalog.

Run from the repository root:

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 10 --trace 0

It builds the harness together with the repository's sources (once per
source change), generates the seeded inputs, runs the workload in one JVM
on `local[nproc]`, checks the outputs and prints one JSON object as the
last line of standard output. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ["extract_bulk", "extract_html_skew"]
# scale of the catalog tables the traced run's catalog pass reads
# (200 documents, 600 orders, 2,400 line items)
CATALOG_SCALE = 0.004
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# every run ends within this many seconds after the build, or fails
RUN_BUDGET_S = 170

sys.stdout.reconfigure(encoding="utf-8")
sys.stderr.reconfigure(encoding="utf-8")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return files


def spark_home():
    """$SPARK_HOME, or the first Spark distribution (a directory with
    bin/spark-submit and jars/) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) \
                and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("perfbench: set SPARK_HOME to a Spark distribution")


def build():
    """Compile the harness and the repository's main sources with sbt,
    unless the classes were built from exactly these sources."""
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "**", "*.scala"),
                     recursive=True):
        raise SystemExit("perfbench: run from the repository root (no src/main/scala/graft)")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building the harness and the repository sources with sbt")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w", encoding="utf-8") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (see {WORK}/build.log)")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def prune(prefix, keep=3):
    """Keep only the `keep` most recent cached inputs with this prefix."""
    dirs = sorted(glob.glob(os.path.join(WORK, "inputs", prefix + "*")),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def catalog_tables(name, seed, scale):
    """Seeded catalog tables, cached by seed and scale."""
    import catalog_data
    d = os.path.join(WORK, "inputs", f"{name}-s{seed}")
    if not os.path.exists(os.path.join(d, "_complete")):
        shutil.rmtree(d, ignore_errors=True)
        catalog_data.generate(d, seed, scale)
        open(os.path.join(d, "_complete"), "w").close()
    os.utime(d)
    return d


def oracle_failures(tables, out_dir):
    """Compare each query's rows with its oracle SQL under DuckDB, with the
    comparison tools/check_oracle.py makes. Returns the failing queries.

    q_kcore_peel's oracle SQL nests four rounds of CTEs, which DuckDB
    re-expands instead of materializing: it runs for minutes even on 200
    documents. Its graph is built from doc_id arithmetic alone, so its rows
    depend only on the documents row count; they are compared with the
    oracle's rows for that count, computed once and kept in
    golden/q_kcore_peel.json."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    with open(os.path.join(out_dir, "oracle_sql.json"), encoding="utf-8") as fh:
        oracle = json.load(fh)
    bad = []
    with open(os.path.join(HERE, "golden", "q_kcore_peel.json"), encoding="utf-8") as fh:
        golden = json.load(fh)
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    for name, sql in sorted(oracle.items()):
        try:
            got = co.rows_of(con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
            if name == "q_kcore_peel":
                g = golden[str(n_docs)]
                want = (g["columns"], None, [tuple(r) for r in g["rows"]])
            else:
                want = co.rows_of(con.sql(sql))
            ok = got[0] == want[0] and got[2] == want[2]
        except Exception as e:  # a query that cannot be compared is a failure
            log(f"oracle {name}: {e}")
            ok = False
        if not ok:
            log(f"oracle mismatch: {name}")
            bad.append(name)
    return bad


def plant_wrong_row(out_dir):
    """Change one value in one query's output: the planted wrong row."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    for name in sorted(os.listdir(out_dir)):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        t = pq.read_table(files[0]) if files else None
        if t is not None and t.num_rows > 0:
            col = t.column(0).to_pylist()
            col[0] = None
            t = t.set_column(0, t.schema.field(0), pa.array(col, t.schema.field(0).type))
            pq.write_table(t, files[0])
            return


def harness(cmd, run_dir, env, log_name, deadline):
    """Run the JVM harness to completion by `deadline`, or fail the run."""
    log_path = os.path.join(run_dir, log_name)
    with open(log_path, "w", encoding="utf-8") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: harness timed out (see {log_path})")
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if rc != 0:
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {rc} (see {log_path})")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "smoke"], default="full",
                   help="input size; smoke is for the benchmark's own tests")
    p.add_argument("--plant-wrong-row", action="store_true",
                   help="feed the output check one wrong row (tests only)")
    a = p.parse_args()
    # a terminated run stops its JVM too (see harness)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    os.makedirs(os.path.join(WORK, "inputs"), exist_ok=True)
    build()
    deadline = time.monotonic() + RUN_BUDGET_S
    sys.path.insert(0, HERE)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.size}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))

    prune(f"{a.workload}-{a.size}-")
    prune("catalog-")
    catalog = catalog_tables("catalog", a.seed, CATALOG_SCALE) if a.trace else "-"

    cp = CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")
    jvm = ([x for o in JAVA_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
              "-Dfile.encoding=UTF-8", "-cp", cp])
    args = ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--size", a.size,
            "--work", run_dir, "--inputs", os.path.join(WORK, "inputs"),
            "--catalog", catalog, "--plant", "1" if a.plant_wrong_row else "0"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    # the inputs are built (or found in the cache) by a JVM of their own,
    # so the measuring JVM starts without the generator's JIT profile
    described = os.path.join(WORK, "inputs", f"{a.workload}-{a.size}-s{a.seed}",
                             "_describe.txt")
    if not os.path.exists(described):
        harness(["java", "-Xmx2g"] + jvm + args + ["--inputs-only", "1"], run_dir, env,
                "inputs.log", deadline)
    # the measuring JVM's fixed, pre-touched heap keeps peak RSS from
    # following the heap-sizing heuristics run to run
    harness(["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"] + jvm + args
            + ["--inputs-only", "0"], run_dir, env, "harness.log", deadline)
    with open(os.path.join(run_dir, "result.json"), encoding="utf-8") as fh:
        r = json.load(fh)

    attempted, failed = r["attempted"], r["failed"]
    if a.trace:
        # the traced run's catalog pass: one checked operation per query
        out_dir = os.path.join(run_dir, "oracle_out")
        if a.plant_wrong_row:
            plant_wrong_row(out_dir)
        with open(os.path.join(out_dir, "oracle_sql.json"), encoding="utf-8") as fh:
            attempted += len(json.load(fh))
        failed += len(oracle_failures(catalog, out_dir))

    # the metric names and units are the ones BENCHMARK.json declares
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    shown = {m["name"]: {"value": r["metrics"][m["name"]], "unit": m["unit"]}
             for m in declared}
    correct = failed == 0 and all(
        isinstance(m["value"], (int, float)) for m in shown.values())
    if a.trace:
        log(f"trace files in {os.path.join(run_dir, 'trace')}")
    log("input: " + json.dumps(r["input"]))
    log(f"setups_s={r['setups_s']} op_s={r['op_s']} share_op_s={r['share_op_s']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": shown}, ensure_ascii=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
