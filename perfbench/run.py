#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  It builds the program and the harness from
source into ``.bench_build`` (skipped when the sources are unchanged),
generates the workload's inputs from the seed, runs the workload in one
JVM (``perfbench/harness``), checks every output against an answer the
program did not compute, and prints the metrics.  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics untraced, the per-layer metrics with
``--trace 1``).  A thrown call or a failed check is never timed, counts in
``failed`` and makes the exit code 1.  See ``perfbench/SPEC.md``.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SUITE_DATA = os.path.join(HERE, "data", "sf0.01")
DEADLINE_S = 170  # the whole run, build excluded

# Input sizes: both imports hold the same rows, split into few large files
# or many small ones.
WORKLOADS = {
    "import_bulk": {"files": 2, "rows_per_file": 4000},
    "import_many": {"files": 8, "rows_per_file": 1000},
    "suite": {},
}
# Metric names and units: BENCHMARK.json at the repository root.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _spec = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _spec["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _spec["per_layer"]}
# The traced spans directly under an iteration must cover its wall time to
# within this share, or the trace does not reconcile and the run fails.
SPAN_SHARE = 0.05


def spark_jars():
    """``$SPARK_HOME/jars``, else the installed pyspark package's jars."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        import pyspark
        home = os.path.dirname(pyspark.__file__)
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"no Spark jars under {jars}; set SPARK_HOME")
    return os.path.join(jars, "*")


def scalac(sources, classpath, dest, log, depends=""):
    """Compile ``sources`` into ``dest`` unless its stamp (sources,
    classpath and the stamp of what it ``depends`` on) matches; returns
    the stamp."""
    digest = hashlib.sha256(depends.encode())
    for path in sources:
        digest.update(path.encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    digest.update(classpath.encode())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(dest, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", tmp] + sources
    with open(log, "w") as fh:
        if subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode != 0:
            sys.exit(f"build failed, see {log}")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    return stamp


def build():
    """Program classes from ``src/main/scala``, harness classes from
    ``perfbench/harness``; returns the run classpath."""
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        sys.exit("no program sources under src/main/scala")
    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    prog_dir = os.path.join(BUILD, "classes", "program")
    stamp = scalac(program, jars, prog_dir, os.path.join(BUILD, "build-program.log"))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    harness_dir = os.path.join(BUILD, "classes", "harness")
    scalac(harness, prog_dir + os.pathsep + jars, harness_dir,
           os.path.join(BUILD, "build-harness.log"), depends=stamp)
    return os.pathsep.join([harness_dir, prog_dir, jars])


def jvm_command(classpath, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xmn1g",
             "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={args['work']}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
            ["-cp", classpath, "perfbench.Harness"] +
            [x for k, v in args.items() for x in (f"--{k}", str(v))])


# ------------------------------------------------------------------ checks

def check_import(con, out_dir, expected):
    """Per-(table, klass) count and checksum of the written records."""
    got = {}
    for table in ("registrations", "reports"):
        rows = con.execute(f"""
            SELECT klass, count(*),
              sum(('0x' || substr(md5(klass || chr(31) ||
                array_to_string(list_sort(list_transform(map_entries(fields),
                  e -> e.key || '=' || e.value)), chr(30)) ||
                chr(31) || CAST("index" AS VARCHAR)), 1, 15))::BIGINT)
            FROM read_parquet('{out_dir}/{table}/*.parquet') GROUP BY klass""").fetchall()
        for klass, n, cs in rows:
            got[f"{table}/{klass}"] = {"count": n, "checksum": str(cs)}
    if got != expected["records"]:
        return f"records differ from the generator's: got {got}"
    return None


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(tuple(str(v) for v in r) for r in df.itertuples(index=False))
    return hashlib.md5(repr(rows).encode()).hexdigest(), len(rows), sorted(df.columns)


def check_query(con, out_dir, sql):
    """The DuckDB oracle's answer where there is one, else rows > 0."""
    got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").fetchdf()
    if sql is None:
        return None if len(got) > 0 else "no rows"
    h1, n1, c1 = canon(got)
    h2, n2, c2 = canon(con.execute(sql).fetchdf())
    if c1 != c2:
        return f"columns {c1} vs oracle {c2}"
    if n1 != n2:
        return f"{n1} rows vs oracle {n2}"
    return None if h1 == h2 else f"{n1} rows differ from the oracle's"


# ----------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    t_start = time.time()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = os.path.join(work, "input"), os.path.join(work, "out")
    for d in (inputs, out, os.path.join(work, "tmp")):
        os.makedirs(d)

    cfg = WORKLOADS[a.workload]
    t0 = time.perf_counter()
    if a.workload == "suite":
        import pyarrow.parquet as pq
        inputs, expected = SUITE_DATA, None  # fixed driver tables; the seed selects nothing
        input_rows = sum(pq.read_metadata(t).num_rows
                         for t in glob.glob(os.path.join(SUITE_DATA, "*.parquet")))
    else:
        expected = gen.registry_drop(inputs, a.seed, cfg["files"], cfg["rows_per_file"])
        input_rows = expected["input_rows"]
    gen_s = time.perf_counter() - t0

    args = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
            "input": inputs, "out": out, "work": work,
            "cores": len(os.sched_getaffinity(0))}
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(jvm_command(classpath, args), stdout=fh,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=DEADLINE_S - (time.time() - t_start))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"{a.workload}: JVM over its time limit, see {log}")
    if code != 0:
        sys.exit(f"{a.workload}: JVM exited {code}, see {log}")
    with open(os.path.join(out, "result.json")) as fh:
        r = json.load(fh)

    # Checks, outside every timed region.  A failed check fails the ops
    # whose output it judged (a suite query: all its calls).
    import duckdb
    con = duckdb.connect()
    failures = {}
    for op in r["ops"]:
        if op["error"]:
            failures[(op["name"], op["pass"])] = op["error"]
    if a.workload == "suite":
        for t in glob.glob(os.path.join(SUITE_DATA, "*.parquet")):
            name = os.path.basename(t)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
        for op in r["ops"]:
            if op["output"]:
                try:
                    err = check_query(con, op["output"], r["oracles"].get(op["name"]))
                except Exception as e:  # an oracle that cannot run is a failed check
                    err = f"check error: {e}"
                if err:
                    for o in r["ops"]:
                        if o["name"] == op["name"]:
                            failures[(o["name"], o["pass"])] = err
    else:
        for op in r["ops"]:
            if op["output"]:
                err = check_import(con, op["output"], expected)
                if err:
                    failures[(op["name"], op["pass"])] = err

    bad_passes = {p for (_, p) in failures}
    timed = [it for it in r["iterations"] if it["pass"] not in bad_passes]
    plain = [it["seconds"] for it in timed if not it["traced"]]
    traced = [it for it in timed if it["traced"]]
    ok_ops = [op for op in r["ops"] if op["pass"] >= 0 and not op["traced"]
              and (op["name"], op["pass"]) not in failures]

    metrics = {}
    if a.trace == 0 and plain:
        wall = statistics.median(plain)
        # per-call latencies: a suite query's median over passes; an
        # import's single call per iteration as it is
        per_query = {}
        for op in ok_ops:
            per_query.setdefault(op["name"], []).append(op["seconds"])
        qtimes = ([statistics.median(v) for v in per_query.values()]
                  if a.workload == "suite" else [op["seconds"] for op in ok_ops])
        values = {"setup_s": gen_s + r["jvm_setup_s"], "wall_s": wall,
                  "rows_per_s": input_rows / wall,
                  "query_p50_s": quantile(qtimes, 0.5), "query_p90_s": quantile(qtimes, 0.9),
                  "peak_rss_mb": r["peak_rss_mb"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    elif a.trace == 1 and traced and plain:
        values = {k: statistics.median(it["layers"].get(k, 0.0) for it in traced)
                  for k in PER_LAYER}
        values["trace.overhead_frac"] = (
            statistics.median(it["seconds"] for it in traced) / statistics.median(plain) - 1)
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        coverage = values["trace.span_coverage"]
        if abs(1 - coverage) > SPAN_SHARE:
            failures[("trace", -1)] = (f"spans cover {coverage:.3f} of the iteration, "
                                       f"outside the {SPAN_SHARE} share")
        with open(os.path.join(out, "spans.json")) as fh:
            spans = json.load(fh)
        print(json.dumps({"spans": len(spans), "file": os.path.join(out, "spans.json")}))

    if a.workload == "suite":
        sidecar = []
        for name in dict.fromkeys(op["name"] for op in r["ops"]):
            calls = [op for op in r["ops"] if op["name"] == name and op["pass"] >= 0]
            ok = [op for op in calls if (name, op["pass"]) not in failures]
            counted = [op for op in calls if op["traced"]] or calls
            sidecar.append({
                "name": name, "module": calls[0]["module"],
                "status": next((e for (n, _), e in failures.items() if n == name), "ok"),
                "time_s": statistics.median(op["seconds"] for op in ok) if ok else None,
                "jobs": counted[0]["jobs"], "tasks": counted[0]["tasks"],
                "shuffle_bytes": counted[0]["shuffle_bytes"]})
        print(json.dumps({"sidecar": sidecar}))

    # a traced run's reconciliation is one more operation
    attempted = len(r["ops"]) + a.trace
    failed = len(failures)
    correct = not failures and bool(metrics)
    for (name, p), err in sorted(failures.items(), key=str):
        print(f"FAIL {a.workload} {name} pass {p}: {err}")
    for k, m in metrics.items():
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} check: {'PASS' if correct else 'FAIL'}; "
          f"failed_frac = {failed}/{attempted} = {failed / attempted:.4f}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
