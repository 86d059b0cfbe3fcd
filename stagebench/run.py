#!/usr/bin/env python3
"""Stage benchmark for the graft engine.

    python3 stagebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine's main
sources together with the harness (sbt, into stagebench/target) and
re-builds whenever a source changes. Each run then starts one JVM that
sets up (Spark session on local[N], seeded inputs, one untimed warm-up
pass), runs passes of the workload back to back for `--seconds`, and
writes its full result to stagebench/out/. Then every query and pipeline
result of every pass is compared with its DuckDB oracle on the same
generated inputs. The last line of stdout is the result as one JSON
object; the exit code is non-zero when any operation failed or any
output was wrong.

With --trace 0 the metrics are the end-to-end ones (BENCHMARK.json
`end_to_end`); with --trace 1 they are the per-layer ones, taken from
the traced passes, which interleave with untraced ones.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "stagebench.stamp")
WORKLOADS = ("dedup_iter", "rag_eval", "eval_ledger")
# the JVM's set-up and warm-up, and the last pass that overruns --seconds
JVM_FIXED_S = 120
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[stagebench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
        files += glob.glob(os.path.join(base, "**", "*.java"), recursive=True)
    return sorted(files)


def spark_jars():
    """The Spark jars the engine builds and runs on: $SPARK_HOME/jars,
    else the `unmanagedBase` the engine's own build.sbt names."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            cands.append(m.group(1))
    except OSError:
        pass
    return next((c for c in cands if glob.glob(os.path.join(c, "*.jar"))), None)


def build():
    """Compile when the sources differ from the last successful build."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ, STAGEBENCH_SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    log("building (sbt compile)")
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   cwd=HERE, env=env, stdout=sys.stderr, check=True,
                   timeout=BUILD_TIMEOUT_S)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")


def run_jvm(workload, seed, seconds, trace, work, result):
    jars = spark_jars()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # a fixed heap: no heap-growth phase during the measured passes
        "-Xms2g", "-Xmx2g",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", f"{CLASSES}:{jars}/*",
        "stagebench.Main", workload, str(seed), str(seconds), str(trace),
        os.path.join(HERE, "fixtures"), work, result,
    ]
    subprocess.run(cmd, cwd=work, stdout=sys.stderr, check=True,
                   timeout=JVM_FIXED_S + 2 * seconds)


def norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return repr(v)


def canonical(df):
    """Columns sorted by name, rows as sorted tuples of exact reprs."""
    cols = sorted(df.columns)
    rows = sorted(tuple(norm_cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    return cols, rows


def check_counts(con, res):
    """Compare every pass's one-row `extra` values (the pipeline's stage
    counts) with their DuckDB oracle, and check that they shrink stage
    by stage. Returns (checks attempted, list of failures)."""
    attempted, failures = 0, []
    for name, sql in sorted(res["count_oracles"].items()):
        t0 = time.time()
        try:
            df = con.sql(sql).df()
            want = {c: int(df[c][0]) for c in df.columns}
        except Exception as e:  # an oracle error fails every check of it
            want = e
        log(f"oracle {name} counts: {time.time() - t0:.1f} s")
        for p in res["passes"]:
            if name not in p["results"]:
                continue  # the call itself failed; already counted
            attempted += 1
            op = f"pass_{p['index']}/{name}/counts"
            if isinstance(want, Exception):
                failures.append({"op": op, "error": f"oracle error: {want}"})
                continue
            got = [int(p["extra"].get(c, -1)) for c in want]
            if got != list(want.values()):
                failures.append({"op": op, "error":
                                 f"counts {got} != oracle {list(want.values())}"})
            elif got != sorted(got, reverse=True):
                failures.append({"op": op, "error": f"counts {got} grow"})
    return attempted, failures


def check_oracles(res):
    """Compare every pass's query and pipeline results with the DuckDB
    oracle over the same inputs; each oracle runs once per run.
    Returns (checks attempted, list of failures)."""
    if not res["oracles"] and not res["count_oracles"]:
        return 0, []
    import duckdb
    con = duckdb.connect()
    for table in res["inputs"]:
        path = os.path.join(res["inputs_dir"], f"{table}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    attempted, failures = check_counts(con, res)
    for name, sql in sorted(res["oracles"].items()):
        t0 = time.time()
        try:
            want = canonical(con.sql(sql).df())
        except Exception as e:  # an oracle error fails every check of it
            want = e
        log(f"oracle {name}: {time.time() - t0:.1f} s")
        for p in res["passes"]:
            path = p["results"].get(name)
            if path is None:
                continue  # the query itself failed; already counted
            attempted += 1
            op = f"pass_{p['index']}/{name}/oracle"
            if isinstance(want, Exception):
                failures.append({"op": op, "error": f"oracle error: {want}"})
                continue
            # a partitioned result (the pipeline's split=...) reads its
            # partition column back from the directory names
            got = canonical(con.sql(
                f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
                f"hive_partitioning = true)").df())
            if got[0] != want[0]:
                failures.append({"op": op, "error": f"columns {got[0]} != {want[0]}"})
            elif got[1] != want[1]:
                bad = sum(a != b for a, b in zip(got[1], want[1]))
                failures.append({"op": op, "error":
                                 f"{len(got[1])} rows vs oracle {len(want[1])}, "
                                 f"{bad} differ"})
    return attempted, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in (ENGINE_SRC, os.path.join(HERE, "fixtures"))
               if not os.path.isdir(p)]
    if not spark_jars():
        missing.append("Spark jars (SPARK_HOME)")
    if missing:
        log(f"cannot run: missing {', '.join(missing)}")
        return 2

    build()
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        try:
            run_jvm(a.workload, a.seed, a.seconds, a.trace, work, result)
        except subprocess.SubprocessError as e:
            # no result to report: record the cause and fail the run
            with open(result, "w") as fh:
                json.dump({"failures": [{"op": "jvm", "error":
                                         f"{type(e).__name__}: {e}"}]}, fh)
            log(f"FAILED jvm: {type(e).__name__}: {e}")
            return 1
        t1 = time.time()
        with open(result) as fh:
            res = json.load(fh)
        checks, bad = check_oracles(res)
        log(f"jvm {t1 - t0:.1f} s, oracle checks {time.time() - t1:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = res["failures"] + bad
    res["oracle_checks"] = checks
    res["failures"] = failures
    with open(result, "w") as fh:
        json.dump(res, fh, indent=1)
    for f in failures[:20]:
        log(f"FAILED {f['op']}: {f['error']}")
    metrics = res["per_layer"] if a.trace else res["metrics"]
    line = {"correct": not failures,
            "attempted": res["attempted"] + checks,
            "failed": len(failures),
            "metrics": metrics}
    print(json.dumps(line))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
