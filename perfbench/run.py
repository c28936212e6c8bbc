#!/usr/bin/env python3
"""Benchmark of the graft ETL engine and a hot slice of its query catalog.

Run from the repository root:

    python3 perfbench/run.py --workload etl_deep --seed 1 --seconds 1 --trace 0

Workloads: etl_deep, catalog_hot (see perfbench/README.md).
The first run builds the program and the benchmark from source with sbt
(offline) and caches the classpath under perfbench/.work; later runs
start one JVM on that classpath. `--trace 0` prints the end-to-end
metrics, `--trace 1` the per-layer metrics. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. The exit
code is non-zero when any output is wrong or a workload would time a
no-op.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
WORK = BENCH / ".work"
# the catalog's fixed test tables at scale factor 0.01, one parquet file each
CATALOG_DATA = BENCH / "testdata" / "sf0.01"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def driver_mem() -> str:
    """The tier-1 SPARK_DRIVER_MEM rule: half the RAM in GiB, 2..8."""
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
                return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def source_hash(repo: Path) -> str:
    h = hashlib.sha256()
    files = [repo / "build.sbt", BENCH / "build.sbt"]
    for root in (repo / "src" / "main", BENCH / "src", repo / "project", BENCH / "project"):
        files += sorted(p for p in root.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in files:
        h.update(str(p.relative_to(repo)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath(repo: Path) -> str:
    """Compiles the program and the benchmark once per source state."""
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    want = source_hash(repo)
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = WORK / "build.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                               stdout=subprocess.PIPE, stderr=out, text=True,
                               timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    out_lines = [line for line in r.stdout.splitlines() if line.strip()]
    if r.returncode != 0 or not out_lines:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = out_lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(want)
    return cp


def jvm(cp: str, args: list, log: Path) -> dict:
    # scratch space (Spark blocks and shuffle files, JVM temp files) stays
    # inside the checkout
    tmp, local = WORK / "tmp", WORK / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{driver_mem()}", "-XX:MetaspaceSize=2g", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               env=dict(os.environ, SPARK_LOCAL_DIRS=str(local)),
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out; see {log}")
    lines = [line for line in r.stdout.splitlines() if line.startswith("{")]
    if r.returncode != 0 or not lines:
        fail(f"benchmark JVM failed (exit {r.returncode}); see {log}")
    return json.loads(lines[-1])


def oracle_mismatches(repo: Path, work: Path) -> dict:
    """DuckDB oracle compare of the catalog results, with the canon of
    scripts/precheck.py: query name -> problem."""
    spec = importlib.util.spec_from_file_location("precheck", repo / "scripts" / "precheck.py")
    precheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(precheck)
    import duckdb
    con = duckdb.connect()
    out = work / "catalog-out"
    for t in precheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{CATALOG_DATA}/{t}.parquet'")
    bad = {}
    for name, sql in json.loads((out / "oracle_sql.json").read_text()).items():
        try:
            a = precheck.canon(con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'").df())
            b = precheck.canon(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001 - any engine error is a failed check
            bad[name] = f"oracle error: {e}"
            continue
        if list(a.columns) != list(b.columns):
            bad[name] = f"schema differs: {list(a.columns)} vs {list(b.columns)}"
        elif len(a) != len(b):
            bad[name] = f"row count differs: spark {len(a)}, duckdb {len(b)}"
        elif not a.equals(b):
            bad[name] = f"{int((a != b).any(axis=1).sum())}/{len(a)} rows differ"
    return bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_deep", "catalog_hot"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    repo = Path.cwd()
    if not (repo / "build.sbt").is_file() or not (repo / "src" / "main" / "scala").is_dir():
        fail("run from the repository root: the program's sources are not here")
    cp = classpath(repo)
    cores = len(os.sched_getaffinity(0))
    WORK.mkdir(parents=True, exist_ok=True)
    res = jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--cores", str(cores), "--repo", str(repo),
                   "--work", str(WORK), "--data", str(CATALOG_DATA)], WORK / f"{a.workload}.log")
    problems = list(res.get("problems", []))

    if a.workload == "catalog_hot" and not problems:
        runs = json.loads((WORK / "catalog-out" / "passes.json").read_text())
        for name, why in sorted(oracle_mismatches(repo, WORK).items()):
            problems.append(f"{name}: {why}")
            res["failed"] += runs.get(name, 1)

    declared = json.loads((repo / "BENCHMARK.json").read_text()) \
        if (repo / "BENCHMARK.json").is_file() else None
    if declared is not None:
        want = {m["name"] for m in declared["per_layer" if a.trace else "end_to_end"]}
        if want != set(res["metrics"]):
            problems.append(f"metrics differ from BENCHMARK.json: {sorted(want ^ set(res['metrics']))}")

    for p in problems:
        print(f"perfbench: FAIL {p}", file=sys.stderr)
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
